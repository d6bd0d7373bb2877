package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list — the
  * cluster-assignment step that turns near-duplicate PAIRS (MinHash /
  * SimHash / embedding-cosine output) into dedup CLUSTERS with a
  * deterministic canonical representative per cluster. Pair detection
  * alone cannot drive a keep/drop decision at corpus scale: if A~B and
  * B~C, dropping one side of each pair independently can drop all three
  * documents or keep two near-dups. The component label (minimum doc id
  * reachable) gives every document exactly one cluster and one canonical
  * survivor.
  *
  * Algorithm: iterative min-label propagation to a fixed point. Each
  * round every vertex takes the minimum of its own label and its
  * neighbors' labels; the fixed point (label = min id in the component)
  * is unique, so the result is independent of iteration order, partition
  * layout, and round count — which is what makes it oracle-checkable
  * against a DuckDB recursive CTE without replaying the schedule.
  *
  * Scale design:
  *   - each round is one edge⨝label equi-join + min-aggregate (O(|E|)
  *     shuffle bytes, never the O(n²) pair space); a graph still
  *     unconverged after a few rounds has proven itself deep and
  *     additionally applies a label⨝label POINTER-JUMPING join per round
  *     (path compression: every vertex also takes its label's label,
  *     doubling the distance a minimum travels) — deep rounds =
  *     O(log diameter), not diameter, so long-chain similarity graphs
  *     (semantic-dedup clusters) converge in a handful of rounds instead
  *     of tens (the same O(log) regime as large-star/small-star —
  *     Kiveris et al., "Connected Components in MapReduce and Beyond",
  *     SoCC'14 — while keeping the min-label invariant trivially intact:
  *     labels only ever copy same-component ids), and shallow graphs —
  *     the overwhelming near-dup case — never pay for the second join;
  *   - per-round results are persisted and the previous round's cache is
  *     released as soon as its successor is materialized, so peak cache
  *     is 2 label tables + the symmetric edge list;
  *   - convergence is answered by a `max` over a `_changed` flag carried
  *     in the label table itself — ONE job per round that also
  *     materializes the round's cache; a driver-side boolean, never a
  *     collect of data rows.
  *
  * The returned label table reads from the final round's cache lazily;
  * callers that loop over corpora should `spark.catalog.clearCache()`
  * when done (Bench/Verify do), or release eagerly via [[withComponents]].
  */
object ConnectedComponents {

  /** Lineage-truncation cadence: each propagation round's plan stacks on
    * the previous round's, and while the per-round persist bounds
    * RECOMPUTATION, the plan object itself grows — and the pointer-jump
    * self-join references the round's table TWICE, so between truncations
    * plan text doubles per round (2^cadence copies of the edge
    * derivation). Every N rounds the label table is `localCheckpoint`ed,
    * cutting the logical plan back to a leaf over the materialized
    * partitions; 3 keeps the in-window factor at 8× while jumping keeps
    * total rounds at O(log diameter) anyway. */
  private val CheckpointEvery = 3

  /** First round that applies pointer jumping: shallow graphs (diameter
    * ≤ 3 — the typical near-dup shape) converge before this and never
    * pay the extra join; a graph still unconverged here is deep and
    * switches to the O(log diameter) regime. */
  private val JumpFrom = 4

  /** (id, component) for every vertex appearing in `edges` — an edge list
    * with columns `id_a`, `id_b` (undirected; orientation and duplicate
    * edges are normalized internally). `component` is the minimum vertex
    * id reachable from `id`.
    *
    * @param maxRounds safety valve for adversarial diameters; the fixed
    *                  point is reached (and the loop exits) long before
    *                  this on near-dup graphs. Hitting the valve THROWS
    *                  (`IllegalStateException`) rather than returning
    *                  partially-propagated labels — a caller must never
    *                  consume unconverged labels as final clusters.
    */
  def components(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    componentsWithCaches(edges, maxRounds)._1

  /** [[components]] plus the list of DataFrames this call left persisted
    * (the symmetric edge list and the final label table) so callers can
    * release them deterministically. */
  private def componentsWithCaches(edges: DataFrame,
      maxRounds: Int): (DataFrame, Seq[DataFrame]) = {
    // AQE is disabled for the LOOP's jobs (restored before returning):
    // every round is the same fixed join+agg shape over known
    // partitioning, and AQE's per-shuffle-stage materialize-and-replan
    // cycle costs ~1 s per round of pure scheduling at small scale
    // (measured: the round's join+agg on a cached few-hundred-row label
    // table runs 0.4 s with AQE off vs 1.6 s with it on). The caller's
    // setting governs the returned frame's downstream consumption — only
    // the propagation rounds opt out.
    val session = edges.sparkSession
    // persist the raw edges before building the symmetric list: the
    // union's two branches would otherwise each recompute the (often
    // expensive — e.g. a full MinHash pipeline) edge derivation. The
    // persist must be EAGER (count() below): a lazy persist only
    // populates per-partition at first touch, and the union's two
    // branches land in ONE stage whose concurrent tasks race-compute
    // the same partitions — profiled ~2× the whole upstream chain at
    // sf0.1 before the derivation was forced into its own job.
    val e = edges.select(col("id_a"), col("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    // With AQE opted out, the loop also sizes its own shuffle width from
    // the edge count the eager persist just measured (~500k edges per
    // partition, capped at the session width): a near-dup graph is tiny
    // relative to its corpus, and running every round as session-width
    // stages of near-empty tasks is pure scheduler overhead — measured
    // 3.5 s of the 4.5 s c1 total at sf0.1 under 32-partition rounds.
    // A 100 TB-scale edge list keeps the session width. Inside a
    // narrowed wave body the cap is that body's width, and the scope
    // restores it on return.
    ShuffleWidth.narrowed(session, nEdges / 500000 + 1) { _ =>
      componentsLoop(e, maxRounds)
    }
  }

  private def componentsLoop(e: DataFrame,
      maxRounds: Int): (DataFrame, Seq[DataFrame]) = {
    val sym = e.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(e.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // neighbor minimum: one equi-join + one min-aggregate (both
      // hash-partitioned on the join/group key — O(|E|) shuffle bytes)
      val neighborMin = sym.as("s")
        .join(labels.as("l"), col("s.dst") === col("l.id"))
        .groupBy(col("s.src").as("nid"))
        .agg(min(col("l.component")).as("ncomp"))
      // `_changed` rides INSIDE the label table so convergence is a ONE-JOB
      // max() aggregate over the frame being materialized anyway. The
      // previous probe (`next ⨝ old labels` + isEmpty) cost an extra join
      // per round AND isEmpty's incremental take(1) escalation (1→4→16→32
      // partitions = up to 4 jobs per round when the answer is "empty",
      // which on a converging graph it always eventually is) — profiled
      // ~1.7 s/round of pure scheduling on a 260-edge graph at sf0.1.
      val nm0 = labels.as("cur")
        .join(neighborMin, col("cur.id") === col("nid"), "left")
        .select(col("cur.id").as("id"),
          least(col("cur.component"), coalesce(col("ncomp"), col("cur.component")))
            .as("component"),
          (coalesce(col("ncomp"), col("cur.component")) < col("cur.component"))
            .as("_changed"))
      // POINTER JUMPING (path compression), ADAPTIVE: from round
      // [[JumpFrom]] on, each vertex also takes its label's label —
      // labels are always ids of same-component vertices (they start as
      // own ids and only ever copy neighbor labels), so the lookup stays
      // inside the component and the distance a label travels per round
      // DOUBLES instead of stepping by one. Without this, rounds =
      // component diameter, and a similarity graph full of long chains
      // (a4's semantic clusters — profiled 18.9 s for a 312-edge graph)
      // pays tens of near-empty scheduling rounds; with it, rounds =
      // O(log diameter). The fixed point is unchanged (the unique min-id
      // labeling), so every oracle replay is unaffected. Deferring the
      // jump keeps shallow graphs — the overwhelming near-dup case,
      // diameter ≤ 3 — on the original one-join rounds: a graph still
      // unconverged at JumpFrom has proven itself deep, and only then is
      // the extra join + persist per round worth paying (measured: an
      // unconditional jump cost shallow c1 ~2× for zero round savings).
      val (next0, roundCache) =
        if (round < JumpFrom) (nm0, None)
        else {
          // persisted: the jump SELF-joins this table — without the
          // persist the neighbor-min join would run twice per round (the
          // double plan reference is why CheckpointEvery is tight)
          val nm = nm0.persist(StorageLevel.MEMORY_AND_DISK)
          val jumped = nm.as("l")
            .join(nm.select(col("id").as("pid"), col("component").as("pcomp")),
              col("l.component") === col("pid"), "left")
            .select(col("l.id").as("id"),
              least(col("l.component"), coalesce(col("pcomp"), col("l.component")))
                .as("component"),
              (col("l._changed") ||
                coalesce(col("pcomp"), col("l.component")) < col("l.component"))
                .as("_changed"))
          (jumped, Some(nm))
        }
      // periodic localCheckpoint (eager) truncates the stacked round
      // lineage — see CheckpointEvery; the checkpointed partitions live in
      // executor storage and are released by the ContextCleaner when the
      // frame goes unreferenced (Dataset.unpersist is a no-op for them)
      val next =
        if (round % CheckpointEvery == 0) next0.localCheckpoint()
        else next0.persist(StorageLevel.MEMORY_AND_DISK)
      // materializes `next` into its cache and answers convergence in the
      // same single job (coalesce: an empty vertex set is converged)
      converged = !next
        .agg(coalesce(max(col("_changed")), lit(false)).as("c"))
        .head.getBoolean(0)
      roundCache.foreach(_.unpersist())
      labels.unpersist()
      labels = next
    }
    e.unpersist()
    if (!converged) {
      sym.unpersist(); labels.unpersist()
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds; " +
          "raise maxRounds (rounds needed = graph diameter) — returning " +
          "partially-propagated labels would silently merge or split clusters")
    }
    (labels.select(col("id"), col("component")), Seq(sym, labels))
  }

  /** One increment of ROLLING connected components — the star-collapse
    * identity packaged as the per-batch step a continuous ingest applies:
    * the current label table collapses to star edges (member → component
    * min-id), the increment's edges union in, and one [[components]] pass
    * over stars ∪ new edges yields the labels a from-scratch run over ALL
    * edges so far would emit. Collapsing a connected subgraph to a star
    * preserves the quotient connectivity, and min-id labels make the
    * collapsed run emit IDENTICAL labels — an identity, not an
    * approximation (oracle-proven by c13/c14). The signature is the
    * 100 TB contract: the step consumes ONLY the label table
    * (|clustered vertices| rows) and the increment's edges — historical
    * edges are unreachable from here by construction. */
  def incrementalStep(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val stars = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("id_a"), col("component").as("id_b"))
    components(stars.unionByName(newEdges.select(col("id_a"), col("id_b"))))
  }

  /** [[incrementalStep]] with a bounded cache lifecycle: runs `f` over
    * the advanced label table and releases every cache the CC pass
    * created before returning. Continuous per-micro-batch callers MUST
    * use this (or [[withComponents]]): each [[components]] call leaves
    * the symmetric edge list and final label table persisted, and a
    * foreachBatch loop calling the non-releasing form leaks ~2
    * CacheManager entries per batch without bound. `f` must materialize
    * anything it keeps (e.g. `localCheckpoint()`) — the frame's caches
    * are gone once this returns. */
  def incrementalStepWith[T](labels: DataFrame, newEdges: DataFrame)(
      f: DataFrame => T): T = {
    val stars = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("id_a"), col("component").as("id_b"))
    withComponents(
      stars.unionByName(newEdges.select(col("id_a"), col("id_b"))))(f)
  }

  /** Runs `f` over the component table and releases every cache this
    * operator holds before returning — the bounded-lifecycle twin of
    * [[components]] for callers outside Bench/Verify's clearCache loop. */
  def withComponents[T](edges: DataFrame, maxRounds: Int = 50)(
      f: DataFrame => T): T = {
    val (labels, caches) = componentsWithCaches(edges, maxRounds)
    try f(labels)
    finally caches.foreach(_.unpersist())
  }
}
