package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ConnectedComponents, CorpusShaping, DataChecks, Decontaminate, MinHashDedup}

/** Corpus-hygiene composition queries — the operators a training-data
  * pipeline runs BETWEEN detection and training: near-dup pairs resolved
  * into dedup clusters (c1), the full pair→cluster→drop pipeline with
  * corpus stats (d14), benchmark decontamination (c2), stratified
  * sampling / corpus mixing (d15), and fixed-window token chunking (d16).
  *
  * The c1/d14 oracles replay the ENTIRE chain in DuckDB: the same MinHash
  * CTE derivation as m1 (`ScaleOps.m1PairsCtes`) feeding a recursive-CTE
  * transitive closure whose per-vertex MIN(reachable id) is exactly the
  * fixed point `ConnectedComponents` converges to — label propagation is
  * schedule-independent precisely so this cross-engine check is possible.
  * The c2 oracle replays the hex60 n-gram overlap join (`PortableHash` is
  * engine-portable for the same reason).
  */
object CorpusOps {

  /** Same threshold as m1 (`ScaleOps.m1MinhashNeardup`): c1/d14 cluster
    * exactly the pair set the m1 query reports. */
  private val NearDupThreshold = 0.3

  /** Eval/corpus boundary for the c2 sweep: doc_id < 50 plays the held-out
    * benchmark, the rest the training corpus (shared with PipelineOps'
    * funnel, whose training universe and decontamination stage are c2's). */
  private[queries] val EvalSplit = 50L

  private def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.nearDuplicates(
        Tables(s, dir, "documents"), "doc_id", "text", NearDupThreshold)
      .select(col("id_a"), col("id_b"))

  /** PageRank damping on the ppm grid and the unrolled iteration count
    * — shared by the Spark loop and the oracle's CTE chain. */
  private val PrDampPpm = 850000L
  private val PrIters = 3

  /** g1s roots whose edge schema has been verified current — see
    * `missingWeights` in [[g1EdgeRoot]]. */
  private val g1sVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** g1: PAGERANK over the near-dup graph — the iterative graph-RANKING
    * family one step past [[ConnectedComponents]]' connectivity: inside
    * a mirroring/syndication web, which documents sit at the CENTER
    * (everyone copies them) versus the leaves (they copy one thing)?
    * CC answers "same cluster"; this ranks within and across clusters —
    * the signal a curation pass uses to pick canonical sources rather
    * than arbitrary survivors.
    *
    * Exactness: float PageRank cannot cross engines (per-node neighbor
    * sums are order-sensitive doubles). This is the INTEGER-GRID
    * variant: scores live in ppm, each neighbor contribution is
    * `pr div deg` (floored once, per EDGE source), integer SUMS are
    * order-free, and the damping step floors once per iteration —
    * pr' = 150000 + (850000·Σ contrib) div 1000000 — so three unrolled
    * iterations land on identical longs in both engines. Scale shape:
    * per iteration one equi-join on the symmetric edge list (hash-
    * partitioned on src) + one dst-keyed aggregate — O(|E|) shuffle
    * bytes, the CC discipline; the edge list is derived ONCE and
    * checkpointed (never re-runs the MinHash chain per iteration). */
  /** g1's symmetric near-dup edge list landed AT MOST ONCE per corpus
    * fingerprint (the c18s/k13s artifact discipline applied to the
    * graph family): the MinHash chain — the expensive part of g1 —
    * runs in a sibling session and its pair set lands as parquet;
    * every later PageRank call reads the edges instead of re-deriving
    * them. At 100 TB this is exactly how a graph pipeline runs: the
    * near-dup sweep (c12's banded index) already produced the pairs —
    * ranking must consume that artifact, never re-shingle the corpus. */
  private[graft] def g1EdgeRoot(s: SparkSession, dir: String): String = {
    val root = ScaleOps.artifactRoot("g1s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    val edges = root.resolve("edges").toString
    // schema-upgrade guard: fingerprints track DATA, not layout — a
    // marked artifact written before the weight column (g4) must
    // rebuild (checked under the family lock via buildOnce). An
    // UNREADABLE marked root (edges dir missing after a crash between
    // the marker delete and the rebuild) also rebuilds — the guard must
    // self-heal, never wedge every later call on an AnalysisException.
    // The verified set memoizes per root so the steady-state fast path
    // stays a pure Files.exists check, not a per-call footer read.
    def missingWeights(): Boolean =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(edges))) {
        // edges dir lost AFTER an earlier verification (manual cache
        // cleanup, partial eviction): drop the memo so the guard keeps
        // self-healing for the JVM's whole life, not just until the
        // first success — the existence probe is the same cost class
        // as the marker check, so the fast path stays cheap
        g1sVerified.remove(root.toString)
        true
      } else if (g1sVerified.contains(root.toString)) false
      else {
        val missing =
          try !s.read.parquet(edges).columns.contains("w_ppm")
          catch { case scala.util.control.NonFatal(_) => true }
        if (!missing) g1sVerified.add(root.toString)
        missing
      }
    ScaleOps.buildOnce("g1s", root, rebuildIf = () => missingWeights()) {
      graft.sources.Sources.deleteRecursively(root.toFile)
      val t = s.newSession()
      // the pair's exact round-6 Jaccard rides along on the ppm grid:
      // g1/g3 ignore it, g4's votes are proportional to it
      val pairs = MinHashDedup.nearDuplicates(
          Tables(t, dir, "documents"), "doc_id", "text", NearDupThreshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 1e6).cast("long").as("w_ppm"))
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("w_ppm"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"),
          col("w_ppm")))
        .distinct()
        .write.mode("overwrite").parquet(edges)
    }
    root.toString
  }

  def g1PagerankNeardup(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint is EAGER: the edge bytes move off the artifact
    // files immediately (no lazy read a concurrent fingerprint prune
    // could invalidate) and the per-iteration plans stay flat
    val sym = s.read.parquet(s"${g1EdgeRoot(s, dir)}/edges")
      .localCheckpoint()
    // the SHARED iteration ([[graft.streaming.StreamOps.pagerankAdvance]],
    // g2's advance): an empty previous-score frame makes every vertex
    // enter at the uniform 1M ppm init — exactly the from-scratch run,
    // and ONE copy of the exactness-critical integer-grid recurrence
    val emptyPr = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
        .add("pr", org.apache.spark.sql.types.LongType))
    graft.streaming.StreamOps.pagerankAdvance(emptyPr, sym, PrIters, PrDampPpm)
      .orderBy(col("pr").desc, col("id"))
      .select(col("id").as("doc_id"), col("pr").as("pr_ppm"))
  }

  private lazy val g1Sql: String = {
    def iter(t: Int): String =
      s"""c$t AS (
         |  SELECT s.dst AS id, SUM(p.pr // d.deg) AS c
         |  FROM sym s JOIN pr${t - 1} p ON p.id = s.src
         |  JOIN deg d ON d.src = s.src
         |  GROUP BY s.dst),
         |pr$t AS (
         |  SELECT deg.src AS id,
         |    150000 + ($PrDampPpm * COALESCE(c$t.c, 0)) // 1000000 AS pr
         |  FROM deg LEFT JOIN c$t ON c$t.id = deg.src)""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold)},
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM fpairs
       |  UNION
       |  SELECT id_b, id_a FROM fpairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
       |pr0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_ppm FROM pr$PrIters
       |ORDER BY pr_ppm DESC, doc_id""".stripMargin
  }

  /** g3's teleport set: the quality core — graph vertices whose exact
    * d3-style quality score clears this bound (~the top quartile at
    * both test SFs, checked against the data). */
  private val G3SeedMinE6 = 400000L

  /** g3: PERSONALIZED PageRank over the near-dup graph — g1 ranks by
    * pure centrality (every vertex teleports to itself); g3 teleports
    * ONLY to the quality core ([[G3SeedMinE6]]), so the stationary mass
    * flows outward from the high-quality documents and each vertex's
    * score reads "how reachable am I from quality" — the canonical-
    * source pick that weighs quality AND mirroring structure together,
    * where c16's argmax weighs quality alone and g1 centrality alone.
    * Integer-grid exactness (g1's discipline, teleport made per-vertex):
    * pr0 = seed·1e6; pr' = seed·150000 + (850000·Σ(pr div deg)) div 1e6
    * — floor once per edge, floor once per iteration, seeds as 0/1
    * integers, so both engines land on identical longs. Non-seed
    * vertices unreachable from any seed legitimately converge to 0 (the
    * personalization's whole point). Edges come from the landed
    * [[g1EdgeRoot]] artifact — one sweep, two ranking consumers. */
  def g3PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val sym = s.read.parquet(s"${g1EdgeRoot(s, dir)}/edges")
      .localCheckpoint()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val verts = deg.select(col("src").as("id"))
      .join(Tables(s, dir, "documents")
          .select(col("doc_id").as("id"), qScoreE6.as("q_e6")),
        Seq("id"), "left")
      .select(col("id"),
        when(col("q_e6") >= G3SeedMinE6, lit(1L)).otherwise(lit(0L))
          .as("is_seed"))
      .localCheckpoint()
    var pr = verts.select(col("id"), (col("is_seed") * 1000000L).as("pr"))
    (1 to PrIters).foreach { _ =>
      val contrib = sym.join(pr, sym("src") === pr("id"))
        .join(deg, "src")
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      pr = verts
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          expr(s"is_seed * 150000 + " +
            s"($PrDampPpm * coalesce(c, 0)) div 1000000").as("pr"))
    }
    verts.join(pr, "id")
      .orderBy(col("pr").desc, col("id"))
      .select(col("id").as("doc_id"), col("is_seed").cast("int").as("is_seed"),
        col("pr").as("ppr_ppm"))
  }

  /** DuckDB replay of [[g3PersonalizedPagerank]]: the m1 pair chain,
    * the exact quality CTE deciding seeds, and [[PrIters]] unrolled
    * personalized iterations with the identical integer grid. */
  private lazy val g3Sql: String = {
    def iter(t: Int): String =
      s"""gc$t AS (
         |  SELECT s.dst AS id, SUM(p.pr // d.deg) AS c
         |  FROM sym s JOIN gp${t - 1} p ON p.id = s.src
         |  JOIN deg d ON d.src = s.src
         |  GROUP BY s.dst),
         |gp$t AS (
         |  SELECT sd.id,
         |    sd.is_seed * 150000 +
         |      ($PrDampPpm * COALESCE(gc$t.c, 0)) // 1000000 AS pr
         |  FROM sd LEFT JOIN gc$t ON gc$t.id = sd.id)""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold)},
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM fpairs
       |  UNION
       |  SELECT id_b, id_a FROM fpairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
       |$qScoreCteSql,
       |sd AS (
       |  SELECT d.src AS id,
       |    CASE WHEN q.q_e6 >= $G3SeedMinE6 THEN 1 ELSE 0 END AS is_seed
       |  FROM deg d JOIN sc q ON q.doc_id = d.src),
       |gp0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS pr FROM sd),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT sd.id AS doc_id, CAST(sd.is_seed AS INTEGER) AS is_seed,
       |  CAST(gp$PrIters.pr AS BIGINT) AS ppr_ppm
       |FROM sd JOIN gp$PrIters ON gp$PrIters.id = sd.id
       |ORDER BY ppr_ppm DESC, doc_id""".stripMargin
  }

  /** g4: WEIGHTED PageRank — mirror-strength centrality: an edge's vote
    * is proportional to the pair's exact Jaccard instead of the uniform
    * 1/deg, so a document surrounded by NEAR-IDENTICAL copies outranks
    * one with the same number of weakly-similar neighbors — the signal
    * that separates true mirror hubs from loose topical clusters, which
    * g1's unweighted walk cannot see. Integer grid throughout: weights
    * are the round-6 Jaccard on the ppm grid (integer-valued by
    * construction, so the cast is exact in both engines), per-edge
    * contribution is `(pr · w) div sumw` (floored once; `sumw` the
    * source's exact out-weight sum), damping floors once per iteration.
    * Same landed [[g1EdgeRoot]] edge list — one sweep, three ranking
    * consumers (g1 centrality, g3 quality proximity, g4 strength). */
  def g4WeightedPagerank(s: SparkSession, dir: String): DataFrame = {
    val sym = s.read.parquet(s"${g1EdgeRoot(s, dir)}/edges")
      .localCheckpoint()
    val sw = sym.groupBy(col("src")).agg(sum(col("w_ppm")).as("sumw"))
      .localCheckpoint()
    var pr = sw.select(col("src").as("id"), lit(1000000L).as("pr"))
    (1 to PrIters).foreach { _ =>
      val contrib = sym.join(pr, sym("src") === pr("id"))
        .join(sw, "src")
        .select(col("dst"), expr("(pr * w_ppm) div sumw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      pr = sw.select(col("src").as("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          expr(s"150000 + ($PrDampPpm * coalesce(c, 0)) div 1000000").as("pr"))
    }
    pr.orderBy(col("pr").desc, col("id"))
      .select(col("id").as("doc_id"), col("pr").as("wpr_ppm"))
  }

  /** DuckDB replay of [[g4WeightedPagerank]]: the m1 pair chain with
    * the round-6 Jaccard lifted to ppm weights, [[PrIters]] unrolled
    * weighted iterations on the identical integer grid. */
  private lazy val g4Sql: String = {
    def iter(t: Int): String =
      s"""wc$t AS (
         |  SELECT s.dst AS id, SUM((p.pr * s.w) // w2.sumw) AS c
         |  FROM sym s JOIN wp${t - 1} p ON p.id = s.src
         |  JOIN sw w2 ON w2.src = s.src
         |  GROUP BY s.dst),
         |wp$t AS (
         |  SELECT sw.src AS id,
         |    150000 + ($PrDampPpm * COALESCE(wc$t.c, 0)) // 1000000 AS pr
         |  FROM sw LEFT JOIN wc$t ON wc$t.id = sw.src)""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold)},
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst,
       |    CAST(ROUND(jaccard * 1000000, 0) AS BIGINT) AS w FROM fpairs
       |  UNION
       |  SELECT id_b, id_a,
       |    CAST(ROUND(jaccard * 1000000, 0) AS BIGINT) FROM fpairs),
       |sw AS (SELECT src, SUM(w) AS sumw FROM sym GROUP BY src),
       |wp0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM sw),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT id AS doc_id, CAST(pr AS BIGINT) AS wpr_ppm FROM wp$PrIters
       |ORDER BY wpr_ppm DESC, doc_id""".stripMargin
  }

  /** g2's OWN stream-window end — wider than the c9 families'
    * $C9StreamEnd (600) because the near-dup graph inside [50, 600) is
    * nearly empty at sf0.1 (1–2 vertices per frontier), which left the
    * warm-start chain exercised by the spec more than by the oracle
    * (round-15 verdict). At 2000 each frontier ranks a non-trivial set
    * (measured 46/84 vertices at sf0.1); at sf0.01 the documents table
    * caps at 500, so the window is unchanged there. */
  private val G2StreamEnd = 2000L

  /** g2's rolling drive landed AT MOST ONCE per corpus fingerprint (the
    * c18s discipline for the graph family): a sibling session drives
    * [[graft.streaming.StreamOps.pagerankBatch]] waves over the
    * [$EvalSplit, $G2StreamEnd) stream slice — wave 0 additionally lands
    * the static corpus's internal pair set, so frontier edge sets follow
    * the c20 arrival convention — and the g2 lineage read serves from
    * the landed score snapshots. A marker-less root is deleted before
    * rebuild (the k13s rule for multi-batch builders over
    * snapshot-family state). */
  private def g2SharedRoot(s: SparkSession, dir: String): String = {
    import graft.streaming.StreamOps
    val root = ScaleOps.artifactRoot("g2s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    // window-version probe: fingerprints track DATA, so a root landed by
    // the old 600-window build would otherwise serve silently-narrow
    // frontiers — the g1s rebuildIf rule, re-probed per call (cheap
    // Files.exists; a memoized guard would defeat self-healing)
    val windowTag = root.resolve(s"_WINDOW_$G2StreamEnd")
    ScaleOps.buildOnce("g2s", root,
        rebuildIf = () => !java.nio.file.Files.exists(windowTag)) {
      graft.sources.Sources.deleteRecursively(root.toFile)
      val t = s.newSession()
      val docs = Tables(t, dir, "documents")
      val corpus = docs
        .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
        .select(col("doc_id"), col("text"))
      val staticIndex = MinHashDedup.buildDedupIndex(corpus, "doc_id", "text")
      // seed pairs off the index's one text pass (the
      // driveIngestWavesSeeded lifecycle); wave 0 consumes them lazily,
      // so the band cache releases after that wave, the index after all
      val (corpusPairs0, seedCaches) = MinHashDedup
        .nearDuplicatesFromIndexWithCaches(staticIndex, NearDupThreshold)
      val corpusPairs = corpusPairs0.select(col("id_a"), col("id_b"))
      val noPairs = t.createDataFrame(
        t.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("id_a", org.apache.spark.sql.types.LongType)
          .add("id_b", org.apache.spark.sql.types.LongType))
      val stream = docs
        .filter(col("doc_id") >= C9CorpusEnd && col("doc_id") < G2StreamEnd)
        .select(col("doc_id"), col("text"))
      val state = root.resolve("state").toString
      try (0 until C9Batches).foreach { b =>
        StreamOps.pagerankBatch(
          stream.filter(pmod(col("doc_id"), lit(C9Batches.toLong)) === b.toLong),
          staticIndex, if (b == 0) corpusPairs else noPairs,
          "doc_id", "text", NearDupThreshold, PrIters, PrDampPpm,
          state, b.toLong, validateDisjoint = false)
        if (b == 0) seedCaches.foreach(_.unpersist())
      } finally { seedCaches.foreach(_.unpersist()); staticIndex.release() }
      java.nio.file.Files.createDirectories(root)
      java.nio.file.Files.write(windowTag, Array.emptyByteArray)
    }
    root.toString
  }

  /** g2: ROLLING PageRank over the near-dup graph — g1's integer-grid
    * ranking maintained ACROSS ingest waves instead of recomputed from
    * scratch: each wave's sweep extends the landed edge list by its
    * pair delta, and the scores advance by [[PrIters]] warm-started
    * iterations from the previous frontier's landed snapshot (new
    * vertices enter at the 1 000 000 ppm init). The read is the
    * lineage question — the score table AS OF waves 1 and 2
    * ([[graft.streaming.StreamOps.prAsOf]], the labelsAsOf contract):
    * what did the ranking say when batch N was the frontier. Scores
    * are a pure function of the delta HISTORY (frontier 2's answer
    * warm-starts from frontier 1's), so the oracle replays the whole
    * warm-started chain — per-frontier arrival-filtered edges, the
    * same floor-once integer arithmetic, [[PrIters]] unrolled
    * iterations per frontier — and a snapshot that leaked any wave-2
    * edge into wave 1's scores goes red. */
  def g2RollingPagerank(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val state = s"${g2SharedRoot(s, dir)}/state"
    def frontier(n: Long) = StreamOps.prAsOf(s, state,
        sys.error("g2s: seed fallback triggered — snapshot state missing " +
          "under a marked artifact (corrupt g2s root?)"),
        org.apache.spark.sql.types.LongType, asOf = n)
      .select(lit(n).as("as_of"), col("id").as("doc_id"),
        col("pr").as("pr_ppm"))
    val res = frontier(1L).unionByName(frontier(2L))
      .orderBy(col("as_of"), col("pr_ppm").desc, col("doc_id"))
    // bounded (|graph vertices| per frontier): materialize before
    // returning (the c20 rule for artifact-served lazy frames)
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** DuckDB replay of [[g2RollingPagerank]]: the m1 pair chain over the
    * corpus ∪ stream window, per-frontier arrival-filtered edge sets
    * (a pair is live once BOTH endpoints arrived — the c20 convention),
    * and the warm-started score chain: frontier 0 initializes at 1M
    * ppm, every later frontier seeds from the previous frontier's
    * final scores (new vertices at 1M), [[PrIters]] g1-exact integer
    * iterations each. */
  private lazy val g2Sql: String = {
    def edges(n: Int): String =
      s"""f$n AS (
         |  SELECT id_a, id_b FROM fpairs
         |  WHERE (id_a < $C9CorpusEnd OR id_a % $C9Batches <= $n)
         |    AND (id_b < $C9CorpusEnd OR id_b % $C9Batches <= $n)),
         |e$n AS (
         |  SELECT id_a AS src, id_b AS dst FROM f$n
         |  UNION
         |  SELECT id_b, id_a FROM f$n),
         |d$n AS (SELECT src, COUNT(*) AS deg FROM e$n GROUP BY src)""".stripMargin
    def init(n: Int): String =
      if (n == 0)
        "s0_0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM d0)"
      else
        s"""s${n}_0 AS (
           |  SELECT d.src AS id, COALESCE(p.pr, CAST(1000000 AS BIGINT)) AS pr
           |  FROM d$n d LEFT JOIN s${n - 1}_$PrIters p ON p.id = d.src)""".stripMargin
    def iter(n: Int, t: Int): String =
      s"""c${n}_$t AS (
         |  SELECT e.dst AS id, SUM(p.pr // d.deg) AS c
         |  FROM e$n e JOIN s${n}_${t - 1} p ON p.id = e.src
         |  JOIN d$n d ON d.src = e.src
         |  GROUP BY e.dst),
         |s${n}_$t AS (
         |  SELECT d.src AS id,
         |    150000 + ($PrDampPpm * COALESCE(c.c, 0)) // 1000000 AS pr
         |  FROM d$n d LEFT JOIN c${n}_$t c ON c.id = d.src)""".stripMargin
    def chain(n: Int): String =
      (Seq(edges(n), init(n)) ++ (1 to PrIters).map(t => iter(n, t)))
        .mkString(",\n")
    def sel(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, id AS doc_id,
         |  CAST(pr AS BIGINT) AS pr_ppm FROM s${n}_$PrIters""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $G2StreamEnd")},
       |${chain(0)},
       |${chain(1)},
       |${chain(2)}
       |${sel(1)}
       |UNION ALL
       |${sel(2)}
       |ORDER BY as_of, pr_ppm DESC, doc_id""".stripMargin
  }

  /** DuckDB replay of [[ConnectedComponents]] over the m1 pair set
    * (optionally restricted by `where` — c14 clusters only the corpus ∪
    * stream window): the symmetric edge list, a recursive transitive
    * closure, and MIN over the reachable set per vertex. Ends in a
    * `clusters` CTE (id, component). */
  private def clustersCtesAt(where: String): String =
    s"""${ScaleOps.m1PairsCtesAt(NearDupThreshold, where)},
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM fpairs
       |  UNION
       |  SELECT id_b, id_a FROM fpairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
       |clusters AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)""".stripMargin

  private val clustersCtes: String = clustersCtesAt("")

  /** c1: near-dup pairs (m1's MinHash output) resolved into dedup clusters
    * with per-cluster size — the keep/drop unit. `component` is the
    * cluster's canonical survivor (minimum doc id), so the row count is
    * the number of surviving documents among near-dups and `n_docs - 1`
    * per row is the drop count. */
  def c1DedupClusters(s: SparkSession, dir: String): DataFrame =
    ConnectedComponents.components(nearDupEdges(s, dir))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")

  private val c1Sql: String =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT component, COUNT(*) AS n_docs
       |FROM clusters GROUP BY component ORDER BY component""".stripMargin

  /** c13 arrival split: edges wholly below this doc_id are the "already
    * clustered" history; everything touching a newer doc is the
    * increment. Any split point satisfies the star identity — this one
    * lands non-trivial mass on both sides at both SFs. */
  private val C13Split = 300L

  /** c13: INCREMENTAL connected components — c1's cluster histogram
    * computed without ever re-reading the historical edge set. The old
    * edges' labeling is collapsed to STAR edges (member → component
    * min-id); the new labeling is the components of (stars ∪ new edges).
    * Collapsing a connected subgraph to a star preserves the quotient
    * connectivity, and min-id labels make the collapsed run emit
    * IDENTICAL labels to a from-scratch run — an identity, not an
    * approximation, which is why the oracle is c1's own SQL (the same
    * precedent as i5→i3 and q35→q9: same answer, incremental machine).
    *
    * This is the piece that keeps c9/c12's rolling ingest honest at
    * 100 TB: the accumulated pair log only ever grows, but each
    * increment's CC pass touches |old vertices| star rows + the new
    * batch's edges — cost tracks the increment, not the history (the
    * graph-side analog of the index-delta property the ingest sweeps
    * prove for shingles). */
  def c13IncrementalCc(s: SparkSession, dir: String): DataFrame = {
    // persisted: both arrival slices filter the same MinHash sweep;
    // without it each CC call's eager edge persist re-runs the full
    // pipeline. Released by the caller's clearCache (c1 precedent)
    val edges = nearDupEdges(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val old = edges.filter(col("id_a") < C13Split && col("id_b") < C13Split)
    val fresh = edges.filter(col("id_a") >= C13Split || col("id_b") >= C13Split)
    ConnectedComponents
      .incrementalStep(ConnectedComponents.components(old), fresh)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
  }

  /** c14: the incremental trio RUNNING TOGETHER — dedup cluster labels
    * maintained ACROSS the c9/c12 ingest waves. c9/c12 prove per-batch
    * index-delta dedup and c13 proves incremental CC in isolation; this
    * query composes them by driving the SAME
    * [[graft.streaming.StreamOps.rollingCcBatch]] code path the
    * streaming pipeline runs per micro-batch (the c9 precedent): each
    * wave is swept against the static index ∪ earlier waves' landed
    * deltas (corpus and earlier-batch text never re-shingled), and the
    * wave's pair log advances the cluster labels by
    * [[ConnectedComponents.incrementalStep]]'s star-collapse — per wave
    * the CC pass touches |labeled docs| star rows + the wave's pairs,
    * never the accumulated pair history. Seed labels are the static
    * corpus's own internal clusters (the at-rest labels a previous full
    * run left behind). Because the accumulated sweep surfaces every pair
    * touching stream docs exactly once and the seed covers
    * corpus-internal pairs, the final labels equal a from-scratch
    * clustering of the whole corpus ∪ stream window — the oracle is c1's
    * own recursive-CTE SQL over that window's one-shot pair set. Output
    * is c1's cluster histogram shape. */
  /** The c14/c17 wave-driver scaffold, factored so the two queries
    * cannot silently diverge (c17's oracle equality depends on its
    * seed/window/wave split staying byte-identical to c14's): corpus
    * and stream windows, the static MinHash index, the seed clusters —
    * MATERIALIZED (localCheckpoint): every wave's star edges must read
    * landed or checkpointed labels, never stack the previous CC-loop's
    * plan (plan size otherwise grows exponentially in waves; measured:
    * driver heap exhaustion by wave 3 at sf0.01) — the pmod wave loop,
    * and the materialize-before-temp-delete contract. `body` folds a
    * carry frame through the waves (given the per-wave batch); `finish`
    * shapes the final carry into the bounded result. */
  private def driveIngestWaves(s: SparkSession, dir: String,
      body: (DataFrame, MinHashDedup.DedupIndex, DataFrame, String, Long)
        => DataFrame,
      finish: DataFrame => DataFrame): DataFrame =
    driveIngestWavesSeeded[Unit](s, dir, _ => (),
      (batch, idx, seed, _, state, b) => body(batch, idx, seed, state, b),
      (_, carry, _) => finish(carry))

  /** [[driveIngestWaves]] with a TYPED caller seed: `seedOf` derives the
    * caller's seed bundle from the shared seed labels exactly once,
    * before the first wave, and the scaffold threads it to every wave —
    * so a rolling consumer that needs per-wave seed state (c17's
    * representative monoid) cannot forget to initialize it or
    * accidentally rebuild it per wave (the previous shape was a
    * `var _: DataFrame = null` closure capture). */
  private def driveIngestWavesSeeded[S](s: SparkSession, dir: String,
      seedOf: DataFrame => S,
      body: (DataFrame, MinHashDedup.DedupIndex, DataFrame, S, String, Long)
        => DataFrame,
      // (seed labels, final carry, state path) — the state path lets an
      // as-of consumer read frontier snapshots before the temp root
      // deletes; most finishes only shape the carry (the c-family
      // lineage reads themselves serve from the persistent c18s
      // artifact instead of this scaffold)
      finish: (DataFrame, DataFrame, String) => DataFrame): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val corpus = docs
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"), col("text"))
    val staticIndex = graft.operators.JobLabel(s, "c-wave: static index") {
      MinHashDedup.buildDedupIndex(corpus, "doc_id", "text")
    }
    val stream = docs
      .filter(col("doc_id") >= C9CorpusEnd && col("doc_id") < C9StreamEnd)
    val root = java.nio.file.Files.createTempDirectory("graft_waves_").toString
    // seed pairs derive from the index's ONE persisted text pass
    // (nearDuplicates would re-persist a plan-aliased copy of the
    // hashed sets — the r19 residency pathology); every cache the seed
    // derivation takes is released as soon as the seed labels are
    // checkpointed, so the wave loop runs with exactly ONE corpus-side
    // cached frame (the index) live, and again on every exit path
    val (seedPairs, seedCaches) = MinHashDedup
      .nearDuplicatesFromIndexWithCaches(staticIndex, NearDupThreshold)
    try {
      val seed = graft.operators.JobLabel(s, "c-wave: seed clusters") {
        val sd = ConnectedComponents.withComponents(
          seedPairs.select(col("id_a"), col("id_b")))(_.localCheckpoint())
        seedCaches.foreach(_.unpersist())
        sd
      }
      val seedBundle = seedOf(seed)
      var carry = seed
      (0 until C9Batches).foreach { b =>
        val batch = stream
          .filter(pmod(col("doc_id"), lit(C9Batches.toLong)) === b.toLong)
        carry = body(batch, staticIndex, seed, seedBundle, s"$root/state", b.toLong)
      }
      val res = finish(seed, carry, s"$root/state")
      // bounded result: materialize before the temp state is deleted —
      // the returned frame must not lazily re-read it
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      seedCaches.foreach(_.unpersist())
      staticIndex.release()
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  def c14RollingCc(s: SparkSession, dir: String): DataFrame =
    driveIngestWaves(s, dir,
      (batch, idx, seed, state, b) =>
        // validateDisjoint=false: the pmod wave split over the
        // [C9CorpusEnd, C9StreamEnd) range is disjoint from the corpus
        // by construction — the per-wave corpus-id probe proves nothing
        // here (the opt-out the sweep's contract provides for callers
        // with established id discipline)
        graft.streaming.StreamOps.rollingCcBatch(batch, idx, seed,
          "doc_id", "text", NearDupThreshold, state, b,
          validateDisjoint = false),
      labels => labels.groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("component"))

  // lazy: C9StreamEnd is declared further down the object; an eager val
  // here would interpolate its pre-initialization default (0)
  private lazy val c14Sql: String =
    s"""WITH RECURSIVE ${clustersCtesAt(
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")}
       |SELECT component, COUNT(*) AS n_docs
       |FROM clusters GROUP BY component ORDER BY component""".stripMargin

  /** c15: dedup-cluster PURITY audit — c1's clusters joined back to the
    * provenance dimensions: per multi-document cluster, the distinct
    * source and language counts plus the cluster's id span. A cluster
    * spanning SOURCES is mirroring/syndication (c7's signal localized to
    * the cluster grain); a cluster spanning LANGUAGES is near-identical
    * text across languages — template boilerplate or machine
    * translation, the class a per-language dedup never sees and exactly
    * what a curation pass wants surfaced before choosing representatives.
    * Scale shape: the cluster table is |paired docs| rows joined on the
    * corpus's own hash partitioning; the report is |clusters| rows.
    * Oracle replays the full m1→components chain plus the rollup. */
  def c15ClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    ConnectedComponents.components(nearDupEdges(s, dir))
      .withColumnRenamed("id", "doc_id")
      .join(docs.select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("component")
  }

  private val c15Sql: String =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT component, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT d.source) AS n_sources,
       |  COUNT(DISTINCT d.lang) AS n_langs,
       |  MIN(d.doc_id) AS first_doc, MAX(d.doc_id) AS last_doc
       |FROM clusters c JOIN documents d ON c.id = d.doc_id
       |GROUP BY component HAVING COUNT(*) >= 2
       |ORDER BY component""".stripMargin

  /** c16: QUALITY-based representative selection — the keep rule real
    * curation uses instead of c1/d14's min-id: within each dedup
    * cluster, keep the HIGHEST-QUALITY member (d3's score lifted to
    * exact integer micro-units, ties → smallest id). Min-id is
    * arbitrary; near-dup clusters routinely contain one clean copy and
    * several truncated/boilerplate-wrapped mirrors, and this query picks
    * the clean one. Reports, per multi-document cluster, the chosen
    * representative, its score, and the cluster's integer-exact mean
    * score (the quality LIFT of choosing well is best − mean). Scale
    * shape: the cluster table is |paired docs| rows; the selection is
    * one bounded window inside the cluster key. Oracle replays the full
    * m1→components chain, the d35 score arithmetic, and the window. */
  /** d3's quality score in exact integer micro-units over a `text`
    * column — shared by c16's from-scratch selection and c17's rolling
    * maintenance so both feed the SAME at-rest score arithmetic. */
  private def qScoreE6: org.apache.spark.sql.Column = {
    val charLen = length(col("text"))
    val tokens = charLen - length(expr("replace(text, ' ', '')")) + 1
    val punct = (charLen - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .cast("double")
    val score = round(
      least(lit(1.0), tokens.cast("double") / lit(200.0)) *
        (lit(1.0) - least(lit(1.0), punct / charLen.cast("double") * 10)), 6)
    round(score * 1e6).cast("long")
  }

  def c16BestRepresentative(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val scored = docs.select(col("doc_id"), qScoreE6.as("q_e6"))
    val members = ConnectedComponents.components(nearDupEdges(s, dir))
      .withColumnRenamed("id", "doc_id")
      .join(scored, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("q_e6").desc, col("doc_id"))
    val agg = members.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_e6")).as("q_sum"))
    val best = members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("best_doc"),
        col("q_e6").as("best_q_e6"))
    agg.join(best, "component")
      .withColumn("mean_q_e6", expr("q_sum div n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("component"), col("n_docs"), col("best_doc"),
        col("best_q_e6"), col("mean_q_e6"))
      .orderBy("component")
  }

  /** The c16 selection SQL body over whatever `clusters` CTE precedes
    * it — shared verbatim by c16 (full corpus) and c17 (the c14 ingest
    * window), so the rolling path's oracle replays the SAME score
    * arithmetic and window. */
  /** The sc/m/r/agg CTE block of the c16 selection — split from the
    * final SELECT so c18's composed-gate metrics can reuse the exact
    * same score arithmetic and ranking. */
  /** The c16 quality score as a standalone `sc(doc_id, q_e6)` CTE —
    * shared by the full-window rep chain and c21's per-frontier ones. */
  private val qScoreCteSql: String =
    s"""sc AS (
       |  SELECT doc_id, CAST(ROUND(ROUND(
       |    least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 200.0)
       |      * (1.0 - least(1.0,
       |          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |          / CAST(length(text) AS DOUBLE) * 10)), 6) * 1e6, 0) AS BIGINT) AS q_e6
       |  FROM documents)""".stripMargin

  private val repCtesSql: String =
    s"""$qScoreCteSql,
       |m AS (SELECT c.component, c.id AS doc_id, sc.q_e6
       |      FROM clusters c JOIN sc ON sc.doc_id = c.id),
       |r AS (SELECT component, doc_id, q_e6,
       |        ROW_NUMBER() OVER (PARTITION BY component
       |          ORDER BY q_e6 DESC, doc_id) AS rk
       |      FROM m),
       |agg AS (SELECT component, COUNT(*) AS n_docs,
       |          CAST(SUM(q_e6) AS BIGINT) AS q_sum
       |        FROM m GROUP BY component)""".stripMargin

  private val repSelectSql: String =
    s"""$repCtesSql
       |SELECT a.component, a.n_docs, r.doc_id AS best_doc,
       |  r.q_e6 AS best_q_e6, a.q_sum // a.n_docs AS mean_q_e6
       |FROM agg a JOIN r ON r.component = a.component AND r.rk = 1
       |WHERE a.n_docs >= 2
       |ORDER BY a.component""".stripMargin

  private val c16Sql: String =
    s"""WITH RECURSIVE $clustersCtes,
       |$repSelectSql""".stripMargin

  /** c17: c16's representative selection maintained ROLLING across
    * c14's ingest waves — the per-cluster argmax is a mergeable monoid
    * (sum, sum, max by (q_e6, −id)), so each wave advances a
    * |clusters|-row state table alongside the labels instead of
    * rescanning members ([[graft.streaming.StreamOps.rollingRepBatch]]).
    * Seeded from the static corpus's own clusters + the at-rest d3
    * score table; after the waves the state equals c16's from-scratch
    * selection over the whole window — the oracle replays c16's exact
    * SQL body over the c14 window's one-shot clusters. */
  def c17RollingRep(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val scores = Tables(s, dir, "documents")
      .select(col("doc_id").as("id"), qScoreE6.as("q_e6"))
    // seed state derives from the shared driver's seed, once, via the
    // scaffold's typed seed slot (the seed labels themselves are
    // already localCheckpointed by the driver)
    driveIngestWavesSeeded[DataFrame](s, dir,
      seed => StreamOps.repStateOf(seed, scores).localCheckpoint(),
      (batch, idx, seed, seedState, state, b) =>
        // validateDisjoint=false: pmod wave split, disjoint by
        // construction (the c14 rationale)
        StreamOps.rollingRepBatch(batch, idx, seed, seedState, scores,
          "doc_id", "text", NearDupThreshold, state, b,
          validateDisjoint = false)._2,
      (_, state, _) => state.filter(col("n_docs") >= 2)
        .select(col("component"), col("n_docs"), col("best_doc"),
          col("best_q_e6"), expr("q_sum div n_docs").as("mean_q_e6"))
        .orderBy("component"))
  }

  // lazy: C9StreamEnd is declared further down the object (the c14Sql
  // initialization-order trap)
  private lazy val c17Sql: String =
    s"""WITH RECURSIVE ${clustersCtesAt(
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |$repSelectSql""".stripMargin

  /** c18: the COMPOSED deployment stream oracle-gated end to end — the
    * c9 ingest scenario driven through [[graft.streaming.StreamOps
    * .deployGatesBatch]] (ONE cached pass per wave feeding promotion,
    * source overlap, rolling CC, representatives, BM25 segments, fuzzy
    * variants, k-anonymity, and the two embedding gates), then one
    * metric row per text-side gate read back from the AT-REST state the
    * waves landed. The oracle replays every metric from the documents
    * table with the same CTE machinery the solo rows use (c9's
    * drop/decontamination chain, c14's cluster CTEs, c16's score
    * ranking) — so a composed runtime that diverged from the one-shot
    * semantics in ANY gate goes red in one row. The embedding gates run
    * on a deterministic synthetic vector column (their semantics are
    * oracle-gated by a4/a5/i8 and solo-equality spec-pinned; no metric
    * is emitted for them because DuckDB cannot replay the k-means
    * chain over a column that is not in the table). */
  def c18DeployGates(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val root = c18SharedRoot(s, dir)
    val corpusIds = Tables(s, dir, "documents")
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"))
    // every metric reads the AT-REST state the waves landed; snapshot
    // selection is the DIRECTORY-listing rule (latestLandedBatch), not
    // a row-level max — an empty final frontier lands a data-file-less
    // partition that a row max would silently skip for the prior epoch
    def latest(name: String): DataFrame =
      StreamOps.latestSnapshot(s, s"$root/state/$name")
    val nLanded = StreamOps.compactLanded(s, s"$root/landed",
      s"$root/state", corpusIds, "doc_id").count()
    val labels = latest("labels")
    val nLabeled = labels.count()
    val nClusters = labels.select(col("component")).distinct().count()
    val sumBestQ = latest("rep").filter(col("n_docs") >= 2)
      .agg(coalesce(sum(col("best_q_e6")), lit(0L))).head.getLong(0)
    val st = latest("bm25_stats").select(col("n"), col("sumdl")).head
    val nPostings = s.read.parquet(s"$root/state/bm25_postings").count()
    val nVariantRows = s.read.parquet(s"$root/state/fuzzy_variants").count()
    val kanon = latest("kanon").groupBy(col("level"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    import s.implicits._
    Seq(
      ("bm25", "n_docs", st.getLong(0)),
      ("bm25", "n_postings", nPostings),
      ("bm25", "sum_dl", st.getLong(1)),
      ("dedup", "n_clusters", nClusters),
      ("dedup", "n_labeled", nLabeled),
      ("fuzzy", "n_variant_rows", nVariantRows),
      ("kanon", "n_classes_l0", kanon.getOrElse(0, 0L)),
      ("kanon", "n_classes_l1", kanon.getOrElse(1, 0L)),
      ("kanon", "n_classes_l2", kanon.getOrElse(2, 0L)),
      ("promotion", "n_landed", nLanded),
      ("rep", "sum_best_q", sumBestQ))
      .toDF("gate", "metric", "value")
  }

  /** The c-family's SHARED landed deployment state ("c18s") — the c18
    * composed 3-wave protocol driven AT MOST ONCE per corpus
    * fingerprint in a sibling session (marker-last, the k8/i10b
    * discipline), then served by c18's at-rest metrics AND the c19/c20/
    * c21 lineage reads. Before this artifact, those four queries each
    * re-drove a near-identical ingest per call (~34 s of the sf0.1
    * bench) — the deployment answer is one stream, many readers, and
    * the one statePath layout [[graft.streaming.StreamOps
    * .deployGatesBatch]] lands makes every solo read path (compactLanded,
    * labelsAsOf, repAsOf) serve from the same directories. The static
    * MinHash index, seed clusters, and coarse quantizer are build-time
    * inputs only — nothing reaches the serving side except through the
    * landed files. */
  private def c18SharedRoot(s: SparkSession, dir: String): String = {
    import graft.streaming.StreamOps
    val root = ScaleOps.artifactRoot("c18s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    ScaleOps.buildOnce("c18s", root) {
      // multi-batch builder over snapshot-family state: a marker-less
      // root may hold a partial drive, and re-driving over surviving
      // later-batch snapshots is NOT a replay (the k13s rule) — start
      // from nothing
      graft.sources.Sources.deleteRecursively(root.toFile)
      val t = s.newSession()
      val docs = Tables(t, dir, "documents")
      val emb = array((col("doc_id") % 7 + 1).cast("double"),
        (col("doc_id") % 11).cast("double"),
        (col("doc_id") % 13).cast("double"), lit(1.0))
      val corpus = docs
        .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
        .select(col("doc_id"), col("text"))
      val staticIndex = MinHashDedup.buildDedupIndex(corpus, "doc_id", "text")
      val evalSet = docs.filter(col("doc_id") < EvalSplit)
        .select(col("doc_id"), col("text"))
      val corpusIds = corpus.select(col("doc_id"))
      val sources = docs.select(col("doc_id"), col("source"))
      // seed off the index's one text pass, caches released once the
      // labels are checkpointed (the driveIngestWavesSeeded lifecycle)
      // and again on every exit path
      val (seedPairs, seedCaches) = MinHashDedup
        .nearDuplicatesFromIndexWithCaches(staticIndex, NearDupThreshold)
      try {
        val seed = ConnectedComponents.withComponents(
          seedPairs.select(col("id_a"), col("id_b")))(_.localCheckpoint())
        seedCaches.foreach(_.unpersist())
        val scores = docs.select(col("doc_id").as("id"), qScoreE6.as("q_e6"))
        val seedState = StreamOps.repStateOf(seed, scores).localCheckpoint()
        val idx = graft.operators.IvfSearch.buildIndex(
          docs.filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
            .select(col("doc_id").as("vec_id"), emb.as("embedding")),
          "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
        try {
          val semSeed = t.createDataFrame(
            t.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            new org.apache.spark.sql.types.StructType()
              .add("id", org.apache.spark.sql.types.LongType)
              .add("component", org.apache.spark.sql.types.LongType))
          val stream = docs
            .filter(col("doc_id") >= C9CorpusEnd && col("doc_id") < C9StreamEnd)
            .select(col("doc_id"), col("text"), col("source"), col("lang"),
              emb.as("embedding"))
          val cfg = StreamOps.DeployGatesConfig(staticIndex, corpusIds, evalSet,
            sources, seed, seedState, scores, idx.centroids, idx.assignments,
            semSeed, "doc_id", "text", "embedding", NearDupThreshold,
            semThreshold = 0.9, decontamN = 5, bm25Shards = 16,
            fuzzyShards = 16, frozenLevel = 2,
            outPath = root.resolve("landed").toString,
            statePath = root.resolve("state").toString)
          (0 until C9Batches).foreach { b =>
            StreamOps.deployGatesBatch(
              stream.filter(pmod(col("doc_id"), lit(C9Batches.toLong)) === b.toLong),
              cfg, b.toLong)
          }
        } finally idx.close()
      } finally { seedCaches.foreach(_.unpersist()); staticIndex.release() }
    }
    root.toString
  }

  /** The seed fallback the c18s lineage reads pass by-name: with the
    * marker present, snapshot frontiers 1 and 2 exist, so a triggered
    * fallback means the artifact is corrupt — fail loudly instead of
    * silently rebuilding a seed and answering from the wrong epoch. */
  private def c18sSeedUnreachable(what: String): DataFrame =
    sys.error(s"c18s: $what seed fallback triggered — snapshot state " +
      "missing under a marked artifact (corrupt c18s root?)")

  // lazy: C9CorpusEnd/C9StreamEnd and c9DropsCtesSql are declared
  // further down the object (the c14Sql initialization-order trap)
  private lazy val c18Sql: String =
    s"""WITH RECURSIVE ${clustersCtesAt(
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |$c9DropsCtesSql,
       |$repCtesSql,
       |w AS (SELECT * FROM documents
       |      WHERE doc_id >= $C9CorpusEnd AND doc_id < $C9StreamEnd),
       |wtok AS (SELECT DISTINCT doc_id,
       |           unnest(string_split(text, ' ')) AS term FROM w),
       |vterms AS (SELECT DISTINCT doc_id % $C9Batches AS b, term FROM wtok),
       |vexp AS (SELECT b, term,
       |           unnest(generate_series(0, length(term))) AS i FROM vterms),
       |vvar AS (SELECT DISTINCT b, term,
       |           CASE WHEN i = 0 THEN term
       |                ELSE substr(term, 1, CAST(i AS INT) - 1) ||
       |                     substr(term, CAST(i AS INT) + 1) END AS variant
       |         FROM vexp),
       |kcls AS (
       |  SELECT 0 AS level, source, lang, length(text) // 10 AS len_class
       |  FROM w GROUP BY 1, 2, 3, 4
       |  UNION ALL
       |  SELECT 1, source, lang, length(text) // 100 FROM w GROUP BY 1, 2, 3, 4
       |  UNION ALL
       |  SELECT 2, source, lang, -1 FROM w GROUP BY 1, 2, 3, 4)
       |SELECT gate, metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'bm25' AS gate, 'n_docs' AS metric,
       |    (SELECT COUNT(*) FROM w) AS value
       |  UNION ALL SELECT 'bm25', 'n_postings', (SELECT COUNT(*) FROM wtok)
       |  UNION ALL SELECT 'bm25', 'sum_dl',
       |    (SELECT SUM(len(string_split(text, ' '))) FROM w)
       |  UNION ALL SELECT 'dedup', 'n_clusters',
       |    (SELECT COUNT(DISTINCT component) FROM clusters)
       |  UNION ALL SELECT 'dedup', 'n_labeled', (SELECT COUNT(*) FROM clusters)
       |  UNION ALL SELECT 'fuzzy', 'n_variant_rows', (SELECT COUNT(*) FROM vvar)
       |  UNION ALL SELECT 'kanon', 'n_classes_l0',
       |    (SELECT COUNT(*) FROM kcls WHERE level = 0)
       |  UNION ALL SELECT 'kanon', 'n_classes_l1',
       |    (SELECT COUNT(*) FROM kcls WHERE level = 1)
       |  UNION ALL SELECT 'kanon', 'n_classes_l2',
       |    (SELECT COUNT(*) FROM kcls WHERE level = 2)
       |  UNION ALL SELECT 'promotion', 'n_landed',
       |    (SELECT COUNT(*) FROM documents
       |     WHERE doc_id >= $C9CorpusEnd AND doc_id < $C9StreamEnd
       |       AND doc_id NOT IN (SELECT id FROM drops)
       |       AND doc_id NOT IN (SELECT id FROM contaminated))
       |  UNION ALL SELECT 'rep', 'sum_best_q',
       |    (SELECT SUM(r.q_e6) FROM r
       |     JOIN agg a ON a.component = r.component
       |     WHERE r.rk = 1 AND a.n_docs >= 2)
       |) ORDER BY gate, metric""".stripMargin

  /** d14: the near-dup keep/drop decision composed end-to-end — MinHash
    * pairs → connected components → drop every non-representative
    * (id ≠ component) → per-language corpus stats over the survivors.
    * This is the reason ConnectedComponents exists: dropping one side of
    * each PAIR independently can drop a whole A~B~C cluster or keep two
    * near-dups; the component label gives exactly one survivor.
    *
    * Scale shape: the drop list is |near-dup docs| rows (tiny next to the
    * corpus), anti-joined on the corpus's own hash partitioning; stats
    * are row-local token arithmetic + a |langs|-group aggregate. */
  def d14NeardupDrop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val dropIds = ConnectedComponents.components(nearDupEdges(s, dir))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long")).as("total_tokens"))
      .orderBy("lang")
  }

  private val d14Sql: String =
    s"""WITH RECURSIVE $clustersCtes,
       |todrop AS (SELECT id FROM clusters WHERE id <> component)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens
       |FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM todrop)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** c2: benchmark decontamination sweep — training documents (doc_id ≥
    * 50) sharing any word 5-gram with the held-out split (doc_id < 50),
    * with distinct-shared-gram and distinct-eval-doc counts. Clean
    * documents are absent: the report is the drop list. */
  def c2Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Decontaminate.contamination(
        docs.filter(col("doc_id") >= EvalSplit),
        docs.filter(col("doc_id") < EvalSplit),
        "doc_id", "text", n = 5)
      .orderBy("id")
  }

  /** The c2 gram-hash CTE block (`gr`/`ch`/`eh`: per-doc distinct word
    * 5-gram hex60 hashes, split into the training and eval sides) —
    * shared by the c2 oracle and PipelineOps' decontamination stage so
    * the contamination rule exists in exactly one SQL place. */
  private[queries] val c2GramCtes: String = {
    val n = 5
    val gram = (1 to n).map(j => s"string_split(text,' ')[i+$j]").mkString(" || ' ' || ")
    s"""gr AS (
       |  SELECT doc_id AS id,
       |    unnest(list_distinct(
       |      CASE WHEN len(string_split(text,' ')) >= $n
       |        THEN list_transform(range(0, len(string_split(text,' ')) - ${n - 1}),
       |          i -> $gram)
       |        ELSE [text] END)) AS g
       |  FROM documents),
       |ch AS (SELECT id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |       FROM gr WHERE id >= $EvalSplit),
       |eh AS (SELECT id AS eval_id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |       FROM gr WHERE id < $EvalSplit)""".stripMargin
  }

  private val c2Sql: String =
    s"""WITH $c2GramCtes
       |SELECT c.id,
       |  COUNT(DISTINCT c.gh) AS n_shared,
       |  COUNT(DISTINCT e.eval_id) AS n_eval_docs
       |FROM ch c JOIN eh e ON c.gh = e.gh
       |GROUP BY c.id ORDER BY c.id""".stripMargin

  /** Shard count for the c23 at-rest decontamination gram index — the
    * k6/k8/k9 convention. */
  private[queries] val C23Shards = 16

  /** The c23 at-rest decontamination gram index: the TRAINING side's
    * distinct word-5-gram hashes ((id, gh), exactly [[Decontaminate
    * .gramHashes]]'s rows) landed ONCE per corpus fingerprint as a
    * gh-sharded parquet table — marker-last under the family lock (the
    * k6/i5/c12 discipline). The corpus tokenize+hash+distinct pass is
    * the entire cost of a decontamination sweep (the eval side is tiny
    * by assumption); at 100 TB this turns every sweep after the first
    * into a columnar scan of 8-byte longs instead of a corpus re-shingle
    * — and a SMALL eval probe (one benchmark) partition-prunes to its
    * gram hashes' shards and never touches the rest. */
  private[queries] def decontamGramsRoot(s: SparkSession, dir: String): java.nio.file.Path = {
    val root = ScaleOps.artifactRoot("c23",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    ScaleOps.buildOnce("c23", root, "_INDEX_OK") {
      val t = s.newSession()
      graft.functions.SketchFunctions.register(t)
      Decontaminate.gramHashes(
          Tables(t, dir, "documents").filter(col("doc_id") >= EvalSplit),
          "doc_id", "text", n = 5)
        .withColumn("shard", pmod(col("gh"), lit(C23Shards.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(root.resolve("grams").toString)
    }
    root
  }

  /** c2's contamination report served from the c23 index — the ONE
    * serve implementation (c23's row and PipelineOps' decontamination
    * stage both call it): fresh eval grams (tiny) broadcast against the
    * landed posting table, shard-pruned to the eval grams' own shards,
    * then the identical distinct-count aggregate. Bit-equal to
    * [[c2Decontaminate]] by construction — same gram rule, same hash,
    * same agg — so c23 replays c2's exact oracle SQL. */
  private[queries] def contaminationFromIndex(s: SparkSession, dir: String): DataFrame = {
    val root = decontamGramsRoot(s, dir)
    graft.functions.SketchFunctions.register(s)
    // materialize the eval grams ONCE (tiny by assumption — they ride a
    // broadcast either way): the shard list and the probe side both
    // derive from this single collect, so a serve pays the eval
    // tokenize+hash exactly once, not once per consumer of the frame
    val evalDf = Decontaminate.gramHashes(
        Tables(s, dir, "documents").filter(col("doc_id") < EvalSplit),
        "doc_id", "text", n = 5)
      .select(col("id").as("eval_id"), col("gh"))
    val evalRows = evalDf.collect()
    val evalGrams = s.createDataFrame(
      java.util.Arrays.asList(evalRows: _*), evalDf.schema)
    // the eval probe's shard list: bounded by C23Shards, derived from
    // the (tiny) eval side — a one-benchmark probe reads only its own
    // shard directories; a full eval suite degrades to reading all of a
    // table that is still just (id, gh) longs, never the corpus text
    val shards = evalRows
      .map(r => java.lang.Math.floorMod(r.getLong(1), C23Shards.toLong).toInt)
      .distinct.toSeq
    s.read.parquet(root.resolve("grams").toString)
      .filter(col("shard").isin(shards: _*))
      .join(broadcast(evalGrams), "gh")
      .groupBy(col("id"))
      .agg(countDistinct(col("gh")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** c23: the decontamination sweep SERVED — c2's exact answer (same
    * oracle SQL, bit-for-bit) with the corpus re-shingle replaced by
    * the at-rest gram index. c2 stays the declared pricing sibling that
    * builds from the raw corpus; this row is what the deployment runs
    * on every sweep after the first. */
  def c23DecontaminateServed(s: SparkSession, dir: String): DataFrame =
    contaminationFromIndex(s, dir).orderBy("id")

  // c9 scenario split: eval [0, EvalSplit), static corpus
  // [EvalSplit, C9CorpusEnd), stream [C9CorpusEnd, C9StreamEnd) in
  // C9Batches micro-batches by doc_id mod C9Batches (so near-dup
  // partners land in different batches and in BOTH arrival orders — the
  // retro-drop case compaction exists for). Corpus ids all precede
  // stream ids, so the gate's corpus-always-wins branch coincides with
  // min-id-wins here. The stream window is CAPPED: what c9 verifies is
  // the batch-sequencing composition (per-batch cost ∝ batch — the 100 TB
  // property), not corpus-scale sweep throughput, which m1/d14 already
  // price; an uncapped window just re-runs a 3-wave pipeline over the
  // whole table each bench rep (23.8 s at sf0.1 for zero extra coverage).
  private val C9CorpusEnd = 100L
  private val C9StreamEnd = 600L
  private val C9Batches = 3

  /** c9: the CONTINUOUS-INGEST dedup compaction composition, end to end
    * in batch form — the same `StreamOps.ingestBatchCompact` code path
    * the streaming pipeline runs per micro-batch, driven sequentially
    * over `C9Batches` arrival waves, then compacted:
    *
    *   1. each wave sweeps against the static corpus index ∪ the landed
    *      index deltas of earlier waves (corpus/earlier text never
    *      re-shingled — the per-batch cost tracks the batch);
    *   2. gate drops (larger-id pair member; corpus partner wins),
    *      decontamination against the eval split, idempotent
    *      batch_id-partitioned landing;
    *   3. [[graft.streaming.StreamOps.compactLanded]] replays the drop
    *      policy over the accumulated pair log, retro-dropping landed
    *      docs a later smaller-id arrival outranked.
    *
    * The oracle is the ONE-SHOT sweep over the whole corpus ∪ stream
    * union (m1's replayed MinHash chain + the drop policy + c2's
    * replayed n-gram decontamination): the sequential gate + compaction
    * must equal processing everything in a single batch — the property
    * that keeps a rolling 100 TB ingest's dedup index honest. Output is
    * d14's per-language corpus-stat shape over the compacted landing. */
  def c9IngestCompaction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val corpus = docs
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"), col("text"))
    // in-session static index (50 docs); c12 runs the SAME composition
    // from the bucketed at-rest form instead
    val staticIndex = MinHashDedup.buildDedupIndex(corpus, "doc_id", "text")
    ingestCompactionRun(s, dir, staticIndex)
  }

  /** The c9/c12 shared driver: `C9Batches` sequential arrival waves
    * through `StreamOps.ingestBatchCompact` against `staticIndex`, then
    * the compaction replay and the d14-shaped per-language rollup. */
  private def ingestCompactionRun(s: SparkSession, dir: String,
      staticIndex: MinHashDedup.DedupIndex): DataFrame =
    ingestWavesThen(s, dir, staticIndex) { (root, corpusIds) =>
      graft.streaming.StreamOps
        .compactLanded(s, s"$root/landed", s"$root/state", corpusIds, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
            .cast("long")).as("total_tokens"))
        .orderBy("lang")
    }

  /** The c9 ingest protocol (3 waves through [[graft.streaming.StreamOps
    * .ingestBatchCompact]] under a temp root) followed by a caller read
    * over (root, corpusIds) — shared by c9/c12's compacted rollup and
    * c19's per-frontier lineage reads, so the protocol cannot diverge
    * between the corpus and the time-travel view of it. */
  private def ingestWavesThen(s: SparkSession, dir: String,
      staticIndex: MinHashDedup.DedupIndex)(
      finish: (String, DataFrame) => DataFrame): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") < EvalSplit)
      .select(col("doc_id"), col("text"))
    val stream = docs
      .filter(col("doc_id") >= C9CorpusEnd && col("doc_id") < C9StreamEnd)
    val corpusIds = docs
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"))
    val root = java.nio.file.Files.createTempDirectory("graft_c9_").toString
    try {
      (0 until C9Batches).foreach { b =>
        val batch = stream
          .filter(pmod(col("doc_id"), lit(C9Batches.toLong)) === b.toLong)
        // validateDisjoint=false: pmod wave split, disjoint by
        // construction (the c14 rationale)
        StreamOps.ingestBatchCompact(batch, staticIndex, corpusIds, evalSet,
          "doc_id", "text", NearDupThreshold, n = 5,
          outPath = s"$root/landed", statePath = s"$root/state",
          batchId = b.toLong, validateDisjoint = false)
      }
      val res = finish(root, corpusIds)
      // bounded result: materialize before the temp state is deleted —
      // the returned frame must not lazily re-read it
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      staticIndex.release()
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  /** c12: c9's continuous-ingest composition served from the AT-REST
    * static index — the deployment boundary c9 leaves open. The three
    * [[MinHashDedup.DedupIndex]] tables (bands bucketed by (band, sig),
    * shingle hashes and sizes bucketed by id) are trained AT MOST ONCE
    * per corpus fingerprint in a SIBLING session (`newSession()`) and
    * landed as EXTERNAL bucketed tables (marker written last — crash-safe
    * like i5); later sessions or PROCESSES re-attach the files with a
    * `CLUSTERED BY` DDL instead of rebuilding (the s4 pattern — the
    * index bytes live once on disk, bucket metadata in the catalog).
    * Every wave's sweep then probes the loaded tables; corpus text is
    * never read in the serving session. Oracle = c9's one-shot SQL: the
    * at-rest round-trip must not change a single answer bit. */
  def c12IngestAtRest(s: SparkSession, dir: String): DataFrame =
    ingestCompactionRun(s, dir, c12StaticIndex(s, dir))

  private def c12StaticIndex(s: SparkSession, dir: String): MinHashDedup.DedupIndex = {
    val fp = ScaleOps.dataFingerprint(dir, Seq("documents"))
    val root = ScaleOps.artifactRoot("c12", fp)
    val prefix = s"graft_c12_$fp"
    val bucketCols = Map("bands" -> Seq("band", "sig"),
      "shingles" -> Seq("id"), "sizes" -> Seq("id"))
    val marker = root.resolve("_INDEX_OK")
    // registered tables are only trustworthy while the marker survives:
    // artifactRoot's stale-fingerprint prune (a session alternating data
    // dirs) deletes files out from under still-registered catalog entries
    val registered = bucketCols.keys.forall(t =>
      s.catalog.tableExists(s"${prefix}_$t"))
    if (registered && !java.nio.file.Files.exists(marker))
      bucketCols.keys.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    // train at most once per fingerprint, under the family lock (marker
    // LAST via buildOnce), in a sibling session: nothing reaches the
    // serving side except through the landed files + their catalog
    // registrations (saveAsTable registers in the shared catalog)
    ScaleOps.buildOnce("c12", root, "_INDEX_OK") {
      val t = s.newSession()
      val corpus = Tables(t, dir, "documents")
        .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
        .select(col("doc_id"), col("text"))
      val idx = MinHashDedup.buildDedupIndex(corpus, "doc_id", "text")
      try Seq("bands" -> idx.bands, "shingles" -> idx.shingleHashes,
        "sizes" -> idx.sizes).foreach { case (tn, df) =>
        val cols = bucketCols(tn)
        df.write.mode("overwrite").format("parquet")
          .bucketBy(8, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .option("path", root.resolve(tn).toString)
          .saveAsTable(s"${prefix}_$tn")
      } finally idx.release()
    }
    if (!bucketCols.keys.forall(t => s.catalog.tableExists(s"${prefix}_$t"))) {
      // files landed by an earlier process/session: re-attach by DDL,
      // no rewrite
      bucketCols.foreach { case (t, cols) =>
        val p = root.resolve(t)
        val cl = cols.mkString(", ")
        s.sql(s"CREATE TABLE IF NOT EXISTS ${prefix}_$t " +
          s"(${s.read.parquet(p.toString).schema.toDDL}) USING PARQUET " +
          s"CLUSTERED BY ($cl) SORTED BY ($cl) INTO 8 BUCKETS LOCATION '$p'")
      }
    }
    MinHashDedup.loadDedupIndex(s, prefix)
  }

  /** c10: per-source duplication factor — c1's dedup clusters rolled up
    * to the provenance dimension: for each source, how many docs sit in
    * ANY near-dup cluster, how many are redundant (non-representative,
    * d14's drop policy), and the redundancy rate on the exact ppm grid.
    * This is the table that decides whether a source gets document-level
    * dedup or wholesale exclusion (c7 shows who copies whom; this shows
    * how much of each source survives). The oracle replays the ENTIRE
    * chain — m1 pairs → recursive-CTE components → rollup. Scale shape:
    * the cluster table is |paired docs| rows (tiny next to the corpus),
    * LEFT-joined onto the corpus's own partitioning; the report is a
    * |sources|-row aggregate. */
  def c10SourceDupFactor(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val comps = ConnectedComponents.components(nearDupEdges(s, dir))
      .withColumnRenamed("id", "doc_id")
    docs.join(comps, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .as("n_in_clusters"),
        sum(when(col("component").isNotNull && col("component") =!= col("doc_id"),
          1L).otherwise(0L)).as("n_redundant"))
      .withColumn("redundancy_ppm",
        expr("(1000000 * n_redundant) div n_docs"))
      .orderBy("source")
  }

  private val c10Sql: String =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN c.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_in_clusters,
       |  CAST(SUM(CASE WHEN c.id IS NOT NULL AND c.component <> d.doc_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
       |  CAST((1000000 * SUM(CASE WHEN c.id IS NOT NULL AND c.component <> d.doc_id
       |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS redundancy_ppm
       |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
       |GROUP BY source ORDER BY source""".stripMargin

  /** The drop/decontamination CTE block of the c9 chain — expects the
    * window's `fpairs` CTE to precede it. Shared by c9's per-language
    * rollup and c18's composed-gate promotion metric. */
  private val c9DropsCtesSql: String = {
    val n = 5
    val gram = (1 to n).map(j => s"string_split(text,' ')[i+$j]").mkString(" || ' ' || ")
    s"""drops AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT id_b AS id FROM fpairs
       |    UNION ALL
       |    SELECT id_a AS id FROM fpairs WHERE id_b < $C9CorpusEnd) z
       |  WHERE id >= $C9CorpusEnd),
       |gr AS (
       |  SELECT doc_id AS id,
       |    unnest(list_distinct(
       |      CASE WHEN len(string_split(text,' ')) >= $n
       |        THEN list_transform(range(0, len(string_split(text,' ')) - ${n - 1}),
       |          i -> $gram)
       |        ELSE [text] END)) AS g
       |  FROM documents WHERE doc_id < $EvalSplit
       |    OR (doc_id >= $C9CorpusEnd AND doc_id < $C9StreamEnd)),
       |contaminated AS (
       |  SELECT DISTINCT c.id
       |  FROM (SELECT id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |        FROM gr WHERE id >= $C9CorpusEnd) c
       |  JOIN (SELECT CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |        FROM gr WHERE id < $EvalSplit) e ON c.gh = e.gh)""".stripMargin
  }

  private val c9Sql: String =
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |$c9DropsCtesSql
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens
       |FROM documents
       |WHERE doc_id >= $C9CorpusEnd AND doc_id < $C9StreamEnd
       |  AND doc_id NOT IN (SELECT id FROM drops)
       |  AND doc_id NOT IN (SELECT id FROM contaminated)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** c20: time-travel read of the DEDUP-CLUSTER state — c14's rolling
    * CC driven through all three waves, then the label table AS OF
    * wave 1 ([[graft.streaming.StreamOps.labelsAsOf]] — a snapshot
    * pick, within the keep=2 retention) rolled up per cluster. The
    * oracle recomputes connected components over the corpus as it
    * stood at that frontier (static corpus + waves 0..1), so a
    * snapshot that leaked any wave-2 edge goes red. With c19 (corpus)
    * and k15/k16 (search indexes), every rolling text-side state
    * family now has a lineage read. */
  def c20AsofClusters(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    // served from the SHARED c18s artifact — the composed stream's CC
    // advance lands the identical label snapshots a solo rollingCcBatch
    // drive would (the one-sweep-many-gates equality c18's oracle pins),
    // so the lineage read needs no re-drive of its own
    val state = s"${c18SharedRoot(s, dir)}/state"
    def frontier(n: Long) = StreamOps.labelsAsOf(s, state,
        c18sSeedUnreachable("label"),
        org.apache.spark.sql.types.LongType, asOf = n)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit(n).as("as_of"), col("component"), col("n_docs"))
    val res = frontier(1L).unionByName(frontier(2L))
      .orderBy("as_of", "component")
    // bounded (per-cluster rollup): materialize before returning — a
    // lazy frame over the shared c18s directory could have its files
    // pruned by a corpus-fingerprint change before the caller executes
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** Per-frontier transitive closure over ONE minhash chain: the
    * frontier's edge set is the arrival-filtered fpairs (a pair
    * surfaced by wave N iff both its stream endpoints arrived — the
    * c19 derivation), closed into a `cl$n(id, component)` CTE. Shared
    * by the c20 (clusters) and c21 (representatives) lineage oracles. */
  private def frontierClosureCtes(n: Int): String =
    s"""f$n AS (
       |  SELECT id_a, id_b FROM fpairs
       |  WHERE (id_a < $C9CorpusEnd OR id_a % $C9Batches <= $n)
       |    AND (id_b < $C9CorpusEnd OR id_b % $C9Batches <= $n)),
       |sym$n AS (
       |  SELECT id_a AS src, id_b AS dst FROM f$n
       |  UNION
       |  SELECT id_b, id_a FROM f$n),
       |reach$n(id, r) AS (
       |  SELECT src, src FROM sym$n
       |  UNION
       |  SELECT reach$n.id, sym$n.dst
       |  FROM reach$n JOIN sym$n ON reach$n.r = sym$n.src),
       |cl$n AS (SELECT id, MIN(r) AS component FROM reach$n GROUP BY id)""".stripMargin

  private lazy val c20Sql: String = {
    def rollup(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, component, COUNT(*) AS n_docs
         |FROM cl$n GROUP BY component""".stripMargin
    s"""WITH RECURSIVE ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |${frontierClosureCtes(1)},
       |${frontierClosureCtes(2)}
       |${rollup(1)}
       |UNION ALL
       |${rollup(2)}
       |ORDER BY as_of, component""".stripMargin
  }

  /** c21: time-travel read of the REPRESENTATIVE state — c17's rolling
    * argmax monoid driven through all three waves, then the rep table
    * AS OF waves 1 and 2 ([[graft.streaming.StreamOps.repAsOf]], the
    * labelsAsOf contract) shaped like c17's report. The oracle closes
    * each frontier's clusters over arrival-filtered pairs and re-ranks
    * representatives inside them with c16's exact score arithmetic —
    * a snapshot whose argmax saw any wave-2 doc goes red. */
  def c21AsofReps(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    // the c20 serving shape for the representative monoid: the composed
    // stream's repAdvance landed the same snapshots a solo
    // rollingRepBatch drive would — read, don't re-drive
    val state = s"${c18SharedRoot(s, dir)}/state"
    def frontier(n: Long) = StreamOps.repAsOf(s, state,
        c18sSeedUnreachable("rep"),
        org.apache.spark.sql.types.LongType, asOf = n)
      .filter(col("n_docs") >= 2)
      .select(lit(n).as("as_of"), col("component"), col("n_docs"),
        col("best_doc"), col("best_q_e6"),
        expr("q_sum div n_docs").as("mean_q_e6"))
    val res = frontier(1L).unionByName(frontier(2L))
      .orderBy("as_of", "component")
    // bounded (per-cluster reps): materialize before returning (the c20
    // rule — lazy frames over the shared c18s directory can outlive it)
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  private lazy val c21Sql: String = {
    def repFrontier(n: Int): String =
      s"""m$n AS (SELECT c.component, c.id AS doc_id, sc.q_e6
         |      FROM cl$n c JOIN sc ON sc.doc_id = c.id),
         |r$n AS (SELECT component, doc_id, q_e6,
         |        ROW_NUMBER() OVER (PARTITION BY component
         |          ORDER BY q_e6 DESC, doc_id) AS rk
         |      FROM m$n),
         |agg$n AS (SELECT component, COUNT(*) AS n_docs,
         |          CAST(SUM(q_e6) AS BIGINT) AS q_sum
         |        FROM m$n GROUP BY component)""".stripMargin
    def sel(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, a.component, a.n_docs,
         |  r$n.doc_id AS best_doc, r$n.q_e6 AS best_q_e6,
         |  a.q_sum // a.n_docs AS mean_q_e6
         |FROM agg$n a JOIN r$n ON r$n.component = a.component AND r$n.rk = 1
         |WHERE a.n_docs >= 2""".stripMargin
    s"""WITH RECURSIVE ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |${frontierClosureCtes(1)},
       |${frontierClosureCtes(2)},
       |$qScoreCteSql,
       |${repFrontier(1)},
       |${repFrontier(2)}
       |${sel(1)}
       |UNION ALL
       |${sel(2)}
       |ORDER BY as_of, component""".stripMargin
  }

  /** c19: TIME-TRAVEL reads of the landed training corpus — the
    * training-data lineage query: after the full c9 ingest (3 waves,
    * per-wave dedup + decontamination, retro-drops logged), read the
    * clean corpus AS OF each wave frontier via
    * [[graft.streaming.StreamOps.compactLanded]]'s `asOf`: only batches
    * landed by then, and only the retro-drops the pair log had
    * SURFACED by then — a doc that a later wave revealed as a near-dup
    * was still in the corpus at the earlier frontier, and reproducing
    * that training run needs it back. One row per frontier
    * (as_of, n_docs, total_tokens); the latest row equals c9's total.
    * The oracle re-derives each frontier's drop set from first
    * principles: a pair has surfaced by wave N iff BOTH its stream
    * endpoints arrived by N (the sweep logs each pair at its later
    * endpoint's wave). */
  def c19AsofCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    // served from the SHARED c18s artifact: the composed stream's
    // promotion gate is the same sweep + promoteClean chain the solo
    // ingest ran, so the landed corpus and its pair log are identical —
    // each frontier read is a partition-pruned compactLanded(asOf)
    val root = c18SharedRoot(s, dir)
    val corpusIds = Tables(s, dir, "documents")
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"))
    import s.implicits._
    (0 until C9Batches).map { n =>
      val at = StreamOps.compactLanded(s, s"$root/landed", s"$root/state",
          corpusIds, "doc_id", asOf = n.toLong)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum((length(col("text")) -
              length(expr("replace(text, ' ', '')")) + 1).cast("long")),
            lit(0L)).as("total_tokens"))
        .head
      (n.toLong, at.getLong(0), at.getLong(1))
    }.toDF("as_of", "n_docs", "total_tokens").orderBy("as_of")
  }

  /** c22: the CORPUS CHANGELOG — the per-transition diff between
    * consecutive c19 frontiers, the "what changed between build N−1 and
    * build N" question a data platform answers before retraining: for
    * each wave transition, the documents that ENTERED the clean corpus
    * (landed at wave N and survived its gates) and the documents
    * REMOVED from it (present at N−1, gone at N — a retro-drop whose
    * near-dup partner only surfaced at wave N), each with its token
    * mass. c19 nets these out into per-frontier totals; the changelog
    * is the movement itself — entered − removed = c19's delta
    * (spec-pinned). Served from the SHARED c18s artifact by two
    * partition-pruned as-of reads per transition, diffed with one
    * full-outer join on doc_id; the aggregate is 1 row per transition. */
  def c22CorpusChangelog(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val root = c18SharedRoot(s, dir)
    val corpusIds = Tables(s, dir, "documents")
      .filter(col("doc_id") >= EvalSplit && col("doc_id") < C9CorpusEnd)
      .select(col("doc_id"))
    // each INTERIOR frontier is both a transition's current side and the
    // next one's previous side: pin every frontier once (eager, bounded
    // to (id, toks) columns) instead of re-running compactLanded's
    // distinct + anti-join chain twice per interior wave
    val member = (0 until C9Batches).map { n =>
      StreamOps.compactLanded(s, s"$root/landed",
          s"$root/state", corpusIds, "doc_id", asOf = n.toLong)
        .select(col("doc_id"),
          (length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
            .cast("long").as("toks"))
        .localCheckpoint()
    }
    import s.implicits._
    (1 until C9Batches).map { n =>
      val j = member(n).as("c")
        .join(member(n - 1).as("p"),
          col("c.doc_id") === col("p.doc_id"), "full_outer")
      // bounded: one aggregate row per transition (the c19 .head rule)
      val at = j.agg(
        sum(when(col("p.doc_id").isNull, 1L).otherwise(0L)).as("n_entered"),
        coalesce(sum(when(col("p.doc_id").isNull, col("c.toks"))), lit(0L))
          .as("entered_tokens"),
        sum(when(col("c.doc_id").isNull, 1L).otherwise(0L)).as("n_removed"),
        coalesce(sum(when(col("c.doc_id").isNull, col("p.toks"))), lit(0L))
          .as("removed_tokens")).head
      (n.toLong, at.getLong(0), at.getLong(1), at.getLong(2), at.getLong(3))
    }.toDF("to_wave", "n_entered", "entered_tokens", "n_removed",
        "removed_tokens")
      .orderBy("to_wave")
  }

  private lazy val c22Sql: String = {
    def member(n: Int): String =
      s"""mem$n AS (
         |  SELECT doc_id, CAST(length(text) - length(replace(text, ' ', ''))
         |    + 1 AS BIGINT) AS toks
         |  FROM documents
         |  WHERE ${c9FrontierWhere(n)})""".stripMargin
    def trans(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS to_wave,
         |  CAST(SUM(CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_entered,
         |  CAST(COALESCE(SUM(CASE WHEN p.doc_id IS NULL THEN c.toks END), 0)
         |    AS BIGINT) AS entered_tokens,
         |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(COALESCE(SUM(CASE WHEN c.doc_id IS NULL THEN p.toks END), 0)
         |    AS BIGINT) AS removed_tokens
         |FROM mem$n c FULL OUTER JOIN mem${n - 1} p ON c.doc_id = p.doc_id""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |$c9DropsCtesSql,
       |${(0 until C9Batches).map(member).mkString(",\n")}
       |${(1 until C9Batches).map(trans).mkString("\nUNION ALL\n")}
       |ORDER BY to_wave""".stripMargin
  }

  /** The frontier-membership predicate of the c9 landed corpus as of
    * wave `n` — docs whose wave arrived, minus drops whose pair had
    * surfaced (both stream endpoints arrived), minus decontamination
    * losers (dropped at their OWN landing wave). Expects `fpairs` and
    * `contaminated` CTEs upstream; shared by the c19 lineage oracle and
    * the c22 changelog oracle so the membership rule has one SQL copy. */
  private def c9FrontierWhere(n: Int): String =
    s"""doc_id >= $C9CorpusEnd AND doc_id < $C9StreamEnd
       |  AND doc_id % $C9Batches <= $n
       |  AND doc_id NOT IN (
       |    SELECT DISTINCT id FROM (
       |      SELECT id_b AS id, id_a AS other FROM fpairs
       |      UNION ALL
       |      SELECT id_a AS id, id_b AS other FROM fpairs
       |      WHERE id_b < $C9CorpusEnd) z
       |    WHERE id >= $C9CorpusEnd AND id % $C9Batches <= $n
       |      AND (other < $C9CorpusEnd OR other % $C9Batches <= $n))
       |  AND doc_id NOT IN (SELECT id FROM contaminated)""".stripMargin

  private lazy val c19Sql: String = {
    def frontier(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, COUNT(*) AS n_docs,
         |  COALESCE(CAST(SUM(length(text) - length(replace(text, ' ', ''))
         |    + 1) AS BIGINT), 0) AS total_tokens
         |FROM documents
         |WHERE ${c9FrontierWhere(n)}""".stripMargin
    s"""WITH ${ScaleOps.m1PairsCtesAt(NearDupThreshold,
           s"WHERE doc_id >= $EvalSplit AND doc_id < $C9StreamEnd")},
       |$c9DropsCtesSql
       |${(0 until C9Batches).map(frontier).mkString("\nUNION ALL\n")}
       |ORDER BY as_of""".stripMargin
  }

  /** c6: CROSS-SPLIT leakage audit — d9's content-hash split composed
    * with the c2 gram-overlap machinery, run INTERNALLY: how many val
    * and test documents share any word 5-gram with any train document?
    * This is the audit a corpus build runs after splitting (c2 sweeps
    * against an EXTERNAL eval set; this guards the split itself — d9's
    * content-keyed split stops exact-duplicate leakage, and this query
    * measures what near-duplicate text still leaks through).
    *
    * Scale shape: split assignment is row-local hash arithmetic, the
    * overlap is one hash equi-join on gram hashes (train side distinct
    * grams only), and the report is a 2-row aggregate — no pairwise doc
    * comparison anywhere. */
  def c6SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s) // gramHashes' hex60_array
    val split = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        pmod(graft.operators.PortableHash.hex60(col("text")), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
    val grams = Decontaminate.gramHashes(split, "doc_id", "text", n = 5)
      .join(split.select(col("doc_id").as("id"), col("split")), "id")
    val trainGrams = grams.filter(col("split") === "train")
      .select(col("gh")).distinct()
    val leaky = grams.filter(col("split") =!= "train")
      .join(trainGrams, "gh")
      .select(col("split"), col("id")).distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaky"))
    split.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaky, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaky"), lit(0L)).as("n_leaky"))
      .orderBy("split")
  }

  private val c6Sql: String = {
    val n = 5
    val gram = (1 to n).map(j => s"string_split(text,' ')[i+$j]").mkString(" || ' ' || ")
    s"""WITH sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 90 THEN 'train'
       |         WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 95 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id AS id, split,
       |    unnest(list_distinct(
       |      CASE WHEN len(string_split(text,' ')) >= $n
       |        THEN list_transform(range(0, len(string_split(text,' ')) - ${n - 1}),
       |          i -> $gram)
       |        ELSE [text] END)) AS g
       |  FROM sp),
       |gh AS (SELECT id, split, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh FROM gr),
       |tg AS (SELECT DISTINCT gh FROM gh WHERE split = 'train'),
       |leaky AS (
       |  SELECT split, COUNT(*) AS n_leaky FROM (
       |    SELECT DISTINCT e.split, e.id
       |    FROM gh e JOIN tg ON e.gh = tg.gh
       |    WHERE e.split <> 'train') z
       |  GROUP BY split)
       |SELECT sp.split, COUNT(*) AS n_docs, COALESCE(MAX(leaky.n_leaky), 0) AS n_leaky
       |FROM sp LEFT JOIN leaky ON sp.split = leaky.split
       |WHERE sp.split <> 'train'
       |GROUP BY sp.split ORDER BY sp.split""".stripMargin
  }

  /** c7: source-overlap provenance matrix — m1's near-dup pairs rolled
    * up to (source_a, source_b): which sources copy from which (diagonal
    * = within-source duplication, off-diagonal = cross-source
    * contamination/mirroring — the signal that decides whether to drop a
    * whole source rather than dedup document-by-document). The doc→source
    * dimension is a broadcast join onto the pair list; the oracle replays
    * the ENTIRE MinHash chain (the shared m1 CTEs) plus the rollup, so
    * the provenance numbers are hash-verified end to end. Source pair
    * order is normalized (least, greatest) so each unordered source pair
    * appears once. */
  def c7SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text", NearDupThreshold)
    pairs
      .join(broadcast(src.select(col("doc_id").as("id_a"), col("source").as("sa"))), "id_a")
      .join(broadcast(src.select(col("doc_id").as("id_b"), col("source").as("sb"))), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  private val c7Sql: String =
    s"""WITH ${graft.queries.ScaleOps.m1PairsCtes}
       |SELECT LEAST(da.source, db.source) AS source_a,
       |  GREATEST(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM fpairs
       |JOIN documents da ON fpairs.id_a = da.doc_id
       |JOIN documents db ON fpairs.id_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** c8: dedup aggressiveness sweep — near-dup pair counts at escalating
    * Jaccard thresholds (0.3 / 0.5 / 0.7) off ONE MinHash pass: the
    * tuning curve a corpus build reads before committing to a dedup
    * threshold (how many pairs — i.e. how much of the corpus — each
    * setting would implicate). The banding is run once at the loosest
    * threshold; tighter thresholds are a row-local filter over the same
    * verified pairs, so the sweep costs one extra aggregate, not three
    * passes. Thresholds ride as an explode (no join); a threshold that
    * implicates zero pairs is absent on both engines identically. */
  def c8ThresholdSweep(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.nearDuplicates(
        Tables(s, dir, "documents"), "doc_id", "text", NearDupThreshold)
      .select(col("jaccard"),
        explode(typedLit(Seq(0.3, 0.5, 0.7))).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("threshold")

  private val c8Sql: String =
    s"""WITH ${ScaleOps.m1PairsCtes},
       |th AS (SELECT unnest([0.3, 0.5, 0.7]) AS threshold)
       |SELECT threshold, COUNT(*) AS n_pairs
       |FROM fpairs CROSS JOIN th
       |WHERE jaccard >= threshold
       |GROUP BY threshold ORDER BY threshold""".stripMargin

  /** d35: per-source quality SCORECARD — the one-page report a corpus
    * curator reads per ingest source: document count, total tokens (d2
    * convention), mean quality score, and within-source near-dup pair
    * count (c7's diagonal). The mean dodges FP order-dependence by
    * lifting d3's 6dp-grid score to exact integer micro-units and
    * dividing with integer `div` — a BIGINT mean on the 1e-6 grid, not
    * an order-sensitive AVG of doubles. One corpus scan for the
    * row-local stats, the shared MinHash chain for the pair counts,
    * broadcast-joined per source. */
  def d35SourceScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val charLen = length(col("text"))
    val tokens = charLen - length(expr("replace(text, ' ', '')")) + 1
    val punct = (charLen - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val score = round(
      least(lit(1.0), tokens.cast("double") / lit(200.0)) *
        (lit(1.0) - least(lit(1.0), punct / charLen.cast("double") * 10)), 6)
    val stats = docs.select(col("source"), tokens.cast("long").as("nt"),
        round(score * 1e6).cast("long").as("q_e6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        sum(col("q_e6")).as("q_sum"))
      .withColumn("mean_quality_e6", expr("q_sum div n_docs"))
      .drop("q_sum")
    val src = docs.select(col("doc_id"), col("source"))
    val dupPairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text", NearDupThreshold)
      .join(broadcast(src.select(col("doc_id").as("id_a"), col("source").as("sa"))), "id_a")
      .join(broadcast(src.select(col("doc_id").as("id_b"), col("source").as("sb"))), "id_b")
      .filter(col("sa") === col("sb"))
      .groupBy(col("sa").as("source"))
      .agg(count(lit(1)).as("n_dup_pairs"))
    stats.join(dupPairs, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("mean_quality_e6"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"))
      .orderBy("source")
  }

  private val d35Sql: String =
    s"""WITH ${ScaleOps.m1PairsCtes},
       |st AS (
       |  SELECT source,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
       |    CAST(SUM(CAST(ROUND(ROUND(
       |      least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 200.0)
       |        * (1.0 - least(1.0,
       |            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |            / CAST(length(text) AS DOUBLE) * 10)), 6) * 1e6, 0) AS BIGINT)) AS BIGINT) AS q_sum
       |  FROM documents GROUP BY source),
       |dp AS (
       |  SELECT da.source, COUNT(*) AS n_dup_pairs
       |  FROM fpairs
       |  JOIN documents da ON fpairs.id_a = da.doc_id
       |  JOIN documents db ON fpairs.id_b = db.doc_id
       |  WHERE da.source = db.source
       |  GROUP BY da.source)
       |SELECT st.source, st.n_docs, st.total_tokens,
       |  q_sum // n_docs AS mean_quality_e6,
       |  COALESCE(dp.n_dup_pairs, 0) AS n_dup_pairs
       |FROM st LEFT JOIN dp ON st.source = dp.source
       |ORDER BY st.source""".stripMargin

  /** c3: decontamination composed INTO the cleaning pipeline — the order a
    * production corpus build actually runs: drop training documents that
    * overlap the held-out split (anti-join against the c2 report), exact-
    * dedup the survivors keeping the smallest id, and profile docs/tokens
    * per language. Every stage is the operator already pinned alone (c2
    * contamination, d1-style dedup, d2 token convention) — this query
    * pins that they COMPOSE in one plan: the contamination join feeds the
    * dedup window feeds the profile aggregate with no driver round-trip
    * between stages. */
  def c3CleanDecontaminated(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= EvalSplit)
    val evalSet = docs.filter(col("doc_id") < EvalSplit)
    val contaminated = Decontaminate
      .contamination(corpus, evalSet, "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"))
    val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
    val kept = clean
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("_rk") === 1)
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long")).as("total_tokens"))
      .orderBy("lang")
  }

  private val c3Sql: String = {
    val n = 5
    val gram = (1 to n).map(j => s"string_split(text,' ')[i+$j]").mkString(" || ' ' || ")
    s"""WITH gr AS (
       |  SELECT doc_id AS id,
       |    unnest(list_distinct(
       |      CASE WHEN len(string_split(text,' ')) >= $n
       |        THEN list_transform(range(0, len(string_split(text,' ')) - ${n - 1}),
       |          i -> $gram)
       |        ELSE [text] END)) AS g
       |  FROM documents),
       |ch AS (SELECT id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |       FROM gr WHERE id >= $EvalSplit),
       |eh AS (SELECT id AS eval_id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh
       |       FROM gr WHERE id < $EvalSplit),
       |bad AS (SELECT DISTINCT c.id FROM ch c JOIN eh e ON c.gh = e.gh),
       |clean AS (
       |  SELECT * FROM documents d
       |  WHERE d.doc_id >= $EvalSplit
       |    AND NOT EXISTS (SELECT 1 FROM bad WHERE bad.id = d.doc_id)),
       |kept AS (
       |  SELECT * FROM clean
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
       |    AS total_tokens
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** c4: triangle census of the near-dup graph — edges are d6's exact
    * token-Jaccard ≥ 0.5 pairs (doc_id < 100 block), triangles counted by
    * the ordered 3-way equi-join (a<b<c — each triangle exactly once),
    * wedges by Σ C(deg, 2), and the global clustering coefficient
    * 3·T/W closes the report. Cluster DENSITY is the dedup-quality signal
    * components can't give: a chain A~B~C with no A~C edge (cc → 0)
    * merges transitively on weak pairwise evidence, while a
    * triangle-closed cluster (cc → 1) is a true duplicate family. Join
    * cost tracks the wedge count — the standard distributed triangle
    * shape — never |V|³; all integer arithmetic except the final rounded
    * ratio. */
  def c4Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = TextOps
      .jaccardEdges(Tables(s, dir, "documents").filter(col("doc_id") < 100), 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .join(edges.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nEdges.crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0L,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  private val c4Sql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM docs),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |edges AS (
      |  SELECT a, b FROM pairs
      |  JOIN sizes sa ON a = sa.doc_id
      |  JOIN sizes sb ON b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b = e2.a
      |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
      |deg AS (
      |  SELECT id, COUNT(*) AS d FROM (
      |    SELECT a AS id FROM edges UNION ALL SELECT b AS id FROM edges) z
      |  GROUP BY id),
      |w AS (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges FROM deg),
      |ne AS (SELECT COUNT(*) AS n_edges FROM edges)
      |SELECT ne.n_edges, w.n_wedges, tri.n_triangles,
      |  CASE WHEN w.n_wedges > 0
      |       THEN ROUND(3.0 * CAST(tri.n_triangles AS DOUBLE)
      |                  / CAST(w.n_wedges AS DOUBLE), 6)
      |       ELSE 0.0 END AS clustering_coeff
      |FROM ne, w, tri""".stripMargin

  /** c5: PageRank over the near-dup graph (same d6 Jaccard ≥ 0.5 edge set
    * as c4) — centrality ranks the documents other documents copy from:
    * the natural "canonical source" pick when a dedup cluster must keep
    * one representative and min-id (c1) is arbitrary. The whole
    * computation is 64-bit integer arithmetic so three damped iterations
    * replay bit-for-bit in any engine: ranks live on a 1e12 grid,
    * damping 0.85 is the rational 85/100 applied as
    * `(85 * r) div (100 * deg)` with truncating integer division, and the
    * uniform base term is precomputed the same way. Per iteration the
    * shape is one equi-join of the symmetric edge list against the
    * |V|-row rank table plus one groupBy(dst) — the standard distributed
    * PageRank step; 3 fixed iterations, no convergence loop (the oracle
    * unrolls the same three). */
  def c5Pagerank(s: SparkSession, dir: String): DataFrame = {
    val und = TextOps
      .jaccardEdges(Tables(s, dir, "documents").filter(col("doc_id") < 100), 0.5)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // materializes both persists (deg derives from sym)
    if (n == 0L) {
      import s.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("doc_id", "degree", "pagerank")
    }
    val Scale = 1000000000000L
    // driver-side Long division truncates toward zero exactly like the
    // engines' integer div on these positive operands
    val init = Scale / n
    val base = (15L * Scale) / (100L * n)
    var ranks = deg.select(col("src").as("id"), lit(init).as("r"))
    for (_ <- 1 to 3) {
      ranks = sym.join(ranks, col("src") === col("id"))
        .join(deg, "src")
        .select(col("dst"), expr("(85 * r) div (100 * d)").as("contrib"))
        .groupBy(col("dst"))
        .agg((sum(col("contrib")) + lit(base)).as("r"))
        .select(col("dst").as("id"), col("r"))
    }
    ranks.join(deg, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("d").as("degree"),
        col("r").as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc_id")).limit(10)
  }

  /** The c5/c11 graph derivation as shared CTE text: exact-Jaccard
    * edges (threshold 0.5) over docs 0-99, symmetrized, with degrees —
    * both graph oracles replay the SAME edge chain, so a drift in the
    * similarity derivation breaks both, loudly. */
  private val graphCtes: String =
    """docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM docs),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |edges AS (
      |  SELECT a, b FROM pairs
      |  JOIN sizes sa ON a = sa.doc_id
      |  JOIN sizes sb ON b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5),
      |sym AS (
      |  SELECT a AS src, b AS dst FROM edges
      |  UNION ALL
      |  SELECT b, a FROM edges),
      |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src)""".stripMargin

  /** c11: label-propagation communities (sync LPA, 3 rounds) over the
    * same doc-similarity graph as c5 — the cheap community detector a
    * corpus pipeline runs when connected components (c1) merge too
    * aggressively: labels move only to the MAJORITY neighbor label
    * (ties → smallest), so bridges between dense near-dup blocks don't
    * fuse them. Deterministic by construction (synchronous update,
    * count-desc/label-asc tie-break) and fully replayed by the oracle's
    * three unrolled rounds. Scale shape: each round is one
    * neighbor-label join + majority agg — same per-round cost as c5's
    * rank iteration; unbounded-round convergence at 100 TB would reuse
    * c1's localCheckpoint loop discipline. */
  def c11LabelProp(s: SparkSession, dir: String): DataFrame = {
    val und = TextOps
      .jaccardEdges(Tables(s, dir, "documents").filter(col("doc_id") < 100), 0.5)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var lab = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
      for (_ <- 1 to 3) {
        lab = sym.join(lab, col("dst") === col("id"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("id"), col("lbl"))
      }
      val res = lab.select(col("id").as("doc_id"), col("lbl").as("community"))
        .orderBy("doc_id")
      // bounded (<100 nodes): materialize before releasing the persist
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally { sym.unpersist(); () }
  }

  private val c11Sql: String = {
    def iter(prev: String): String =
      s"""SELECT src AS id, lbl FROM (
         |    SELECT s.src, l.lbl, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY s.src
         |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |    FROM sym s JOIN $prev l ON s.dst = l.id
         |    GROUP BY s.src, l.lbl) z WHERE rn = 1""".stripMargin
    s"""WITH $graphCtes,
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM sym),
       |l1 AS (${iter("l0")}),
       |l2 AS (${iter("l1")}),
       |l3 AS (${iter("l2")})
       |SELECT id AS doc_id, lbl AS community FROM l3 ORDER BY doc_id""".stripMargin
  }

  private val c5Sql: String = {
    // one damped iteration: rPrev -> next rank table (id, r)
    def iter(rPrev: String): String =
      s"""SELECT s.dst AS id,
         |    (SELECT (15 * 1000000000000) // (100 * n) FROM nn)
         |      + SUM((85 * $rPrev.r) // (100 * deg.d)) AS r
         |  FROM sym s JOIN $rPrev ON s.src = $rPrev.id
         |  JOIN deg ON s.src = deg.src
         |  GROUP BY s.dst""".stripMargin
    s"""WITH $graphCtes,
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (
       |  SELECT src AS id, 1000000000000 // (SELECT n FROM nn) AS r
       |  FROM deg),
       |r1 AS (${iter("r0")}),
       |r2 AS (${iter("r1")}),
       |r3 AS (${iter("r2")})
       |SELECT r3.id AS doc_id, deg.d AS degree, CAST(r3.r AS BIGINT) AS pagerank
       |FROM r3 JOIN deg ON r3.id = deg.src
       |ORDER BY pagerank DESC, doc_id LIMIT 10""".stripMargin
  }

  /** d28: systematic PPS (probability-proportional-to-size) sampling —
    * pick ~m documents with inclusion probability proportional to token
    * mass, the unbiased way to subsample a corpus for eval without
    * over-representing short docs (d15's per-stratum rates are uniform
    * WITHIN a stratum; this weights every row). Selection is the textbook
    * systematic rule: doc i is taken iff the running weight sum crosses a
    * new 1/m-quantile of the total, i.e.
    * `(cw·m) div W > ((cw−w)·m) div W` — all 64-bit integer arithmetic,
    * so both engines agree exactly. The global cumulative sum uses the
    * d18 two-phase shape (per-bin partial sums → bounded driver collect of
    * |bins| offsets → within-bin window), never a single-partition window. */
  def d28PpsSample(s: SparkSession, dir: String): DataFrame = {
    val m = 20L
    val binSize = 64L
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        expr(s"doc_id div $binSize").as("bin"))
    val binTotals = docs.groupBy(col("bin"))
      .agg(sum(col("w")).as("bw"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val total = binTotals.map(_._2).sum
    if (total == 0L) {
      import s.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("doc_id", "w", "slot")
    }
    val offsets = binTotals.toList.scanLeft((0L, 0L)) { case ((_, acc), (bin, bw)) =>
      (bin, acc + bw)
    }.sliding(2).collect { case List((_, prev), (bin, _)) => (bin, prev) }.toSeq
    val offDf = s.createDataFrame(offsets).toDF("bin", "off")
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.join(broadcast(offDf), Seq("bin"))
      .withColumn("cw", col("off") + sum(col("w")).over(wnd))
      .filter(expr(s"(cw * $m) div $total > ((cw - w) * $m) div $total"))
      .select(col("doc_id"), col("w"),
        expr(s"(cw * $m) div $total").as("slot"))
      .orderBy("doc_id")
  }

  private val d28Sql: String =
    """WITH d AS (SELECT doc_id, n_chars AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |    SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cw
      |  FROM d),
      |t AS (SELECT SUM(w) AS tw FROM d)
      |SELECT doc_id, w, CAST((cw * 20) // t.tw AS BIGINT) AS slot
      |FROM c, t
      |WHERE (cw * 20) // t.tw > ((cw - w) * 20) // t.tw
      |ORDER BY doc_id""".stripMargin

  /** d15 mixing rates: the synthetic corpus is ~44% English, so the demo
    * downsamples en hard and trims es/de lightly; zh/fr ride the 1.0
    * default. Exact multiples of 1e-4 (the operator's bucket width). */
  private val MixRates = Map("en" -> 0.3, "es" -> 0.8, "de" -> 0.8)

  /** d15: deterministic stratified sampling (corpus mixing) — keep 30% of
    * English and 80% of es/de by content hash, then per-language survivor
    * stats. Row-local filter, no shuffle beyond the stats aggregate. */
  def d15StratifiedSample(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.stratifiedByHash(
        Tables(s, dir, "documents"), "lang", "text", MixRates)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum((length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long")).as("kept_tokens"))
      .orderBy("lang")

  private val d15Sql: String = {
    val cases = MixRates.toSeq.sortBy(_._1).map { case (l, r) =>
      s"WHEN '$l' THEN ${(r * CorpusShaping.RateBuckets).toLong}"
    }.mkString(" ")
    s"""WITH kept AS (
       |  SELECT * FROM documents
       |  WHERE CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % ${CorpusShaping.RateBuckets} <
       |    CASE lang $cases ELSE ${CorpusShaping.RateBuckets} END)
       |SELECT lang, COUNT(*) AS n_kept,
       |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS kept_tokens
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** d16 window size: the synthetic docs average ~54 tokens (max 99), so
    * 32 gives 1-4 chunks per document. */
  private val ChunkTokens = 32

  /** d16: fixed-window token chunking (context packing) — one row per
    * 32-token window with its exact token count and portable md5
    * identity. Pure per-row array arithmetic; the only shuffle is the
    * output sort. */
  def d16TokenChunks(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.tokenChunks(
        Tables(s, dir, "documents"), "doc_id", "text", ChunkTokens)
      .orderBy("doc_id", "chunk_id")

  private val d16Sql: String = {
    val c = ChunkTokens
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id, len(ws) AS nt, ws,
       |    unnest(range(0, ((len(ws) - 1) // $c) + 1)) AS chunk_id
       |  FROM t)
       |SELECT doc_id, chunk_id,
       |  CAST(least($c, nt - chunk_id * $c) AS INTEGER) AS n_tokens,
       |  md5(array_to_string(
       |    list_slice(ws, CAST(chunk_id * $c + 1 AS INT), CAST(chunk_id * $c + $c AS INT)),
       |    ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** d17: chunk-level boilerplate detection — exact dedup at d16's chunk
    * granularity instead of whole documents (the repeated-paragraph /
    * boilerplate sweep: near-dup DOCUMENTS share most chunks, template
    * corpora share exact chunks across otherwise-distinct documents).
    * One hash shuffle on the chunk md5; the report lists each repeated
    * chunk with its occurrence count, distinct-document spread, and
    * canonical first location. */
  def d17ChunkDedup(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.tokenChunks(
        Tables(s, dir, "documents"), "doc_id", "text", ChunkTokens)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  private val d17Sql: String = {
    val c = ChunkTokens
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, ((len(ws) - 1) // $c) + 1)) AS chunk_id
       |  FROM t),
       |h AS (
       |  SELECT doc_id,
       |    md5(array_to_string(
       |      list_slice(ws, CAST(chunk_id * $c + 1 AS INT), CAST(chunk_id * $c + $c AS INT)),
       |      ' ')) AS chunk_md5
       |  FROM c)
       |SELECT chunk_md5, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
       |FROM h GROUP BY chunk_md5 HAVING COUNT(*) > 1
       |ORDER BY chunk_md5""".stripMargin
  }

  /** d18 pack budget: 512 tokens ≈ 8-10 of the synthetic ~54-token docs
    * per pack — enough packs (≈60 at sf0.01) to exercise boundaries.
    * Shared with PipelineOps' pipe3 (packing the funnel survivors). */
  private[queries] val PackBudget = 512

  /** d18: cross-document sequence packing — documents laid end-to-end in
    * id order, cut into 512-token packs ([[CorpusShaping.packSequences]]'s
    * two-phase distributed prefix sum), then per-pack occupancy stats.
    * The oracle replays the global prefix as a single DuckDB window
    * cumsum — same integer arithmetic, schedule-independent. */
  def d18SeqPack(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.packSequences(
        Tables(s, dir, "documents"), "doc_id", "text", PackBudget)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("pack_tokens"))
      .orderBy("pack_id")

  private val d18Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id AS id,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
       |  FROM documents),
       |c AS (
       |  SELECT id, nt, SUM(nt) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT CAST((cum - nt) // $PackBudget AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS pack_tokens
       |FROM c GROUP BY pack_id ORDER BY pack_id""".stripMargin

  /** d19 cap: below the majority language's count (~220 en docs at
    * sf0.01) so the cap actually bites, above the minority counts so
    * they pass through whole. */
  private val LangCap = 40

  /** d19: per-language cap sampling (class balancing) — keep at most 40
    * documents per language by content-hash order
    * ([[CorpusShaping.capPerStratum]], the salted two-phase form). The
    * oracle is the SINGLE-window statement of the same cap — the
    * equivalence of the two-phase plan to it is exactly what the check
    * pins. */
  def d19LangCap(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.capPerStratum(
        Tables(s, dir, "documents"), "lang", "doc_id", "text", LangCap)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  private val d19Sql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY CAST(('0x' || substr(md5(text),1,15)) AS BIGINT), doc_id) AS rk
       |  FROM documents) WHERE rk <= $LangCap ORDER BY doc_id""".stripMargin

  /** d20 mix: equal token budget per language — the corpus is ~44%
    * English, so equalizing is a genuine rebalance (en keeps ~36% of its
    * tokens at sf0.01, the scarcest language keeps ~100%). */
  private val MixWeights = Map("en" -> 1L, "es" -> 1L, "de" -> 1L,
    "fr" -> 1L, "zh" -> 1L)

  /** d20: token-budget corpus mixing — downsample every language to the
    * largest equal token budget the scarcest language can fill
    * ([[CorpusShaping.mixToTokenTargets]]'s all-integer rate derivation),
    * then per-language survivor stats. The oracle recomputes kmin and the
    * bucket thresholds from the data with the same integer division
    * chain — any drift in the derivation (not just the filter) fails the
    * hash compare. */
  def d20TokenMix(s: SparkSession, dir: String): DataFrame =
    CorpusShaping.mixToTokenTargets(
        Tables(s, dir, "documents"), "lang", "text", MixWeights)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum((length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long")).as("kept_tokens"))
      .orderBy("lang")

  private val d20Sql: String = {
    val langs = MixWeights.keys.toSeq.sorted.map(l => s"'$l'").mkString(", ")
    val wCase = MixWeights.toSeq.sortBy(_._1)
      .map { case (l, w) => s"WHEN '$l' THEN ${w}" }.mkString(" ")
    s"""WITH tot AS (
       |  SELECT lang, CAST(CASE lang $wCase END AS BIGINT) AS w,
       |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS t
       |  FROM documents WHERE lang IN ($langs) GROUP BY lang),
       |k AS (SELECT MIN(t // w) AS kmin FROM tot),
       |r AS (SELECT lang, (w * kmin * ${CorpusShaping.RateBuckets}) // t AS bucket
       |      FROM tot, k),
       |kept AS (
       |  SELECT d.lang, d.text FROM documents d JOIN r ON d.lang = r.lang
       |  WHERE CAST(('0x' || substr(md5(d.text),1,15)) AS BIGINT)
       |          % ${CorpusShaping.RateBuckets} < r.bucket)
       |SELECT lang, COUNT(*) AS n_kept,
       |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
       |    AS kept_tokens
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** d21 constraint set: the promotion-gate checks a pipeline would run
    * on the events feed — nullability, id uniqueness, accepted types, a
    * value envelope (deliberately tight so the report shows a FAILING
    * check with a real violation count), and a row predicate. */
  private val EventChecks: Seq[DataChecks.Check] = Seq(
    DataChecks.NotNull("event_type"),
    DataChecks.NotNull("ts"),
    DataChecks.Unique("event_id"),
    DataChecks.InSet("event_type",
      Seq("click", "error", "purchase", "signup", "view")),
    DataChecks.InRange("value", 0.0, 250.0),
    DataChecks.Satisfies("props", "length(props) >= 2", "props_shape"))

  /** d21: declarative data-quality report ([[DataChecks.report]]) — all
    * row-level checks in ONE aggregating scan, uniqueness as its own
    * count-distinct; one row per check. The oracle replays each check's
    * violation expression over the same table. */
  def d21DataChecks(s: SparkSession, dir: String): DataFrame =
    DataChecks.report(Tables(s, dir, "events"), EventChecks)

  private val d21Sql: String =
    EventChecks.map { c =>
      val v = DataChecks.violationsSql(c)
      s"""SELECT '${c.name}' AS "check", '${c.column}' AS "column",
         |  CAST(COALESCE($v, 0) AS BIGINT) AS n_violations,
         |  COALESCE($v, 0) = 0 AS passed FROM events""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"check\", \"column\"")

  /** d22: snapshot diff — the incremental-ingest audit: two corpus
    * snapshots compared by content hash in one full-outer join on the
    * document key, each id classified added / removed / changed /
    * unchanged. The two snapshots are carved deterministically from the
    * one documents table (ids ≡5 mod 11 arrive only in the new snapshot,
    * ids ≡2 mod 13 were deleted from it, ids ≡0 mod 7 had their text
    * edited), so the oracle rebuilds both sides exactly. Scale shape:
    * hash equi-join on the id, row-local md5 — the diff never compares
    * text bodies, only fixed-width hashes. */
  def d22SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val neu = docs.filter(col("doc_id") % 13 =!= 2)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("h_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"),
        col("doc_id"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"))
      .orderBy("status")
  }

  private val d22Sql: String =
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 11 <> 5),
      |neu AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 13 <> 2),
      |j AS (
      |  SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
      |    CASE WHEN old.h_old IS NULL THEN 'added'
      |         WHEN neu.h_new IS NULL THEN 'removed'
      |         WHEN old.h_old <> neu.h_new THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id)
      |SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS first_id
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_dedup_clusters" -> (c1DedupClusters _),
    "g1_pagerank_neardup" -> (g1PagerankNeardup _),
    "g2_rolling_pagerank" -> (g2RollingPagerank _),
    "g3_personalized_pagerank" -> (g3PersonalizedPagerank _),
    "g4_weighted_pagerank" -> (g4WeightedPagerank _),
    "c2_decontaminate" -> (c2Decontaminate _),
    "c23_decontaminate_served" -> (c23DecontaminateServed _),
    "c6_split_leakage" -> (c6SplitLeakage _),
    "c7_source_overlap" -> (c7SourceOverlap _),
    "c8_threshold_sweep" -> (c8ThresholdSweep _),
    "c9_ingest_compaction" -> (c9IngestCompaction _),
    "c12_ingest_at_rest" -> (c12IngestAtRest _),
    "c13_incremental_cc" -> (c13IncrementalCc _),
    "c14_rolling_cc" -> (c14RollingCc _),
    "c15_cluster_purity" -> (c15ClusterPurity _),
    "c16_best_representative" -> (c16BestRepresentative _),
    "c17_rolling_rep" -> (c17RollingRep _),
    "c18_deploy_gates" -> (c18DeployGates _),
    "c19_asof_corpus" -> (c19AsofCorpus _),
    "c22_corpus_changelog" -> (c22CorpusChangelog _),
    "c20_asof_clusters" -> (c20AsofClusters _),
    "c21_asof_reps" -> (c21AsofReps _),
    "c10_source_dup_factor" -> (c10SourceDupFactor _),
    "c11_label_prop" -> (c11LabelProp _),
    "d35_source_scorecard" -> (d35SourceScorecard _),
    "c3_clean_decontaminated" -> (c3CleanDecontaminated _),
    "c4_triangles" -> (c4Triangles _),
    "c5_pagerank" -> (c5Pagerank _),
    "d28_pps_sample" -> (d28PpsSample _),
    "d14_neardup_drop" -> (d14NeardupDrop _),
    "d15_stratified_sample" -> (d15StratifiedSample _),
    "d16_token_chunks" -> (d16TokenChunks _),
    "d17_chunk_dedup" -> (d17ChunkDedup _),
    "d18_seq_pack" -> (d18SeqPack _),
    "d19_lang_cap" -> (d19LangCap _),
    "d20_token_mix" -> (d20TokenMix _),
    "d21_data_checks" -> (d21DataChecks _),
    "d22_snapshot_diff" -> (d22SnapshotDiff _))

  val oracles: Map[String, String] = Map(
    "c1_dedup_clusters" -> c1Sql,
    "g1_pagerank_neardup" -> g1Sql,
    "g2_rolling_pagerank" -> g2Sql,
    "g3_personalized_pagerank" -> g3Sql,
    "g4_weighted_pagerank" -> g4Sql,
    "c2_decontaminate" -> c2Sql,
    // the at-rest index serve must reproduce c2's sweep exactly
    "c23_decontaminate_served" -> c2Sql,
    "c6_split_leakage" -> c6Sql,
    "c7_source_overlap" -> c7Sql,
    "c8_threshold_sweep" -> c8Sql,
    "c9_ingest_compaction" -> c9Sql,
    // the at-rest round-trip must reproduce c9's one-shot answer exactly
    "c12_ingest_at_rest" -> c9Sql,
    "c13_incremental_cc" -> c1Sql, // the star identity: same answer, incremental machine
    "c14_rolling_cc" -> c14Sql,
    "c15_cluster_purity" -> c15Sql,
    "c16_best_representative" -> c16Sql,
    "c17_rolling_rep" -> c17Sql,
    "c18_deploy_gates" -> c18Sql,
    "c19_asof_corpus" -> c19Sql,
    "c22_corpus_changelog" -> c22Sql,
    "c20_asof_clusters" -> c20Sql,
    "c21_asof_reps" -> c21Sql,
    "c10_source_dup_factor" -> c10Sql,
    "c11_label_prop" -> c11Sql,
    "d35_source_scorecard" -> d35Sql,
    "c3_clean_decontaminated" -> c3Sql,
    "c4_triangles" -> c4Sql,
    "c5_pagerank" -> c5Sql,
    "d28_pps_sample" -> d28Sql,
    "d14_neardup_drop" -> d14Sql,
    "d15_stratified_sample" -> d15Sql,
    "d16_token_chunks" -> d16Sql,
    "d17_chunk_dedup" -> d17Sql,
    "d18_seq_pack" -> d18Sql,
    "d19_lang_cap" -> d19Sql,
    "d20_token_mix" -> d20Sql,
    "d21_data_checks" -> d21Sql,
    "d22_snapshot_diff" -> d22Sql)
}
