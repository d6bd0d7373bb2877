package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING (Sennrich, Haddow & Birch 2016, "Neural machine
  * translation of rare words with subword units") — learn the merge table
  * itself, on-cluster: the complement of d7's fixed-rule tokenization.
  * Classic word-type formulation: the corpus collapses to (word, count)
  * types, each word becomes a space-joined character-symbol string, and
  * each round counts adjacent symbol pairs (weighted by word count),
  * picks the most frequent, and merges it corpus-wide.
  *
  * Scale design: the corpus is touched ONCE (word-count hash aggregate);
  * every round after that runs on the word-TYPE table — orders of
  * magnitude smaller than the corpus, the reason real tokenizer trainers
  * use the type formulation. Pair counting is a per-row zip of adjacent
  * symbols plus a map-side-combined sum; only the 1-row argmax reaches
  * the driver each round (the Lloyd-loop shape, k rows smaller).
  *
  * Exactness: weights are integers, the argmax tie-breaks on (count
  * DESC, pair string ASC), and the merge rewrite is 3 applications of
  * LITERAL left-to-right `replace` of " l r " with " lr " on the
  * sentinel-wrapped symbol string — semantics both engines share, so the
  * whole loop unrolls into the DuckDB oracle. Two deliberate,
  * spec-pinned deviations from canonical BPE, both forced by replayable
  * replace semantics: self-pairs (l == r) are excluded as merge
  * candidates (greedy run-pairing of "a a a a" does not replay as
  * string replace), and adjacent repetitions of a pattern need one
  * extra pass because each match consumes the shared delimiter space —
  * 3 passes cover 2^3 adjacent repetitions, beyond any natural word. */
object BpeTrain {

  case class Merge(rank: Int, left: String, right: String, weight: Long)

  /** Per-character space-joined symbol string with sentinel spaces:
    * "low" → " l o w ". */
  def symbolize(word: Column): Column =
    concat(lit(" "), concat_ws(" ",
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))),
      lit(" "))

  /** Apply a learned merge table to a symbol string, in rank order —
    * the ENCODE side of the tokenizer: the same 3-pass literal-replace
    * cascade training used, so applying the merges training just learned
    * reproduces training's final symbol strings exactly. */
  def applyMerges(sym: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(sym) { (c, m) =>
      val pat = s" ${m.left} ${m.right} "
      val rep = s" ${m.left}${m.right} "
      (1 to 3).foldLeft(c)((cc, _) => call_function("replace", cc, lit(pat), lit(rep)))
    }

  /** Learn the first `k` merges over the text column's whitespace words.
    * Returns them in rank order; may return fewer than `k` if the
    * corpus runs out of non-self adjacent pairs.
    *
    * Each round's symbol table is `localCheckpoint`ed (eager), not
    * persisted: every round stacks a 3-deep replace projection AND a
    * pair-explode whose slice/zip_with expressions reference the symbol
    * column several times, so an un-truncated lineage re-inlines the
    * whole chain into each round's analysis — measured ~2× per round
    * past round 10 (exponential; k=18 exhausted an 8 GB driver at
    * sf0.001). Checkpointing cuts the plan back to a leaf over the
    * materialized partitions each round: flat ~0.2 s/round, the same
    * trap and fix as [[ConnectedComponents.CheckpointEvery]]. The
    * checkpointed partitions are released by the ContextCleaner when
    * the previous frame goes unreferenced. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int): Seq[Merge] = {
    require(k >= 1, s"need k >= 1 merges, got $k")
    val words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    // lazy: the nTypes count below is the first action and materializes
    // the checkpoint in the same job — an eager checkpoint would spend a
    // separate job on it
    val syms = words.select(col("wc"), symbolize(col("w")).as("s"))
      .localCheckpoint(false)
    // the k merge rounds run with AQE off and a shuffle width sized to
    // the word-TYPE table the loop actually shuffles (~500k types per
    // partition, capped at the session width): each round's pair-count
    // groupBy carries |types|-bounded rows whatever the corpus size, so
    // session-width rounds are near-empty tasks whose scheduling — plus
    // AQE's per-round materialize-and-replan — dominates. The count() is
    // cheap (post-checkpoint).
    val nTypes = syms.count()
    ShuffleWidth.narrowed(docs.sparkSession, nTypes / 500000 + 1) { width =>
      // collapse the symbol table itself to the loop width once: it
      // arrives session-width from the word-count groupBy, and the
      // rewrite is row-local, so every one of the k checkpoints would
      // otherwise re-materialize session-width near-empty tasks
      learnLoop(width.map(w => syms.repartition(w)).getOrElse(syms), k)
    }
  }

  private def learnLoop(syms0: DataFrame, k: Int): Seq[Merge] = {
    var syms = syms0
    val out = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val toks = split(trim(col("s")), " ")
      val pairs = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))
      val best = syms
        .select(col("wc"), explode(pairs).as("p"))
        .groupBy(col("p")).agg(sum(col("wc")).as("n"))
        .withColumn("l", split(col("p"), " ")(0))
        .withColumn("r", split(col("p"), " ")(1))
        .filter(col("l") =!= col("r")) // self-pairs: see scaladoc
        .orderBy(col("n").desc, col("p"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best(0)
        val (l, rr, n) = (row.getString(2), row.getString(3), row.getLong(1))
        out += Merge(r, l, rr, n)
        // the final round's merge would feed nothing — skip the rewrite
        // pass (select + checkpoint) once the k-th merge is chosen
        if (r < k) {
          val pat = s" $l $rr "
          val rep = s" $l$rr "
          val merged = (1 to 3).foldLeft(col("s")) { (c, _) =>
            call_function("replace", c, lit(pat), lit(rep))
          }
          // LAZY checkpoint: the rewrite materializes inside the NEXT
          // round's pair-count job (one job per round, not two — the
          // eager form spent a dedicated job per rewrite). Lineage still
          // truncates at materialization, so the plan the next round
          // analyzes is one rewrite over a checkpoint leaf — the
          // exponential-growth trap the scaladoc describes never opens.
          val next = syms.select(col("wc"), merged.as("s"))
            .localCheckpoint(false)
          syms.unpersist()
          syms = next
        }
        r += 1
      }
    }
    syms.unpersist()
    out.result()
  }
}
