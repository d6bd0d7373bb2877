package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.MinHashDedup

/** The training-data BUILD funnel — the composition every LLM data
  * pipeline actually ships: exact dedup → near-dedup → benchmark
  * decontamination → quality floor, applied in order over the training
  * split, with per-stage attrition accounting. Each stage's rule is an
  * operator this engine already serves on its own (d1's hash dedup,
  * m1's MinHash/LSH sweep, c2's 5-gram contamination, d3's quality
  * score) — what pipe adds is the COMPOSITION: one pass that attributes
  * every document to the FIRST stage that drops it and reports the
  * funnel (docs in/dropped/out, surviving tokens) a data-build review
  * reads before training starts.
  *
  * Scale shape: no stage is all-pairs (exact dedup is a hash shuffle on
  * the text, near-dedup is the banded LSH sweep, decontamination
  * broadcasts the tiny eval-gram side, quality is row-local); the
  * attribution joins are on doc_id against drop lists that are corpus-
  * subset-sized; and the funnel itself aggregates to ≤ 5 rows before
  * any window runs. Reference behavior composed here:
  * `Optimized-Climate-Data-Integration`'s cleaning notebooks run these
  * stages as separate passes — the funnel is the single-plan form.
  */
object PipelineOps extends QueryFamily {

  /** Stage order: 1 exact dedup, 2 MinHash near-dedup, 3 benchmark
    * decontamination, 4 quality floor. First drop wins attribution. */
  private val Stages = Seq((1, "exact"), (2, "neardup"), (3, "decontam"), (4, "quality"))

  /** m1's own near-dup verification threshold — the corpus convention
    * every dedup row shares. */
  private val NearDupThreshold = 0.3

  /** Quality floor for stage 4: the d3 composite score below which a
    * document is dropped (~10% of the synthetic corpus — a realistic
    * quality-filter cut; the d3 score is round-6 on both engines, so
    * the strict `<` compare is deterministic). */
  private val QualityFloor = 0.1

  /** Per-training-document funnel attribution: (doc_id, lang, toks,
    * dropped_at) where dropped_at ∈ 0..4 is the FIRST stage that drops
    * the document (0 = survives the whole funnel). Shared by pipe1
    * (the funnel rows) and pipe2 (the per-language retention cut). */
  private def attributed(s: SparkSession, dir: String): DataFrame = {
    val all = Tables(s, dir, "documents")
    val train = all.filter(col("doc_id") >= CorpusOps.EvalSplit)
    val base = train.select(col("doc_id"), col("text"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    // stage 1 — exact: a lower-id training doc has byte-identical text
    // (d1's min-id-wins rule; one hash shuffle on the text)
    val exact = base
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id"), lit(1).as("fx"))
    // stage 2 — near-dedup: m1's banded MinHash sweep over the TRAINING
    // universe; the greedy larger-id pair member drops (the c9 gate rule)
    val near = MinHashDedup
      .nearDuplicates(train, "doc_id", "text", NearDupThreshold)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("fn", lit(1))
    // stage 3 — decontamination: c2's 5-gram contamination report IS the
    // drop list (output already distinct per id), SERVED from the c23
    // at-rest gram index — the funnel build reads the landed posting
    // table instead of re-shingling the training corpus (same rows by
    // construction: same gram rule, same hash, same join)
    val contam = CorpusOps.contaminationFromIndex(s, dir)
      .select(col("id").as("doc_id"), lit(1).as("fc"))
    base
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("toks"),
        when(col("fx") === 1, 1)
          .when(col("fn") === 1, 2)
          .when(col("fc") === 1, 3)
          .when(TextOps.qualityScore < QualityFloor, 4)
          .otherwise(0).as("dropped_at"))
  }

  /** [[attributed]] landed AT MOST ONCE per corpus fingerprint (the
    * d32s/g1s buildOnce discipline — family lock, marker-last, stale-
    * fingerprint prune): at deployment the funnel runs once and many
    * consumers read its verdicts, so pipe1 stays the PRICING run that
    * re-derives the attribution while pipe2/pipe3 serve from the landed
    * table. Stable for a given corpus fingerprint — no maintenance ever
    * rewrites it — so lazy frames over it are safe (the k6 contract). */
  private def attributedAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = ScaleOps.artifactRoot("pipe1s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    val table = root.resolve("att").toString
    ScaleOps.buildOnce("pipe1s", root) {
      attributed(s.newSession(), dir).write.mode("overwrite").parquet(table)
    }
    s.read.parquet(table)
  }

  /** The funnel rollup over an attribution frame (doc_id, lang, toks,
    * dropped_at): one row per stage with entering/dropped/surviving
    * docs and surviving token mass. `att` must already be pinned
    * (localCheckpoint) — it feeds both the per-stage agg and the totals
    * row. ≤ |stages| rows from the first agg on: the window cum-sums
    * run on the funnel, not the corpus. Shared by pipe1 and pipe4. */
  private def funnelRows(s: SparkSession, att: DataFrame,
      stages: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    val agg = att.groupBy(col("dropped_at"))
      .agg(count(lit(1)).as("n_drop"), sum(col("toks")).as("t_drop"))
    val tot = att.agg(count(lit(1)).as("n_tot"), sum(col("toks")).as("t_tot"))
    val wOrd = Window.orderBy(col("stage_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stages.toDF("stage_ord", "stage")
      .join(agg, col("stage_ord") === col("dropped_at"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("n_drop"), lit(0L)).as("n_drop"),
        coalesce(col("t_drop"), lit(0L)).as("t_drop"))
      .crossJoin(tot) // |stages|×1: the totals row
      .withColumn("cum_n", sum(col("n_drop")).over(wOrd))
      .withColumn("cum_t", sum(col("t_drop")).over(wOrd))
      .select(col("stage_ord"), col("stage"),
        (col("n_tot") - col("cum_n") + col("n_drop")).as("docs_in"),
        col("n_drop").as("docs_dropped"),
        (col("n_tot") - col("cum_n")).as("docs_out"),
        (col("t_tot") - col("cum_t")).as("tokens_out"))
      .orderBy("stage_ord")
  }

  /** pipe1: the funnel itself — one row per stage with the documents
    * entering it, dropped by it, surviving it, and the whitespace-token
    * mass of the survivors (the number the training-budget conversation
    * is actually about). Telescopes by construction: stage i's docs_out
    * is stage i+1's docs_in. */
  def pipe1TrainingFunnel(s: SparkSession, dir: String): DataFrame =
    // eager checkpoint: the attribution feeds BOTH the per-stage agg and
    // the totals row — unpinned, the whole funnel chain (MinHash sweep +
    // decontamination join) would execute twice
    funnelRows(s, attributed(s, dir).localCheckpoint(), Stages)

  /** pipe2: the funnel's per-language retention cut — what the same
    * build did to the corpus MIX (the question after "how much survived"
    * is always "did it survive evenly"): per language, documents in,
    * documents kept, and the kept fraction on the integer ppm grid. */
  def pipe2FunnelByLang(s: SparkSession, dir: String): DataFrame =
    attributedAtRest(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped_at") === 0, 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        expr("(1000000 * n_kept) div n_docs").as("kept_ppm"))
      .orderBy("lang")

  /** pipe3: the funnel's OUTPUT SHAPE — the surviving documents laid
    * end-to-end in id order and cut into [[CorpusOps.PackBudget]]-token
    * packs (d18's two-phase distributed prefix sum), with per-pack
    * occupancy stats: dedup → decontaminate → filter → PACK, the
    * tokenizer-ready composition a pre-training data build actually
    * emits. The survivor set comes from the LANDED attribution artifact
    * ([[attributedAtRest]]) — [[graft.operators.CorpusShaping
    * .packSequences]] reads its input in two passes (offset collect +
    * label), and a parquet-backed survivor set keeps both passes
    * deterministic without re-deriving the funnel per pass. */
  def pipe3FunnelPacking(s: SparkSession, dir: String): DataFrame = {
    val kept = attributedAtRest(s, dir)
      .filter(col("dropped_at") === 0)
      .select(col("doc_id"))
    val docs = Tables(s, dir, "documents").join(kept, Seq("doc_id"))
    graft.operators.CorpusShaping
      .packSequences(docs, "doc_id", "text", CorpusOps.PackBudget)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("pack_tokens"))
      .orderBy("pack_id")
  }

  /** pipe4's span-stage drop threshold: a training document with at
    * least half its tokens inside cross-document shared substrings
    * (d48's copied_ppm ≥ this) drops even when no single partner
    * crosses the near-dup pair threshold — the Lee et al. ExactSubstr
    * attrition MinHash can't see (stitched/boilerplate documents). */
  private val SpanDropPpm = 500000L

  /** pipe4's stage order: pipe1's funnel with d48's exact-substring
    * span stage inserted after near-dedup — the dedup phase runs both
    * passes (the Lee et al. deployment: MinHash for document-level
    * near-dups, ExactSubstr for copied passages), then decontamination
    * and the quality floor shift down one slot. */
  private val Stages5 = Seq((1, "exact"), (2, "neardup"), (3, "spans"),
    (4, "decontam"), (5, "quality"))

  /** pipe4: the funnel with the EXACT-SUBSTRING SPAN stage — pipe1's
    * variant showing the extra attrition d48 adds. The base four-stage
    * attribution serves from the landed pipe1s artifact
    * ([[attributedAtRest]]); what this row PRICES is the span sweep
    * itself (one gram shuffle + per-doc window) plus the overlay —
    * first-drop-wins re-attribution with spans slotted between
    * near-dedup and decontamination. The sweep's universe is the
    * DEDUP SURVIVORS (dropped_at ∉ {1,2}) — the Lee et al. deployment
    * runs ExactSubstr after document-level dedup, so a span drop is
    * never triggered by overlap with a document an earlier stage
    * already removed, and the sweep's gram shuffle prices only the
    * surviving corpus. At sf0.01 the span stage still drops training
    * documents that survive all four pipe1 stages (≥ half their text
    * is copied, but no single partner crosses the MinHash pair
    * threshold) — exactly the memorization tail the paper's
    * ExactSubstr pass exists to catch. */
  def pipe4SpanFunnel(s: SparkSession, dir: String): DataFrame = {
    val att = attributedAtRest(s, dir)
    // dedup-survivor universe for the sweep: exact (1) and near-dup (2)
    // casualties are out before any gram is hashed
    val sweepDocs = att.filter(!col("dropped_at").isin(1, 2))
      .select(col("doc_id"))
    val spans = graft.operators.SpanDedup
      .spanProfile(
        Tables(s, dir, "documents").join(sweepDocs, Seq("doc_id"), "left_semi"),
        "doc_id", "text", TextOps.D48MinLen)
      .filter(col("copied_ppm") >= SpanDropPpm)
      .select(col("doc_id"), lit(1).as("fs"))
    val att5 = att
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("toks"),
        when(col("dropped_at") === 1, 1)
          .when(col("dropped_at") === 2, 2)
          .when(col("fs") === 1, 3)
          .when(col("dropped_at") === 3, 4)
          .when(col("dropped_at") === 4, 5)
          .otherwise(0).as("dropped_at"))
    funnelRows(s, att5.localCheckpoint(), Stages5)
  }

  /** The shared attribution CTE chain (`att(doc_id, lang, toks,
    * dropped_at)`): the m1 pair CTEs restricted to the training
    * universe, c2's gram CTEs, d1's window rule, d3's score — each
    * stage's SQL is the SAME text its own oracle replays. */
  private lazy val attCtes: String = {
    val split = CorpusOps.EvalSplit
    s"""tr AS (
       |  SELECT doc_id, text, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents WHERE doc_id >= $split),
       |exd AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS mn FROM tr) z
       |  WHERE doc_id > mn),
       |${ScaleOps.m1PairsCtesAt(NearDupThreshold, s"WHERE doc_id >= $split")},
       |ndd AS (SELECT DISTINCT id_b AS doc_id FROM fpairs),
       |${CorpusOps.c2GramCtes},
       |ctd AS (SELECT DISTINCT c.id AS doc_id FROM ch c JOIN eh e ON c.gh = e.gh),
       |att AS (
       |  SELECT t.doc_id, t.lang, t.toks,
       |    CASE WHEN t.doc_id IN (SELECT doc_id FROM exd) THEN 1
       |         WHEN t.doc_id IN (SELECT doc_id FROM ndd) THEN 2
       |         WHEN t.doc_id IN (SELECT doc_id FROM ctd) THEN 3
       |         WHEN ${TextOps.qualityScoreSqlExpr} < $QualityFloor THEN 4
       |         ELSE 0 END AS dropped_at
       |  FROM tr t)""".stripMargin
  }

  /** The funnel-rollup SQL tail over an attribution CTE `attName` —
    * CTE continuation + final SELECT, shared by pipe1 and pipe4
    * (exactly [[funnelRows]]'s arithmetic). */
  private def funnelSql(stages: Seq[(Int, String)], attName: String): String = {
    val vals = stages.map { case (o, n) => s"($o, '$n')" }.mkString(", ")
    s"""agg AS (
       |  SELECT dropped_at, COUNT(*) AS n_drop,
       |    CAST(SUM(toks) AS BIGINT) AS t_drop
       |  FROM $attName GROUP BY dropped_at),
       |st AS (SELECT * FROM (VALUES $vals) v(stage_ord, stage)),
       |j AS (
       |  SELECT st.stage_ord, st.stage,
       |    COALESCE(agg.n_drop, 0) AS n_drop, COALESCE(agg.t_drop, 0) AS t_drop
       |  FROM st LEFT JOIN agg ON agg.dropped_at = st.stage_ord),
       |tot AS (SELECT COUNT(*) AS n_tot,
       |        CAST(SUM(toks) AS BIGINT) AS t_tot FROM $attName),
       |cum AS (
       |  SELECT stage_ord, stage, n_drop, t_drop,
       |    CAST(SUM(n_drop) OVER (ORDER BY stage_ord) AS BIGINT) AS cum_n,
       |    CAST(SUM(t_drop) OVER (ORDER BY stage_ord) AS BIGINT) AS cum_t
       |  FROM j)
       |SELECT CAST(c.stage_ord AS INTEGER) AS stage_ord, c.stage,
       |  n_tot - cum_n + n_drop AS docs_in,
       |  n_drop AS docs_dropped,
       |  n_tot - cum_n AS docs_out,
       |  t_tot - cum_t AS tokens_out
       |FROM cum c CROSS JOIN tot
       |ORDER BY stage_ord""".stripMargin
  }

  // Every pipe oracle is `WITH <attCtes>[,] <tail>`, with the tail
  // referencing ONLY `att` from the shared prefix — which is what lets
  // [[oracleHints]] swap the prefix for a materialized temp table
  // without touching the tail text.
  private lazy val pipe1Tail: String = funnelSql(Stages, "att")

  private lazy val pipe1Sql: String =
    s"WITH $attCtes,\n$pipe1Tail"

  /** pipe4's replay: the shared attribution chain, the d48 span chain
    * over the DEDUP-SURVIVOR universe (dropped_at ∉ {1,2} in `att` —
    * mirrors [[pipe4SpanFunnel]]'s semi-join), the first-drop-wins
    * overlay, and the shared funnel tail. */
  private lazy val pipe4Tail: String =
    s"""${TextOps.d48SpanCtes(
            "WHERE doc_id IN (SELECT doc_id FROM att WHERE dropped_at NOT IN (1, 2))")},
       |spd AS (SELECT doc_id FROM d48out WHERE copied_ppm >= $SpanDropPpm),
       |att5 AS (
       |  SELECT doc_id, lang, toks,
       |    CASE WHEN dropped_at = 1 THEN 1
       |         WHEN dropped_at = 2 THEN 2
       |         WHEN doc_id IN (SELECT doc_id FROM spd) THEN 3
       |         WHEN dropped_at = 3 THEN 4
       |         WHEN dropped_at = 4 THEN 5
       |         ELSE 0 END AS dropped_at
       |  FROM att),
       |${funnelSql(Stages5, "att5")}""".stripMargin

  private lazy val pipe4Sql: String =
    s"WITH $attCtes,\n$pipe4Tail"

  private lazy val pipe2Tail: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN dropped_at = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST((1000000 * CAST(SUM(CASE WHEN dropped_at = 0 THEN 1 ELSE 0 END) AS BIGINT))
       |    // COUNT(*) AS BIGINT) AS kept_ppm
       |FROM att GROUP BY lang ORDER BY lang""".stripMargin

  // plain concatenation, NOT a stripMargin template: the interpolated
  // tails contain `||` string-concat continuation lines, and a second
  // stripMargin pass would eat their leading pipe
  private lazy val pipe2Sql: String = s"WITH $attCtes\n$pipe2Tail"

  /** DuckDB replay of [[pipe3FunnelPacking]]: the shared attribution
    * chain filtered to survivors, then d18's single-window cumsum pack
    * rule — the same integer arithmetic the distributed prefix sum
    * computes. */
  private lazy val pipe3Tail: String =
    s"""t AS (SELECT doc_id AS id, toks AS nt FROM att WHERE dropped_at = 0),
       |c AS (
       |  SELECT id, nt, SUM(nt) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT CAST((cum - nt) // ${CorpusOps.PackBudget} AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS pack_tokens
       |FROM c GROUP BY pack_id ORDER BY pack_id""".stripMargin

  private lazy val pipe3Sql: String =
    s"WITH $attCtes,\n$pipe3Tail"

  /** pipe5's epoch count — enough to pin that epochs differ while the
    * row stays output-bounded. */
  private val CurriculumEpochs = 2

  /** pipe5: the DOCUMENT-LEVEL MIXTURE CURRICULUM — the funnel's last
    * mile: the surviving documents laid into a reproducible per-epoch
    * training order ([[graft.operators.CorpusShaping
    * .curriculumInterleave]]): within-language order is an epoch-seeded
    * hash shuffle, and languages INTERLEAVE evenly by construction
    * (stratum s's r-th doc at fractional key (2r+1)/(2nₛ)), so any
    * prefix of any epoch holds the corpus mix — what "shuffle the
    * training data" actually needs to guarantee. Pure hash/integer/one-
    * division arithmetic end to end: the DuckDB oracle replays the
    * entire ordering and the spec pins re-runs byte-identical. */
  def pipe5Curriculum(s: SparkSession, dir: String): DataFrame = {
    val kept = attributedAtRest(s, dir)
      .filter(col("dropped_at") === 0)
      .select(col("doc_id"), col("lang"))
    graft.operators.CorpusShaping
      .curriculumInterleave(kept, "doc_id", "lang", CurriculumEpochs)
      .select(col("epoch"), col("position"),
        col("id").as("doc_id"), col("stratum").as("lang"))
      .orderBy("epoch", "position")
  }

  /** pipe5's replay: the attribution chain's survivors crossed with the
    * epoch list, the SAME hex60("epoch:id") hash, the same per-stratum
    * rank → fractional-key → global-order arithmetic — plain window
    * functions here (DuckDB runs at oracle scale; the Spark side's
    * two-phase prefix counts exist for the 100 TB posture, not the
    * semantics). */
  private lazy val pipe5Tail: String = {
    val epochVals = (0 until CurriculumEpochs).map(e => s"($e)").mkString(", ")
    s"""kept AS (SELECT doc_id, lang FROM att WHERE dropped_at = 0),
       |ep AS (
       |  SELECT CAST(e.epoch AS BIGINT) AS epoch, k.doc_id, k.lang
       |  FROM kept k CROSS JOIN (VALUES $epochVals) e(epoch)),
       |h AS (
       |  SELECT epoch, doc_id, lang,
       |    CAST(('0x' || substr(md5(CAST(epoch AS VARCHAR) || ':'
       |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM ep),
       |r AS (
       |  SELECT epoch, doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, lang ORDER BY h, doc_id)
       |      - 1 AS r,
       |    COUNT(*) OVER (PARTITION BY epoch, lang) AS ns
       |  FROM h),
       |k AS (
       |  SELECT epoch, doc_id, lang,
       |    CAST(2 * r + 1 AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS key
       |  FROM r)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY key, lang, doc_id) - 1 AS BIGINT) AS position,
       |  doc_id, lang
       |FROM k ORDER BY epoch, position""".stripMargin
  }

  /** pipe6: the PACKED-SEQUENCE CURRICULUM — pipe5 orders documents,
    * but a training loader consumes pipe3's PACKS; pipe6 composes them
    * so the funnel's output is literally the epoch stream a trainer
    * reads. Survivors pack under the pipe3 rule (cumulative-token
    * prefix sum, [[CorpusOps.PackBudget]]); each pack's stratum is its
    * DOMINANT LANGUAGE (most tokens, lang-asc tie-break — a
    * deterministic argmax both engines replay); the packs then run the
    * pipe5 interleave ([[graft.operators.CorpusShaping
    * .curriculumInterleave]] keyed on pack_id). Pure hash/integer/one-
    * division arithmetic end to end — DuckDB replays the entire
    * ordering; re-runs are byte-identical (spec). Scale shape: the
    * pack table is |corpus tokens| / budget rows — three orders
    * smaller than the doc table — so the interleave's bounded
    * per-bin count collects shrink accordingly. */
  def pipe6PackCurriculum(s: SparkSession, dir: String): DataFrame = {
    val kept = attributedAtRest(s, dir)
      .filter(col("dropped_at") === 0)
      .select(col("doc_id"), col("lang"))
    val docs = Tables(s, dir, "documents")
      .join(kept.select(col("doc_id")), Seq("doc_id"))
    val packed = graft.operators.CorpusShaping
      .packSequences(docs, "doc_id", "text", CorpusOps.PackBudget)
    val domLang = packed
      .join(kept.withColumnRenamed("doc_id", "id"), Seq("id"))
      .groupBy(col("pack_id"), col("lang"))
      .agg(sum(col("nt")).as("ltoks"))
      .groupBy(col("pack_id"))
      .agg(min_by(col("lang"),
        struct((-col("ltoks")).as("o1"), col("lang").as("o2")))
        .as("dom_lang"))
    graft.operators.CorpusShaping
      .curriculumInterleave(domLang, "pack_id", "dom_lang", CurriculumEpochs)
      .select(col("epoch"), col("position"),
        col("id").as("pack_id"), col("stratum").as("dom_lang"))
      .orderBy("epoch", "position")
  }

  /** pipe6's replay: the attribution survivors, pipe3's pack rule, the
    * dominant-language argmax, then pipe5's interleave arithmetic over
    * (pack_id, dom_lang) — plain windows at oracle scale. */
  private lazy val pipe6Tail: String = {
    val epochVals = (0 until CurriculumEpochs).map(e => s"($e)").mkString(", ")
    s"""t AS (SELECT doc_id AS id, lang, toks AS nt FROM att WHERE dropped_at = 0),
       |c AS (
       |  SELECT id, lang, nt,
       |    SUM(nt) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t),
       |p AS (SELECT id, lang, nt,
       |    CAST((cum - nt) // ${CorpusOps.PackBudget} AS BIGINT) AS pack_id
       |  FROM c),
       |lt AS (SELECT pack_id, lang, CAST(SUM(nt) AS BIGINT) AS ltoks
       |  FROM p GROUP BY pack_id, lang),
       |dm AS (SELECT pack_id, lang AS dom_lang FROM (
       |    SELECT pack_id, lang,
       |      ROW_NUMBER() OVER (PARTITION BY pack_id
       |        ORDER BY ltoks DESC, lang) AS rk
       |    FROM lt) z
       |  WHERE rk = 1),
       |ep AS (
       |  SELECT CAST(e.epoch AS BIGINT) AS epoch, d.pack_id, d.dom_lang
       |  FROM dm d CROSS JOIN (VALUES $epochVals) e(epoch)),
       |h AS (
       |  SELECT epoch, pack_id, dom_lang,
       |    CAST(('0x' || substr(md5(CAST(epoch AS VARCHAR) || ':'
       |      || CAST(pack_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM ep),
       |r AS (
       |  SELECT epoch, pack_id, dom_lang,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, dom_lang ORDER BY h, pack_id)
       |      - 1 AS r,
       |    COUNT(*) OVER (PARTITION BY epoch, dom_lang) AS ns
       |  FROM h),
       |k AS (
       |  SELECT epoch, pack_id, dom_lang,
       |    CAST(2 * r + 1 AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS key
       |  FROM r)
       |SELECT epoch,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
       |    ORDER BY key, dom_lang, pack_id) - 1 AS BIGINT) AS position,
       |  pack_id, dom_lang
       |FROM k ORDER BY epoch, position""".stripMargin
  }

  private lazy val pipe5Sql: String =
    s"WITH $attCtes,\n$pipe5Tail"

  private lazy val pipe6Sql: String =
    s"WITH $attCtes,\n$pipe6Tail"

  /** Large-SF oracle MATERIALIZATION HINTS (round 19, after the 10×
    * probe incident): DuckDB inlines a WITH chain per reference, so the
    * shared `att` attribution chain re-evaluates once per consumer —
    * at 10× the pipe4 replay spilled >72 GB and exhausted the volume.
    * Each hint is (setup DDL, served SQL): run the setup once (it pins
    * `att` to a temp table — the localCheckpoint posture the Spark side
    * already has), then the served SQL replays the IDENTICAL tail text
    * over `att AS (SELECT * FROM graft_att_mat)`. Consumed by
    * `tools/check_oracle.py --use-hints`; the driver's own compare
    * keeps reading the self-contained oracle_sql.json. */
  lazy val oracleHints: Map[String, (String, String)] = {
    val setup = s"CREATE OR REPLACE TEMP TABLE graft_att_mat AS " +
      s"WITH $attCtes SELECT * FROM att"
    def served(tail: String, comma: Boolean = true): String =
      s"WITH att AS (SELECT * FROM graft_att_mat)${if (comma) "," else ""}\n$tail"
    Map(
      "pipe1_training_funnel" -> (setup, served(pipe1Tail)),
      "pipe2_funnel_by_lang" -> (setup, served(pipe2Tail, comma = false)),
      "pipe3_funnel_packing" -> (setup, served(pipe3Tail)),
      "pipe4_span_funnel" -> (setup, served(pipe4Tail)),
      "pipe5_curriculum" -> (setup, served(pipe5Tail)),
      "pipe6_pack_curriculum" -> (setup, served(pipe6Tail)))
  }

  val registry: Seq[Query] = Seq(
    Query("pipe1_training_funnel", pipe1TrainingFunnel, pipe1Sql),
    Query("pipe2_funnel_by_lang", pipe2FunnelByLang, pipe2Sql),
    Query("pipe3_funnel_packing", pipe3FunnelPacking, pipe3Sql),
    Query("pipe4_span_funnel", pipe4SpanFunnel, pipe4Sql),
    Query("pipe5_curriculum", pipe5Curriculum, pipe5Sql),
    Query("pipe6_pack_curriculum", pipe6PackCurriculum, pipe6Sql))
}
