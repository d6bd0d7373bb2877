package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data text-prep operators over the `documents` table: exact
  * dedup, token/quality statistics, fingerprinting, heuristic language ID,
  * and n-gram Jaccard near-dedup (north-star extension per SURVEY §7.2
  * phase 8).
  *
  * Every formula is written in engine-portable arithmetic (length
  * differences, regexp_replace, md5) so the DuckDB oracle replays it
  * exactly. The non-SQL-expressible scale variants (MinHash/LSH, SimHash)
  * live in `graft.operators` and are spec-tested against these exact
  * versions.
  */
object TextOps extends QueryFamily {

  /** d1: exact dedup via content hash + group-by, keeping the smallest
    * doc_id (SURVEY A5/A6 scaled up: the canonical 100 TB exact-dedup is a
    * hash-shuffle on md5(text), never a pairwise compare). */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("keep_id")

  private val d1Sql =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
      | COUNT(*) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** d2: per-document token statistics (token count, punctuation ratio,
    * stopword hits) — the building blocks of quality filtering. */
  def d2TokenStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val charLen = length(col("text"))
    val tokens = charLen - length(expr("replace(text, ' ', '')")) + 1
    val punct = charLen - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val lowered = lower(col("text"))
    val theHits = ((length(lowered) - length(expr("replace(lower(text), 'the', '')"))) / 3).cast("int")
    d.select(
      col("doc_id"),
      charLen.as("char_len"),
      tokens.as("n_tokens"),
      round(punct.cast("double") / charLen.cast("double"), 6).as("punct_ratio"),
      theHits.as("the_hits"))
      .orderBy("doc_id")
  }

  private val d2Sql =
    """SELECT doc_id,
      | CAST(length(text) AS INTEGER) AS char_len,
      | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_tokens,
      | ROUND(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |       / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
      | CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3 AS INTEGER) AS the_hits
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d3: composite quality score + bucket (SURVEY north-star quality
    * scoring: length/punctuation heuristics composed into one [0,1]
    * score). */
  /** The d3 composite quality score over a `text` column — ONE
    * definition shared by every consumer (d3, d35, d37, d41): the
    * formula exists in exactly one Scala place so a tweak cannot
    * silently diverge the queries from each other (each query's SQL
    * replay still pins it against DuckDB independently). */
  private[queries] def qualityScore: Column = {
    val charLen = length(col("text"))
    val tokens = (charLen - length(expr("replace(text, ' ', '')")) + 1).cast("double")
    val punct = (charLen - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    round(
      least(lit(1.0), tokens / lit(200.0)) *
        (lit(1.0) - least(lit(1.0), punct / charLen.cast("double") * 10)), 6)
  }

  /** d34's smallest power-of-two token bucket — shared with d41. */
  private[queries] def lenBucket(n: Column): Column =
    when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
      .when(n <= 128, 128).when(n <= 256, 256).when(n <= 512, 512)
      .otherwise(1024)

  def d3QualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val score = qualityScore
    d.select(
      col("doc_id"),
      score.as("quality_score"),
      when(score > 0.8, "high").when(score > 0.5, "medium").otherwise("low")
        .as("quality_bucket"))
      .orderBy("doc_id")
  }

  /** The d3 quality score as a DuckDB scalar expression over a `text`
    * column — the SQL twin of [[qualityScore]], shared by the d3 oracle
    * and PipelineOps' quality stage (one SQL place, like the Scala). */
  private[queries] val qualityScoreSqlExpr: String =
    """ROUND(least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 200.0)
      |      * (1.0 - least(1.0,
      |          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |          / CAST(length(text) AS DOUBLE) * 10)), 6)""".stripMargin

  private val d3Sql =
    s"""WITH q AS (
      |  SELECT doc_id,
      |    $qualityScoreSqlExpr AS quality_score
      |  FROM documents)
      |SELECT doc_id, quality_score,
      |  CASE WHEN quality_score > 0.8 THEN 'high'
      |       WHEN quality_score > 0.5 THEN 'medium'
      |       ELSE 'low' END AS quality_bucket
      |FROM q ORDER BY doc_id""".stripMargin

  /** d4: document fingerprint — md5 of whitespace-normalized lowercased
    * text (SURVEY north-star fingerprinting; robust to spacing/case
    * variants where d1 is byte-exact). */
  def d4Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"),
        col("lang"), col("source"))
      .orderBy("doc_id")

  private val d4Sql =
    """SELECT doc_id,
      | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      | lang, source
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d5: heuristic language scoring — English marker-word hits (the
    * SQL-expressible core of language ID; the n-gram profile variant is in
    * `graft.operators.TextAnalysis` with spec coverage). */
  def d5LangScore(s: SparkSession, dir: String): DataFrame = {
    // lower(text) materialized once: referenced 6x below, and
    // CollapseProject keeps multi-referenced non-cheap aliases in their
    // own projection instead of re-inlining the scan per use
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("lt"))
    def hits(word: String): Column =
      ((length(col("lt")) -
        length(expr(s"replace(lt, '$word', '')"))) / lit(word.length)).cast("int")
    val enScore = hits("the") + hits("and") + hits("data")
    d.select(
      col("doc_id"), col("lang"),
      enScore.as("en_score"),
      when(enScore >= 3, "en").otherwise("unknown").as("pred_lang"))
      .orderBy("doc_id")
  }

  private val d5Sql =
    """SELECT doc_id, lang,
      | CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
      |    + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
      |    + (length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4 AS INTEGER) AS en_score,
      | CASE WHEN (length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
      |         + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
      |         + (length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4 >= 3
      |      THEN 'en' ELSE 'unknown' END AS pred_lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d6: n-gram (word-set) Jaccard near-dedup over a blocked subset —
    * token inverted-index self-join, the exact-similarity baseline that
    * MinHash/LSH approximates at scale. The doc_id<100 block bounds the
    * candidate pair explosion; at 100 TB the block becomes LSH bucket ids
    * (see `graft.operators.MinHashDedup`). */
  /** Shared word-set pair machinery for the exact-token-overlap family
    * (d6 Jaccard, d27 containment, and via [[jaccardEdges]] the c4/c5
    * graph queries): per-doc distinct-word sets, per-doc sizes, and the
    * intersection count of every co-occurring doc pair (equi-join on the
    * word, doc_a < doc_b so each unordered pair appears once). One edit
    * here — tokenization, blocking — changes all four consumers together;
    * each paired oracle repeats the same CTE text. */
  private[queries] def wordPairStats(docs: DataFrame): (DataFrame, DataFrame) = {
    val tok = docs.select(
      col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = tok.as("a")
      .join(tok.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    (pairs, sizes)
  }

  /** Thresholded Jaccard edge list (a, b) over [[wordPairStats]] — the
    * near-dup graph c4 (triangles) and c5 (PageRank) analyze. */
  private[queries] def jaccardEdges(docs: DataFrame, threshold: Double): DataFrame = {
    val (pairs, sizes) = wordPairStats(docs)
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(col("inter").cast("double") /
        (col("sa.sz") + col("sb.sz") - col("inter")).cast("double") >= threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
  }

  def d6JaccardNearDup(s: SparkSession, dir: String): DataFrame = {
    val (pairs, sizes) =
      wordPairStats(Tables(s, dir, "documents").filter(col("doc_id") < 100))
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** d27: asymmetric containment — Jaccard (d6) misses the "small doc
    * swallowed by a big doc" case, where the intersection is most of the
    * SMALL set but a sliver of the union. Containment = |A∩B| / min(|A|,|B|)
    * is the standard fix (Broder's containment measure). Same blocked
    * word-set machinery as d6; the score is a single correctly-rounded
    * division so the 0.8 gate compares identical doubles in both engines.
    * The raw intersection size is emitted alongside so downstream keep/drop
    * rules can re-threshold without a rescan. */
  def d27Containment(s: SparkSession, dir: String): DataFrame = {
    val (pairs, sizes) =
      wordPairStats(Tables(s, dir, "documents").filter(col("doc_id") < 100))
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("sa.sz"), col("sb.sz")).cast("double"))
      .filter(col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("containment"))
      .orderBy("doc_a", "doc_b")
  }

  private val d27Sql =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM docs),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter,
      |  CAST(inter AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS containment
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d29: Flesch reading-ease score per document (Flesch 1948) — the
    * quality-filter signal complementing d3's ratio score with an actual
    * readability model. Counts are deterministic surrogates: words =
    * whitespace gaps + 1, sentences = runs of [.!?] (min 1), syllables =
    * vowel-group runs per document (the standard approximation). The
    * score 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is five correctly-rounded
    * double ops on identical operands — the decimal literals parse to the
    * identical doubles in both engines, so no rounding is needed. Fully
    * row-local: zero shuffles beyond the final sort. */
  def d29Readability(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").filter(col("doc_id") < 200)
    // '#' as run sentinel: strip pre-existing '#' first so counts never
    // collide with document content
    val clean = regexp_replace(col("text"), "#", "")
    def runs(marked: org.apache.spark.sql.Column) =
      (length(marked) - length(regexp_replace(marked, "#", ""))).cast("long")
    val words = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("long")
    val sentences = greatest(runs(regexp_replace(clean, "[.!?]+", "#")), lit(1L))
    val syllables = greatest(runs(regexp_replace(lower(clean), "[aeiouy]+", "#")), lit(1L))
    docs.select(col("doc_id"), words.as("words"), sentences.as("sentences"),
        syllables.as("syllables"))
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("words").cast("double") / col("sentences").cast("double")) -
          lit(84.6) * (col("syllables").cast("double") / col("words").cast("double")))
      .orderBy("doc_id")
  }

  private val d29Sql =
    """WITH d AS (
      |  SELECT doc_id, text, regexp_replace(text, '#', '', 'g') AS clean
      |  FROM documents WHERE doc_id < 200),
      |c AS (
      |  SELECT doc_id,
      |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS BIGINT) AS words,
      |    greatest(CAST(length(regexp_replace(clean, '[.!?]+', '#', 'g'))
      |      - length(regexp_replace(regexp_replace(clean, '[.!?]+', '#', 'g'), '#', '', 'g')) AS BIGINT), 1) AS sentences,
      |    greatest(CAST(length(regexp_replace(lower(clean), '[aeiouy]+', '#', 'g'))
      |      - length(regexp_replace(regexp_replace(lower(clean), '[aeiouy]+', '#', 'g'), '#', '', 'g')) AS BIGINT), 1) AS syllables
      |  FROM d)
      |SELECT doc_id, words, sentences, syllables,
      |  206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
      |          - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)) AS flesch
      |FROM c ORDER BY doc_id""".stripMargin

  /** d30: n-gram novelty curve — per document in doc_id (arrival) order,
    * the fraction of its distinct word 3-grams never seen in ANY earlier
    * document. The curation signal behind "is new data still adding
    * anything": a corpus whose novelty curve collapses is recycling
    * itself (the aggregate view of what d25 flags pairwise). First
    * occurrence is a |grams|-row min-aggregate on the hex60 gram hash
    * (PortableHash — engine-portable by construction), joined back onto
    * the exploded grams: two shuffles keyed by gram, one by doc. */
  def d30NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val grams = graft.operators.Decontaminate
      .gramHashes(Tables(s, dir, "documents"), "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count()
    val firstSeen = grams.groupBy(col("gh")).agg(min(col("id")).as("first_id"))
    grams.join(firstSeen, "gh")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
      .orderBy("doc_id")
  }

  private val d30Sql: String = {
    val idx = (1 to 3).map(j => s"string_split(text,' ')[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id AS id,
       |    unnest(CASE WHEN len(string_split(text,' ')) >= 3
       |      THEN list_transform(range(0, len(string_split(text,' ')) - 2), i -> $idx)
       |      ELSE [text] END) AS gram
       |  FROM documents),
       |h AS (SELECT id, CAST(('0x' || substr(md5(gram),1,15)) AS BIGINT) AS gh FROM g),
       |f AS (SELECT gh, MIN(id) AS first_id FROM h GROUP BY gh)
       |SELECT h.id AS doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN f.first_id = h.id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  ROUND(CAST(SUM(CASE WHEN f.first_id = h.id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
       |FROM h JOIN f USING (gh)
       |GROUP BY h.id ORDER BY doc_id""".stripMargin
  }

  /** d31: hapax legomena rate per language — the share of the vocabulary
    * occurring exactly once (Zipf's long tail). A high hapax rate means
    * unexploited lexical diversity; a collapsing one means the corpus
    * repeats itself (the vocabulary-level cousin of d30's novelty curve).
    * Two aggregates: token counts per (lang, token), then the per-lang
    * rollup; the rate is one correctly-rounded division. */
  def d31HapaxRate(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("n"))
    tok.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_rate",
        col("n_hapax").cast("double") / col("vocab").cast("double"))
      .orderBy("lang")
  }

  private val d31Sql =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |counts AS (
      |  SELECT lang, t, COUNT(*) AS n FROM tok GROUP BY lang, t)
      |SELECT lang, COUNT(*) AS vocab,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS hapax_rate
      |FROM counts GROUP BY lang ORDER BY lang""".stripMargin

  // d32/d33 constants shared by the Spark queries and their SQL replays.
  // 32 merges (round 9, was 4): enough rounds that the loop's shape —
  // per-round cost pinned to the word-TYPE table, no corpus rescan — is
  // demonstrated, not asserted; real budgets (30k+) just run it longer.
  private[graft] val BpeMerges = 32

  /** d32: BPE tokenizer TRAINING — the first $BpeMerges learned merges
    * over the corpus ([[graft.operators.BpeTrain]]): word-type counts,
    * per-round weighted adjacent-pair argmax, corpus-wide literal-replace
    * merge. The oracle unrolls every round (the Lloyd-unroll pattern
    * applied to tokenizer training), so the learned merge table itself is
    * hash-verified — counts, tie-breaks, and the rewrite cascade. */
  def d32BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.BpeTrain
      .learnMerges(Tables(s, dir, "documents"), "text", BpeMerges)
      .map(m => (m.rank, m.left, m.right, m.weight))
      .toDF("merge_rank", "lhs", "rhs", "weight")
  }

  /** The BPE training loop as a CTE chain (word-type counts, s0
    * symbolization, BpeMerges unrolled rounds of pair-count → argmax →
    * 3-pass replace). `carryWord` keeps the raw word through the chain
    * so consumers can map word → final symbol string (d33's encode
    * join); d32 drops it. An EXHAUSTED round (no non-self pair left —
    * b$i empty) must leave the symbol table unchanged, exactly like the
    * Spark loop stopping early: the merge rides a LEFT JOIN ON TRUE
    * whose NULL row keeps `s` as-is, never a CROSS JOIN that would wipe
    * the table. The multiply-referenced CTEs (each s$i feeds both the
    * next round's pair count and its rewrite join) are MATERIALIZED:
    * DuckDB inlines plain CTEs per reference, which doubles the chain
    * every round — fine at 4 rounds, 2³² plan copies at 32. */
  private def bpeCtes(carryWord: Boolean): String = {
    val cw = if (carryWord) "w, " else ""
    def iter(i: Int): String = {
      val prev = s"s${i - 1}"
      val pat = "' ' || b.lhs || ' ' || b.rhs || ' '"
      val rep = "' ' || b.lhs || b.rhs || ' '"
      s"""p$i AS (
         |  SELECT pr.l AS lhs, pr.r AS rhs, CAST(SUM(wc) AS BIGINT) AS n
         |  FROM (
         |    SELECT wc, unnest(list_transform(range(1, len(toks)),
         |      i -> struct_pack(l := toks[i], r := toks[i + 1]))) AS pr
         |    FROM (SELECT wc, string_split(trim(s), ' ') AS toks FROM $prev) z) zz
         |  GROUP BY pr.l, pr.r),
         |b$i AS MATERIALIZED (
         |  SELECT lhs, rhs, n FROM p$i WHERE lhs <> rhs
         |  ORDER BY n DESC, lhs || ' ' || rhs LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT ${cw}wc,
         |    CASE WHEN b.lhs IS NULL THEN s
         |         ELSE replace(replace(replace(s, $pat, $rep), $pat, $rep), $pat, $rep) END AS s
         |  FROM $prev LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    val iters = (1 to BpeMerges).map(iter).mkString(",\n")
    s"""w AS (
       |  SELECT w, COUNT(*) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
       |  WHERE length(w) > 0 GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT ${cw}wc, ' ' || array_to_string(
       |    list_transform(range(1, length(w) + 1), i -> substring(w, CAST(i AS INTEGER), 1)),
       |    ' ') || ' ' AS s
       |  FROM w),
       |$iters""".stripMargin
  }

  private val d32Sql: String = {
    val unions = (1 to BpeMerges)
      .map(i => s"SELECT $i AS merge_rank, lhs, rhs, n AS weight FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(carryWord = false)}
       |$unions
       |ORDER BY merge_rank""".stripMargin
  }

  /** The learned BPE merge table as a LANDED ARTIFACT ("d32s"): trained
    * at most once per documents fingerprint in a SIBLING session and
    * persisted as a tiny parquet (≤ [[BpeMerges]] rows), under the same
    * cross-session/cross-process discipline as every other artifact
    * family ([[ScaleOps.buildOnce]]: family lock, marker-last, stale-
    * fingerprint prune, rebuild on crash). d33 and d44 load the table
    * instead of each re-deriving the training — at deployment the
    * tokenizer is trained ONCE and applied everywhere (the g1s posture);
    * before this, d32/d33/d44 re-trained three times per bench pass
    * (~12 s combined, ~90% of d33's own timing). d32 remains the pricing
    * run that re-derives the table from scratch every call — the train
    * cost stays visible in exactly one row. The driver-side collect is
    * the bounded materialize-before-use pattern: the table is ≤ 32 rows
    * by construction, and [[graft.operators.BpeTrain.applyMerges]] needs
    * a literal Seq to fold into the replace cascade. */
  private def bpeMergesArtifact(s: SparkSession, dir: String): Seq[graft.operators.BpeTrain.Merge] = {
    val root = ScaleOps.artifactRoot(
      "d32s", ScaleOps.dataFingerprint(dir, Seq("documents")))
    val table = root.resolve("merges").toString
    ScaleOps.buildOnce("d32s", root) {
      val t = s.newSession()
      import t.implicits._
      graft.operators.BpeTrain
        .learnMerges(Tables(t, dir, "documents"), "text", BpeMerges)
        .map(m => (m.rank, m.left, m.right, m.weight))
        .toDF("rank", "lhs", "rhs", "weight")
        .coalesce(1).write.mode("overwrite").parquet(table)
    }
    s.read.parquet(table).collect()
      .map(r => graft.operators.BpeTrain.Merge(
        r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("weight")))
      .sortBy(_.rank).toSeq
  }

  /** The encode applied at the word-TYPE level: the merge cascade (3
    * replaces × [[BpeMerges]] ranks = a 96-deep expression) evaluates
    * once per DISTINCT word, and occurrences join back to their type's
    * subword count over a broadcast — a tokenizer encodes a vocabulary,
    * not a corpus (the oracle's own wt-CTE shape). At any scale the
    * vocabulary is sublinear in the corpus, so this is strictly less
    * compute than the previous per-occurrence cascade (measured 1.57 →
    * 0.6 s at sf0.1 for d33); the broadcast side is |vocab| rows of two
    * small columns. */
  private def bpeSubwordsPerType(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesArtifact(s, dir)
    val encoded = graft.operators.BpeTrain.applyMerges(
      graft.operators.BpeTrain.symbolize(col("w")), merges)
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .withColumn("n_sym", size(split(trim(encoded), " ")).cast("long"))
  }

  /** d33: BPE ENCODE — the learned d32 merge table applied back to the
    * corpus, reported as per-document word and subword counts. Spark
    * applies the merges once per word TYPE with a broadcast join back
    * to occurrences ([[bpeSubwordsPerType]]); the oracle maps word
    * types through the same training chain (carrying the word) and
    * joins per-doc words to their final symbol strings — two routes to
    * the same counts, both hash-verified. The train→encode pair
    * completes the tokenizer lifecycle the way i2's train→encode→ADC
    * does for PQ. The merge table is SERVED from the d32s artifact
    * (train-once posture); the oracle still unrolls the full training
    * chain, so the landed table is hash-checked against a from-scratch
    * replay every run. */
  def d33BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    words.join(broadcast(bpeSubwordsPerType(s, dir)), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_subwords"))
      .orderBy("doc_id")
  }

  private val d33Sql: String =
    s"""WITH ${bpeCtes(carryWord = true)},
       |wt AS (
       |  SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym
       |  FROM s$BpeMerges),
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) z
       |  WHERE length(w) > 0)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_subwords
       |FROM dw JOIN wt USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d44: per-language tokenizer FERTILITY — subwords emitted per word
    * by the d32-trained BPE, rolled up by language: the standard
    * multilingual-tokenizer equity metric (a language whose fertility
    * runs far above the corpus mean pays proportionally more sequence
    * budget per word, the signal that drives vocab rebalancing).
    * Composes the full tokenizer lifecycle: d32's learned merges applied
    * row-locally per word occurrence (d33's encode), aggregated one
    * level up with the ratio on the exact ppm grid (integer `div`, no
    * FP division). The oracle replays the whole unrolled training chain
    * plus the per-language rollup — the tokenizer itself is inside the
    * hash check, not assumed. */
  def d44BpeFertility(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    words.join(broadcast(bpeSubwordsPerType(s, dir)), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_subwords"))
      .withColumn("fertility_ppm", expr("(1000000 * n_subwords) div n_words"))
      .orderBy("lang")
  }

  private val d44Sql: String =
    s"""WITH ${bpeCtes(carryWord = true)},
       |wt AS (
       |  SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym
       |  FROM s$BpeMerges),
       |dw AS (
       |  SELECT lang, w FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) z
       |  WHERE length(w) > 0)
       |SELECT lang, COUNT(*) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_subwords,
       |  (1000000 * CAST(SUM(n_sym) AS BIGINT)) // COUNT(*) AS fertility_ppm
       |FROM dw JOIN wt USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** d46 gram size — c2's decontamination convention (word 5-grams). */
  private val D46N = 5

  /** d46: cross-document duplicated-n-gram FRACTION — the Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better")
    * exact-substring signal at n-gram granularity: for each document,
    * the share of its distinct word [[D46N]]-grams that appear in at
    * least one OTHER document, on the integer ppm grid. MinHash (m1)
    * answers "which documents are near-duplicates"; this answers "how
    * much of THIS document is copied text" — the per-document memorization
    * risk that survives even when no single partner crosses the pair
    * threshold (boilerplate, license headers, quoted passages). Scale
    * shape: one shuffle keyed on gram hash (the inverted-gram posting
    * list — per-key rows bounded by a gram's document frequency), one
    * semi-join back, never a pair join; the gram table is persisted so
    * the df-aggregate and the per-doc rollup share one derivation.
    * Oracle replays grams (c2's chain), hashes, the ≥2-doc filter, and
    * the ppm division. */
  def d46DupGramFraction(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val grams = graft.operators.Decontaminate
      .gramHashes(Tables(s, dir, "documents"), "doc_id", "text", D46N)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // materialize ONCE: three consumers below (ndPairs rule)
    // ≥2-distinct-docs as min(id) ≠ max(id) — a plain partial-agg
    // groupBy instead of the Expand + two-phase distinct aggregate
    // (identical gram set; the SpanDedup.spanProfile rewrite, same
    // proof; oracle keeps COUNT(DISTINCT))
    val dupGrams = grams.groupBy(col("gh"))
      .agg(min(col("id")).as("i0"), max(col("id")).as("i1"))
      .filter(col("i0") =!= col("i1"))
      .select(col("gh"))
    val perDoc = grams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val dupPerDoc = grams.join(dupGrams, Seq("gh"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_grams"))
      .orderBy("doc_id")
  }

  private lazy val d46Sql: String = {
    val gram = (1 to D46N).map(j => s"string_split(text,' ')[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH gr AS (
       |  SELECT doc_id AS id,
       |    unnest(list_distinct(
       |      CASE WHEN len(string_split(text,' ')) >= $D46N
       |        THEN list_transform(range(0, len(string_split(text,' ')) - ${D46N - 1}),
       |          i -> $gram)
       |        ELSE [text] END)) AS g
       |  FROM documents),
       |ghs AS (SELECT id, CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) AS gh FROM gr),
       |dg AS (SELECT gh FROM (
       |    SELECT gh, COUNT(DISTINCT id) AS nd FROM ghs GROUP BY gh) z
       |  WHERE nd >= 2),
       |pd AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ghs GROUP BY id),
       |dd AS (SELECT ghs.id, CAST(COUNT(*) AS BIGINT) AS n_dup
       |       FROM ghs JOIN dg USING (gh) GROUP BY ghs.id)
       |SELECT pd.id AS doc_id, pd.n_grams,
       |  COALESCE(dd.n_dup, 0) AS n_dup,
       |  (1000000 * COALESCE(dd.n_dup, 0)) // pd.n_grams AS dup_ppm
       |FROM pd LEFT JOIN dd ON dd.id = pd.id
       |ORDER BY doc_id""".stripMargin
  }

  /** d47: the CORPUS DATASHEET — the one-row data card a dataset ships
    * with (the model-card convention applied to training data): size
    * (docs, whitespace tokens), language spread, exact-duplicate rate,
    * and the d3 quality profile (integer-ppm mean + the high/medium/low
    * bucket counts). Every number is a single-pass aggregate — the
    * datasheet is the CHEAP summary a build prints before the expensive
    * sweeps run; the deep signals have their own rows (m1 near-dups,
    * c2 contamination, d46 copied-text fraction). Exactness: the mean
    * quality rides the micro-unit grid (round-6 score × 1e6 is integer-
    * valued; integer sums are order-free where a double AVG is not). */
  def d47CorpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    val score = qualityScore
    Tables(s, dir, "documents")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"),
        sum(round(score * 1000000).cast("long")).as("q_micro"),
        sum(when(score > 0.8, 1L).otherwise(0L)).as("n_high"),
        sum(when(score > 0.5 && score <= 0.8, 1L).otherwise(0L)).as("n_medium"),
        sum(when(score <= 0.5, 1L).otherwise(0L)).as("n_low"))
      .select(col("n_docs"), col("total_tokens"), col("n_langs"),
        expr("(1000000 * n_exact_dups) div n_docs").as("exact_dup_ppm"),
        expr("q_micro div n_docs").as("mean_quality_ppm"),
        col("n_high"), col("n_medium"), col("n_low"))
  }

  private lazy val d47Sql: String =
    s"""WITH q AS (
       |  SELECT text, lang, $qualityScoreSqlExpr AS s,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST((1000000 * (COUNT(*) - COUNT(DISTINCT text))) // COUNT(*)
       |    AS BIGINT) AS exact_dup_ppm,
       |  CAST(CAST(SUM(CAST(ROUND(s * 1000000) AS BIGINT)) AS BIGINT)
       |    // COUNT(*) AS BIGINT) AS mean_quality_ppm,
       |  CAST(SUM(CASE WHEN s > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       |  CAST(SUM(CASE WHEN s > 0.5 AND s <= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_medium,
       |  CAST(SUM(CASE WHEN s <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |FROM q""".stripMargin

  /** d48 minimum shared-substring length in words — Lee et al.'s L on
    * the word-gram grid (d25's passage size, so the two rows read the
    * same corpus signal at two depths: d25 counts duplicated grams,
    * d48 merges them into covered spans). */
  private[graft] val D48MinLen = 8

  /** d48: EXACT-SUBSTRING SPAN DEDUP — the full Lee et al. 2022
    * operator ([[graft.operators.SpanDedup]]): per document, the merged
    * token ranges covered by any ≥ [[D48MinLen]]-word substring shared
    * verbatim with another document — span count, covered tokens,
    * longest span, and the copied fraction on the integer ppm grid.
    * d25/d46 approximate this signal at fixed-gram granularity (how
    * many duplicated grams); d48 is the span-extension form (how much
    * text the duplicates COVER once overlapping grams merge) — the
    * number an ExactSubstr funnel stage thresholds on (pipe4). Oracle
    * replays the whole chain: positional grams, hex60 hashes, the
    * ≥2-doc rule, the fixed-length interval merge as a window, and the
    * per-doc rollup. */
  def d48SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanDedup
      .spanProfile(Tables(s, dir, "documents"), "doc_id", "text", D48MinLen)
      .orderBy("doc_id")

  /** The d48 CTE chain ending in `d48out(doc_id, n_tokens, n_spans,
    * covered_tokens, longest_span, copied_ppm)` — parameterized on a
    * WHERE clause so pipe4 replays the same text over the training
    * universe. Package-visible for [[PipelineOps]]. */
  private[queries] def d48SpanCtes(where: String = "", p: String = "d48"): String = {
    val n = D48MinLen
    val gram = (1 to n).map(j => s"ws[pos+$j]").mkString(" || ' ' || ")
    s"""${p}g AS (
       |  SELECT doc_id AS id, string_split(text, ' ') AS ws
       |  FROM documents $where),
       |${p}p AS (
       |  SELECT id, ws,
       |    CAST(unnest(range(0, greatest(len(ws) - ${n - 1}, 0))) AS INTEGER) AS pos
       |  FROM ${p}g),
       |${p}h AS (
       |  SELECT id, pos,
       |    CAST(('0x' || substr(md5($gram), 1, 15)) AS BIGINT) AS gh
       |  FROM ${p}p),
       |${p}d AS (SELECT gh FROM (
       |    SELECT gh, COUNT(DISTINCT id) AS nd FROM ${p}h GROUP BY gh) z
       |  WHERE nd >= 2),
       |${p}s AS (SELECT id, pos FROM ${p}h WHERE gh IN (SELECT gh FROM ${p}d)),
       |${p}sp AS (
       |  SELECT id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
       |      OR pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + $n
       |    THEN 1 ELSE 0 END AS ns
       |  FROM ${p}s),
       |${p}sid AS (
       |  SELECT id, pos, SUM(ns) OVER (PARTITION BY id ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM ${p}sp),
       |${p}spans AS (
       |  SELECT id, CAST(MAX(pos) + $n - MIN(pos) AS BIGINT) AS len
       |  FROM ${p}sid GROUP BY id, sid),
       |${p}pd AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(len) AS BIGINT) AS covered_tokens,
       |    CAST(MAX(len) AS BIGINT) AS longest_span
       |  FROM ${p}spans GROUP BY id),
       |${p}out AS (
       |  SELECT g.id AS doc_id, CAST(len(g.ws) AS BIGINT) AS n_tokens,
       |    COALESCE(p.n_spans, 0) AS n_spans,
       |    COALESCE(p.covered_tokens, 0) AS covered_tokens,
       |    COALESCE(p.longest_span, 0) AS longest_span,
       |    (1000000 * COALESCE(p.covered_tokens, 0))
       |      // CAST(len(g.ws) AS BIGINT) AS copied_ppm
       |  FROM ${p}g g LEFT JOIN ${p}pd p ON p.id = g.id)""".stripMargin
  }

  private lazy val d48Sql: String =
    s"""WITH ${d48SpanCtes()}
       |SELECT * FROM d48out ORDER BY doc_id""".stripMargin

  /** d50: ROLLING exact-substring span dedup — d48 as a stream, served
    * per frontier ([[graft.streaming.StreamOps.spanDedupBatch]], the
    * 14th rolling family): documents arrive in three waves (wave =
    * doc_id mod 3); each wave probes the landed gram log ONLY on its
    * own gram keys and lands newly-covered occurrences as events — the
    * RETROACTIVE half is the point: a wave-2 arrival makes a wave-0
    * document's passage copied text, and the event log says so at
    * wave 2 without re-sweeping the corpus. Per frontier the row
    * reports covered docs / spans / covered tokens; each frontier
    * equals the one-shot d48 over the documents arrived by then (the
    * oracle replays three prefixed d48 chains — the rolling machinery
    * must be invisible in the numbers). State builds once per corpus
    * fingerprint (the i13 buildOnce discipline) and every invocation
    * serves from the landed event log. */
  def d50RollingSpans(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val root = ScaleOps.artifactRoot("d50s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    // rebuildIf: schema-upgrade hook — state landed before the family
    // grew the span_doclens universe log can't serve the one-shot
    // schema; rebuild from scratch (delete-state-first, so the rebuild
    // is exactly a first run)
    val doclens = java.nio.file.Paths.get(s"$root/state/span_doclens")
    ScaleOps.buildOnce("d50s", root,
        rebuildIf = () => !java.nio.file.Files.exists(doclens)) {
      graft.sources.Sources.deleteRecursively(
        new java.io.File(s"$root/state"))
      val t = s.newSession()
      val docs = Tables(t, dir, "documents").select(col("doc_id"), col("text"))
      (0 until 3).foreach { b =>
        StreamOps.spanDedupBatch(
          docs.filter(pmod(col("doc_id"), lit(3L)) === b.toLong),
          s"$root/state", b.toLong)
      }
    }
    (0 until 3).map { f =>
      StreamOps.spansAsOf(s, s"$root/state", f.toLong)
        .filter(col("n_spans") > 0) // the row reports COVERED docs
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_spans")).as("ns"),
          sum(col("covered_tokens")).as("ct"))
        .select(lit(f.toLong).as("frontier"), col("n_docs"),
          coalesce(col("ns"), lit(0L)).as("n_spans"),
          coalesce(col("ct"), lit(0L)).as("covered_tokens"))
    }.reduce(_ unionByName _).orderBy("frontier")
  }

  private lazy val d50Sql: String = {
    def sel(f: Int): String =
      s"""SELECT CAST($f AS BIGINT) AS frontier,
         |  COUNT(*) AS n_docs,
         |  COALESCE(CAST(SUM(n_spans) AS BIGINT), 0) AS n_spans,
         |  COALESCE(CAST(SUM(covered_tokens) AS BIGINT), 0) AS covered_tokens
         |FROM r${f}out WHERE n_spans > 0""".stripMargin
    s"""WITH ${d48SpanCtes("WHERE doc_id % 3 <= 0", "r0")},
       |${d48SpanCtes("WHERE doc_id % 3 <= 1", "r1")},
       |${d48SpanCtes("", "r2")}
       |${sel(0)}
       |UNION ALL
       |${sel(1)}
       |UNION ALL
       |${sel(2)}
       |ORDER BY frontier""".stripMargin
  }

  /** d49's within-doc duplicated-gram size (Rae et al.'s smallest
    * dup-n-gram rule, n = 5). */
  private val D49DupN = 5

  /** d49: the GOPHER REPETITION SCORECARD (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", table A1) — the per-document repetition battery the
    * standard quality-filter stack applies alongside d3/d11/d29/d38:
    *   - dup_line_ppm: fraction of lines that repeat an earlier line
    *     (split on newline; single-line corpora score 0 — correctly);
    *   - top2_char_ppm / top3_char_ppm: fraction of characters inside
    *     occurrences of the MOST FREQUENT word 2-/3-gram (count
    *     desc, gram asc tie-break — deterministic on both engines);
    *   - dup5_token_ppm: fraction of tokens covered by any word
    *     [[D49DupN]]-gram occurring ≥ 2 times WITHIN the document —
    *     the within-doc twin of d48's cross-doc span coverage, on the
    *     same interval-merge machinery ([[graft.operators.SpanDedup
    *     .mergedSpanLens]]).
    * All ppm-grid integers. Scale shape: line stats are row-local;
    * the gram signals shuffle keyed (doc, gram) — per-key rows bounded
    * by a document's own length, never cross-document. */
  def d49GopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetition(Tables(s, dir, "documents"))

  /** [[d49GopherRepetition]] over an arbitrary (doc_id, text) frame —
    * package-visible so the spec can drive the degenerate-on-this-
    * corpus signals (multi-line duplicates, within-doc gram repeats)
    * through crafted fixtures. Cache contract: the positional 5-gram
    * table stays persisted (occurrence-count and semi-join sides share
    * it) — the CALLER releases it via clearCache, the
    * [[graft.operators.SpanDedup.spanProfile]] convention. */
  private[graft] def gopherRepetition(docs: DataFrame): DataFrame = {
    // one row-local scan for BOTH the token/char sizes and the duplicate-
    // line ppm (they were two scans + a join; all four signals are
    // per-row expressions over the same text column)
    val base = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), "\n")).cast("long").as("nl"),
        size(array_distinct(split(col("text"), "\n"))).cast("long").as("ndl"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        expr("(1000000 * (nl - ndl)) div nl").as("dup_line_ppm"))
    // top n-gram char mass: gram OCCURRENCES (not distinct) per doc.
    // Kept as TWO independent pipelines deliberately (r19 measured):
    // fusing them into one explode of concat(2-grams, 3-grams) ran
    // SLOWER (2.91→3.07 s) — the fused tree serializes what the
    // scheduler otherwise runs as two concurrent stage chains, and
    // InferFiltersFromGenerate duplicates the doubled gram-array
    // expression per row; a min(struct(-c, g)) top-1 (no window sort)
    // was slower still (4.1 s — interpreted struct comparisons).
    def topGramChars(n: Int, out: String): DataFrame = {
      val byGram = docs
        .select(col("doc_id"),
          explode(graft.operators.Decontaminate
            .slidingGrams(split(col("text"), " "), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("c").desc, col("g"))
      byGram.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).cast("long").as(out))
    }
    // within-doc duplicated 5-gram coverage: positional grams, the
    // ≥2-occurrences-in-THIS-doc rule, then the shared interval merge
    val pos5 = graft.operators.SpanDedup
      .posGramHashes(docs, "doc_id", "text", D49DupN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pos5.count() // materialize ONCE: occurrence-count and semi-join sides
    val dupIn = pos5.groupBy(col("id"), col("gh"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("id"), col("gh"))
    val starts = pos5.join(dupIn, Seq("id", "gh"), "left_semi")
      .select(col("id"), col("pos"))
    val dup5 = graft.operators.SpanDedup.mergedSpanLens(starts, D49DupN)
      .groupBy(col("id")).agg(sum(col("len")).as("cov5"))
      .select(col("id").as("doc_id"), col("cov5"))
    base
      .join(topGramChars(2, "c2"), Seq("doc_id"), "left")
      .join(topGramChars(3, "c3"), Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        col("dup_line_ppm"),
        expr("(1000000 * coalesce(c2, 0)) div n_chars").as("top2_char_ppm"),
        expr("(1000000 * coalesce(c3, 0)) div n_chars").as("top3_char_ppm"),
        expr("(1000000 * coalesce(cov5, 0)) div n_tokens").as("dup5_token_ppm"))
      .orderBy("doc_id")
  }

  private lazy val d49Sql: String = {
    def gramList(n: Int): String = {
      val g = (1 to n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""CASE WHEN len(ws) >= $n
         |  THEN list_transform(range(0, len(ws) - ${n - 1}), i -> $g)
         |  ELSE []::VARCHAR[] END""".stripMargin
    }
    def topCte(n: Int, p: String): String =
      s"""${p}g AS (
         |  SELECT doc_id, unnest(${gramList(n)}) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) z),
         |${p}c AS (SELECT doc_id, g, COUNT(*) AS c FROM ${p}g GROUP BY doc_id, g),
         |${p}t AS (
         |  SELECT doc_id, CAST(c * length(g) AS BIGINT) AS chars FROM (
         |    SELECT doc_id, g, c,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
         |    FROM ${p}c) z
         |  WHERE rk = 1)""".stripMargin
    val n = D49DupN
    val dgram = (1 to n).map(j => s"ws[pos+$j]").mkString(" || ' ' || ")
    s"""WITH b AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents),
       |ln AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS nl,
       |    CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS ndl
       |  FROM documents),
       |${topCte(2, "b2")},
       |${topCte(3, "b3")},
       |p5 AS (
       |  SELECT doc_id AS id, ws,
       |    CAST(unnest(range(0, greatest(len(ws) - ${n - 1}, 0))) AS INTEGER) AS pos
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) z),
       |h5 AS (
       |  SELECT id, pos,
       |    CAST(('0x' || substr(md5($dgram), 1, 15)) AS BIGINT) AS gh
       |  FROM p5),
       |di AS (SELECT id, gh FROM (
       |    SELECT id, gh, COUNT(*) AS c FROM h5 GROUP BY id, gh) z
       |  WHERE c >= 2),
       |s5 AS (SELECT h5.id, h5.pos FROM h5 JOIN di USING (id, gh)),
       |sp5 AS (
       |  SELECT id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
       |      OR pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + $n
       |    THEN 1 ELSE 0 END AS ns
       |  FROM s5),
       |sid5 AS (
       |  SELECT id, pos, SUM(ns) OVER (PARTITION BY id ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM sp5),
       |sl5 AS (
       |  SELECT id, CAST(MAX(pos) + $n - MIN(pos) AS BIGINT) AS len
       |  FROM sid5 GROUP BY id, sid),
       |d5 AS (SELECT id AS doc_id, CAST(SUM(len) AS BIGINT) AS cov5
       |       FROM sl5 GROUP BY id)
       |SELECT b.doc_id, b.n_tokens, b.n_chars,
       |  (1000000 * (ln.nl - ln.ndl)) // ln.nl AS dup_line_ppm,
       |  (1000000 * COALESCE(b2t.chars, 0)) // b.n_chars AS top2_char_ppm,
       |  (1000000 * COALESCE(b3t.chars, 0)) // b.n_chars AS top3_char_ppm,
       |  (1000000 * COALESCE(d5.cov5, 0)) // b.n_tokens AS dup5_token_ppm
       |FROM b
       |JOIN ln ON ln.doc_id = b.doc_id
       |LEFT JOIN b2t ON b2t.doc_id = b.doc_id
       |LEFT JOIN b3t ON b3t.doc_id = b.doc_id
       |LEFT JOIN d5 ON d5.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** d51's stop-word list — Rae et al. 2021's eight (the Gopher "stop
    * word filter" requires at least [[D51MinStops]] of these present). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher thresholds (Rae et al. 2021 §A1.1), on this engine's
    * integer grids: words ∈ [50, 100k], mean word length ∈ [3, 10]
    * chars (c100 grid), symbol-to-word ≤ 0.1, bullet lines ≤ 90%,
    * ellipsis lines ≤ 30%, alphabetic words ≥ 80%, ≥ 2 stop words. */
  private val D51MinWords = 50L
  private val D51MaxWords = 100000L
  private val D51MinStops = 2L

  /** d51: the GOPHER QUALITY BATTERY — the non-repetition half of the
    * Rae et al. 2021 table-A1 filter stack (d49 holds the repetition
    * rules): per document, word count, mean word length, symbol-to-word
    * ratio ('#' and '...' — the paper's two symbols), the share of
    * lines that are bullets / end in an ellipsis, the share of words
    * containing an alphabetic character, how many of the eight Gopher
    * stop words appear, and the composed PASS verdict every threshold
    * must clear. All integer-grid (c100 / ppm), all ROW-LOCAL — zero
    * shuffles before the output sort, so the battery costs one corpus
    * scan at any scale. The synthetic corpus is single-line and clean,
    * so the degenerate signals (bullet/ellipsis/symbol trips) are
    * exercised by crafted fixtures in the spec, like d49's. */
  def d51GopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherQuality(Tables(s, dir, "documents"))

  /** [[d51GopherQuality]] over an arbitrary (doc_id, text) frame —
    * package-visible for the crafted-fixture spec. */
  private[graft] def gopherQuality(docs0: DataFrame): DataFrame = {
    // NULL text coalesces to '' on BOTH sides (mirrored in d51Sql): the
    // engines disagree on the degenerate input otherwise — Spark's
    // size(split(NULL)) is -1 (negative ppm grids) while DuckDB's
    // len(string_split(NULL)) is NULL (row of NULLs)
    val docs = docs0.withColumn("text", coalesce(col("text"), lit("")))
    val ws = split(col("text"), " ")
    val ls = split(col("text"), "\n")
    val nWords = size(ws).cast("long")
    val nLines = size(ls).cast("long")
    // characters across words (separators excluded) — a sequential
    // integer fold, bit-equal to DuckDB's list_sum(list_transform(...))
    val wordChars = aggregate(ws, lit(0L),
      (acc, w) => acc + length(w).cast("long"))
    // the paper's two symbols: '#' occurrences + non-overlapping '...'
    // occurrences (both engines' replace() is leftmost-non-overlapping)
    val symbols =
      (length(col("text")) - length(expr("replace(text, '#', '')"))).cast("long") +
        expr("(length(text) - length(replace(text, '...', ''))) div 3")
          .cast("long")
    val bulletLines = size(filter(ls, l =>
      l.startsWith("- ") || l.startsWith("• ") || l.startsWith("* ")))
      .cast("long")
    val ellipsisLines = size(filter(ls, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = GopherStops.map(w =>
        when(array_contains(ws, w), 1L).otherwise(0L))
      .reduce(_ + _)
    docs.select(col("doc_id"),
        nWords.as("n_words"), nLines.as("n_lines"),
        wordChars.as("wchars"), symbols.as("symbols"),
        bulletLines.as("bl"), ellipsisLines.as("el"),
        alphaWords.as("aw"), stops.as("stopword_hits"))
      .select(col("doc_id"), col("n_words"),
        expr("(100 * wchars) div n_words").as("mean_word_len_c100"),
        expr("(1000000 * symbols) div n_words").as("symbol_ppm"),
        expr("(1000000 * bl) div n_lines").as("bullet_line_ppm"),
        expr("(1000000 * el) div n_lines").as("ellipsis_line_ppm"),
        expr("(1000000 * aw) div n_words").as("alpha_word_ppm"),
        col("stopword_hits"))
      .withColumn("gopher_pass",
        when(col("n_words").between(D51MinWords, D51MaxWords) &&
          col("mean_word_len_c100").between(300L, 1000L) &&
          col("symbol_ppm") <= 100000L &&
          col("bullet_line_ppm") <= 900000L &&
          col("ellipsis_line_ppm") <= 300000L &&
          col("alpha_word_ppm") >= 800000L &&
          col("stopword_hits") >= D51MinStops, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  private lazy val d51Sql: String = {
    val stopSum = GopherStops.map(w =>
      s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id, COALESCE(text, '') AS text,
       |    string_split(COALESCE(text, ''), ' ') AS ws,
       |    string_split(COALESCE(text, ''), chr(10)) AS ls
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS wchars,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
       |      AS symbols,
       |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')
       |      OR starts_with(l, '• ') OR starts_with(l, '* '))) AS BIGINT) AS bl,
       |    CAST(len(list_filter(ls, l -> ends_with(l, '...')
       |      OR ends_with(l, '…'))) AS BIGINT) AS el,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS aw,
       |    CAST($stopSum AS BIGINT) AS stopword_hits
       |  FROM b),
       |o AS (
       |  SELECT doc_id, n_words,
       |    (100 * wchars) // n_words AS mean_word_len_c100,
       |    (1000000 * symbols) // n_words AS symbol_ppm,
       |    (1000000 * bl) // n_lines AS bullet_line_ppm,
       |    (1000000 * el) // n_lines AS ellipsis_line_ppm,
       |    (1000000 * aw) // n_words AS alpha_word_ppm,
       |    stopword_hits
       |  FROM m)
       |SELECT *,
       |  CAST(CASE WHEN n_words BETWEEN $D51MinWords AND $D51MaxWords
       |    AND mean_word_len_c100 BETWEEN 300 AND 1000
       |    AND symbol_ppm <= 100000
       |    AND bullet_line_ppm <= 900000
       |    AND ellipsis_line_ppm <= 300000
       |    AND alpha_word_ppm >= 800000
       |    AND stopword_hits >= $D51MinStops THEN 1 ELSE 0 END AS BIGINT)
       |    AS gopher_pass
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** d52's repetition thresholds (Rae et al. 2021 table A1, on this
    * engine's ppm grids): duplicate-line share ≤ 30%, top-2-gram char
    * share ≤ 20%, top-3-gram ≤ 18%, duplicated-5-gram coverage ≤ 15%. */
  private val D52MaxDupLinePpm = 300000L
  private val D52MaxTop2Ppm = 200000L
  private val D52MaxTop3Ppm = 180000L
  private val D52MaxDup5Ppm = 150000L

  /** d52: the COMPOSED GOPHER VERDICT — the Rae et al. table-A1 filter
    * stack as ONE deployable keep/drop row: d49's repetition grid and
    * d51's quality grid, each collapsed to its pass bit, joined on
    * doc_id. `kept` is the conjunction — what a corpus build actually
    * reads. Replays BOTH halves' full ppm batteries (the oracle nests
    * d49Sql and d51Sql verbatim as derived tables), so the composition
    * cannot drift from its parts; one corpus scan per half, the join
    * keyed on doc_id — row-bounded at any scale. */
  def d52GopherVerdict(s: SparkSession, dir: String): DataFrame =
    gopherVerdict(Tables(s, dir, "documents"))

  /** [[d52GopherVerdict]] over an arbitrary (doc_id, text) frame —
    * package-visible for the crafted-fixture spec (the clean corpus
    * trips neither half; fixtures trip each rule). Inherits d49's
    * cache contract (the caller releases the positional-gram persist
    * via clearCache). */
  private[graft] def gopherVerdict(docs: DataFrame): DataFrame = {
    val rep = gopherRepetition(docs).select(col("doc_id"),
      when(col("dup_line_ppm") <= D52MaxDupLinePpm &&
        col("top2_char_ppm") <= D52MaxTop2Ppm &&
        col("top3_char_ppm") <= D52MaxTop3Ppm &&
        col("dup5_token_ppm") <= D52MaxDup5Ppm, 1L).otherwise(0L)
        .as("repetition_pass"))
    val qual = gopherQuality(docs).select(col("doc_id"),
      col("gopher_pass").as("quality_pass"))
    rep.join(qual, Seq("doc_id"))
      .withColumn("kept",
        when(col("repetition_pass") === 1L && col("quality_pass") === 1L,
          1L).otherwise(0L))
      .orderBy("doc_id")
  }

  private lazy val d52Sql: String =
    s"""WITH rep AS (SELECT * FROM ($d49Sql)),
       |qual AS (SELECT * FROM ($d51Sql))
       |SELECT r.doc_id,
       |  CAST(CASE WHEN r.dup_line_ppm <= $D52MaxDupLinePpm
       |    AND r.top2_char_ppm <= $D52MaxTop2Ppm
       |    AND r.top3_char_ppm <= $D52MaxTop3Ppm
       |    AND r.dup5_token_ppm <= $D52MaxDup5Ppm THEN 1 ELSE 0 END AS BIGINT)
       |    AS repetition_pass,
       |  q.gopher_pass AS quality_pass,
       |  CAST(CASE WHEN r.dup_line_ppm <= $D52MaxDupLinePpm
       |    AND r.top2_char_ppm <= $D52MaxTop2Ppm
       |    AND r.top3_char_ppm <= $D52MaxTop3Ppm
       |    AND r.dup5_token_ppm <= $D52MaxDup5Ppm
       |    AND q.gopher_pass = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM rep r JOIN qual q ON q.doc_id = r.doc_id
       |ORDER BY r.doc_id""".stripMargin

  /** d43 anonymity threshold: classes smaller than this are
    * re-identification risks. Package-visible: the streaming monitor
    * ([[graft.streaming.StreamOps.kAnonPerBatch]]) enforces the SAME
    * release policy per ingest batch. */
  private[graft] val KAnon = 5L

  /** Per-level equivalence-class sizes over an arbitrary documents frame
    * (needs source, lang, n_chars) — the ADDITIVE half of d43: class
    * sizes are sums, so a streaming monitor merges per-batch counts into
    * an accumulated-window class table by plain addition. One row per
    * (level, source, lang, len_class). */
  private[graft] def kAnonClassCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val levels = Seq(
      0 -> expr("n_chars div 10"),
      1 -> expr("n_chars div 100"),
      2 -> lit(-1L))
    levels.map { case (lv, g) =>
      docs.select(lit(lv).as("level"), col("source"), col("lang"),
          g.cast("long").as("len_class"))
        .groupBy(col("level"), col("source"), col("lang"), col("len_class"))
        .agg(count(lit(1)).as("sz"))
    }.reduce(_ unionByName _)
  }

  /** d43's 3-row report off a class-size table — the rollup half shared
    * by the batch query and the streaming monitor. */
  private[graft] def kAnonReport(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    counts.groupBy(col("level"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class_size"),
        sum(when(col("sz") < KAnon, col("sz")).otherwise(0L)).as("rows_at_risk"))
      .select(col("level"), col("n_classes"), col("min_class_size"),
        (col("min_class_size") >= KAnon).as("k_satisfied"), col("rows_at_risk"))
      .orderBy("level")

  /** d43: k-ANONYMITY generalization sweep — the privacy audit a
    * training-data release runs over its quasi-identifiers (here
    * source × lang × document length): for each GENERALIZATION level of
    * the length attribute (width-10 buckets → width-100 → suppressed),
    * the equivalence-class profile (class count, minimum class size,
    * rows in classes below k) and whether the level satisfies
    * k-anonymity. The release picks the FINEST level with
    * `k_satisfied` — generalizing further destroys utility for no
    * privacy gain. One aggregate per level over the same scan shape
    * (the levels are a 3-row report, not a search at runtime); all
    * integer arithmetic. */
  def d43KAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonReport(kAnonClassCounts(Tables(s, dir, "documents")))

  private val d43Sql: String = {
    def level(lv: Int, g: String): String =
      s"""SELECT $lv AS level, COUNT(*) AS n_classes,
         |  MIN(sz) AS min_class_size,
         |  MIN(sz) >= $KAnon AS k_satisfied,
         |  CAST(SUM(CASE WHEN sz < $KAnon THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
         |FROM (
         |  SELECT source, lang, $g AS len_class, COUNT(*) AS sz
         |  FROM documents GROUP BY source, lang, $g) z""".stripMargin
    Seq(level(0, "n_chars // 10"), level(1, "n_chars // 100"),
        level(2, "CAST(-1 AS BIGINT)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY level")
  }

  /** d45 wave count: the k-anon monitor accumulates the documents table
    * in three ingest waves split by doc_id mod this. */
  private val D45Waves = 3L

  /** d45: TIME-TRAVEL read of the k-anonymity monitor state — d43's
    * class-count accumulation driven through three ingest waves (the
    * SAME [[graft.streaming.StreamOps.kAnonBatch]] additive merge the
    * streaming monitor runs), then the accumulated class table AS OF
    * waves 1 and 2 ([[graft.streaming.StreamOps.kanonAsOf]], the
    * labelsAsOf contract) shaped with the same [[kAnonReport]] rollup:
    * the exact class profile the release gate saw when batch N was the
    * frontier — the lineage a privacy audit of a PAST release decision
    * needs. The oracle replays d43's SQL over only the documents
    * arrived by each frontier; a snapshot that leaked any wave-2 count
    * goes red. */
  def d45AsofKanon(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_d45_").toString
    try {
      (0L until D45Waves).foreach { b =>
        StreamOps.kAnonBatch(
          docs.filter(pmod(col("doc_id"), lit(D45Waves)) === b),
          s"$root/state", b)
      }
      def frontier(n: Long) =
        kAnonReport(StreamOps.kanonAsOf(s, s"$root/state", asOf = n))
          .select(lit(n).as("as_of"), col("level"), col("n_classes"),
            col("min_class_size"), col("k_satisfied"), col("rows_at_risk"))
      val res = frontier(1L).unionByName(frontier(2L)).orderBy("as_of", "level")
      // bounded (6 rows): materialize before the temp state deletes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  private val d45Sql: String = {
    def level(n: Int, lv: Int, g: String): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, $lv AS level,
         |  COUNT(*) AS n_classes, MIN(sz) AS min_class_size,
         |  MIN(sz) >= $KAnon AS k_satisfied,
         |  CAST(SUM(CASE WHEN sz < $KAnon THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
         |FROM (
         |  SELECT source, lang, $g AS len_class, COUNT(*) AS sz
         |  FROM documents WHERE doc_id % $D45Waves <= $n
         |  GROUP BY source, lang, $g) z""".stripMargin
    (for {
      n <- Seq(1, 2)
      (lv, g) <- Seq(0 -> "n_chars // 10", 1 -> "n_chars // 100",
        2 -> "CAST(-1 AS BIGINT)")
    } yield level(n, lv, g))
      .mkString("", "\nUNION ALL\n", "\nORDER BY as_of, level")
  }

  /** d34: length-bucketed batch shaping — assign each document to the
    * smallest power-of-two token bucket that holds it and report bucket
    * occupancy plus PADDING WASTE (tokens burned if every member pads to
    * the bucket max) — the sorted-batching diagnostic that decides
    * whether a training pipeline pads, packs (d18), or re-buckets. Pure
    * integer arithmetic off the d2 token convention; one hash aggregate. */
  def d34LengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text")) - length(expr("replace(text, ' ', '')")) + 1
    val bucket = lenBucket(n)
    Tables(s, dir, "documents")
      .select(bucket.cast("int").as("bucket_max"), n.cast("long").as("nt"))
      .groupBy(col("bucket_max"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
      .withColumn("padding_waste",
        col("n_docs") * col("bucket_max").cast("long") - col("sum_tokens"))
      .orderBy("bucket_max")
  }

  private val d34Sql =
    """WITH t AS (
      |  SELECT length(text) - length(replace(text, ' ', '')) + 1 AS nt
      |  FROM documents),
      |b AS (
      |  SELECT CAST(CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
      |    WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
      |    WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
      |    ELSE 1024 END AS INTEGER) AS bucket_max,
      |    CAST(nt AS BIGINT) AS nt
      |  FROM t)
      |SELECT bucket_max, COUNT(*) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
      |  COUNT(*) * CAST(bucket_max AS BIGINT) - CAST(SUM(nt) AS BIGINT) AS padding_waste
      |FROM b GROUP BY bucket_max ORDER BY bucket_max""".stripMargin

  /** d41: matched contrastive sampling — pair each high-quality document
    * with a low-quality document of the SAME d34 length bucket,
    * deterministically (i-th best ↔ i-th worst within the bucket), and
    * report the pairing per bucket. This is the matched-control
    * construction behind quality-classifier training sets and ablation
    * evals: comparing high vs low quality WITHOUT length matching mostly
    * measures length (the d3 score is length-correlated by design), so
    * the control must come from the same bucket.
    *
    * Determinism: the hi side ranks (score DESC, doc_id ASC), the lo
    * side ranks the EXACT reverse (score ASC, doc_id DESC) — so hi takes
    * positions 1..n/2 of one total order and lo takes positions
    * n..n−n/2+1, disjoint under any ties; an odd bucket's median doc
    * joins neither side. Scale shape: both ranks and the bucket count
    * share ONE bucket-key shuffle; pairing is an equi-join on
    * (bucket, rank); at deployment the per-bucket rank is d19's salted
    * top-k shape. All integer ppm arithmetic. */
  def d41MatchedPairs(s: SparkSession, dir: String): DataFrame = {
    val nTok = length(col("text")) - length(expr("replace(text, ' ', '')")) + 1
    val score = qualityScore
    val bucket = lenBucket(nTok)
    val base = Tables(s, dir, "documents").select(col("doc_id"),
      bucket.cast("int").as("bucket_max"),
      round(score * 1e6).cast("long").as("score_ppm"))
    val part = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket_max"))
    val hiW = part.orderBy(col("score_ppm").desc, col("doc_id"))
    val loW = part.orderBy(col("score_ppm").asc, col("doc_id").desc)
    val ranked = base
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("hi_rk", row_number().over(hiW))
      .withColumn("lo_rk", row_number().over(loW))
    val hi = ranked.filter(col("hi_rk") <= expr("n div 2"))
      .select(col("bucket_max"), col("hi_rk").as("rk"),
        col("score_ppm").as("hi_ppm"), col("n"))
    val lo = ranked.filter(col("lo_rk") <= expr("n div 2"))
      .select(col("bucket_max"), col("lo_rk").as("rk"),
        col("score_ppm").as("lo_ppm"))
    hi.join(lo, Seq("bucket_max", "rk"))
      .withColumn("gap_ppm", col("hi_ppm") - col("lo_ppm"))
      .groupBy(col("bucket_max"))
      .agg(max(col("n")).as("n_docs"),
        count(lit(1)).as("n_pairs"),
        expr("sum(gap_ppm) div count(1)").cast("long").as("mean_gap_ppm"),
        min(col("gap_ppm")).as("min_gap_ppm"),
        max(col("gap_ppm")).as("max_gap_ppm"))
      .orderBy("bucket_max")
  }

  private val d41Sql =
    """WITH q AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
      |      WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
      |      WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
      |      ELSE 1024 END AS INTEGER) AS bucket_max,
      |    CAST(ROUND(ROUND(least(1.0, CAST(nt AS DOUBLE) / 200.0)
      |      * (1.0 - least(1.0, pn / CAST(cl AS DOUBLE) * 10)), 6) * 1e6, 0) AS BIGINT)
      |      AS score_ppm
      |  FROM (
      |    SELECT doc_id, length(text) AS cl,
      |      length(text) - length(replace(text, ' ', '')) + 1 AS nt,
      |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pn
      |    FROM documents) z),
      |r AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY bucket_max) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY bucket_max ORDER BY score_ppm DESC, doc_id) AS hi_rk,
      |    ROW_NUMBER() OVER (PARTITION BY bucket_max ORDER BY score_ppm ASC, doc_id DESC) AS lo_rk
      |  FROM q),
      |hi AS (SELECT bucket_max, hi_rk AS rk, score_ppm AS hi_ppm, n
      |       FROM r WHERE hi_rk <= n // 2),
      |lo AS (SELECT bucket_max, lo_rk AS rk, score_ppm AS lo_ppm
      |       FROM r WHERE lo_rk <= n // 2),
      |p AS (
      |  SELECT hi.bucket_max, hi.n, hi.hi_ppm - lo.lo_ppm AS gap_ppm
      |  FROM hi JOIN lo USING (bucket_max, rk))
      |SELECT bucket_max, CAST(MAX(n) AS BIGINT) AS n_docs, COUNT(*) AS n_pairs,
      |  CAST(SUM(gap_ppm) // COUNT(*) AS BIGINT) AS mean_gap_ppm,
      |  CAST(MIN(gap_ppm) AS BIGINT) AS min_gap_ppm,
      |  CAST(MAX(gap_ppm) AS BIGINT) AS max_gap_ppm
      |FROM p GROUP BY bucket_max ORDER BY bucket_max""".stripMargin

  /** d42: Unicode normalization audit — the cleaning pass a multilingual
    * corpus needs BEFORE any hash-keyed operator: canonically-equal but
    * byte-different text (precomposed é vs e + combining acute) defeats
    * exact dedup, MinHash shingles, and vocabulary counts; zero-width
    * characters (ZWSP/ZWNJ/ZWJ/BOM) survive tokenization invisibly. The
    * corpus is ASCII, so each doc is AUGMENTED deterministically from
    * its own key (the k3 PII-synthesis precedent): even ids get a
    * combining-sequence "cafe?" (changed by NFC), odd ids the
    * precomposed form (NFC-invariant — the control group), every doc a
    * zero-width space (two when id % 3 = 0). The audit strips the
    * zero-width class, NFC-normalizes through the codegen'd
    * [[graft.functions.NfcNormalize]] expression, and reports per
    * language: docs, docs NFC changed, zero-width chars removed, and a
    * portable checksum of the normalized text — Java's Normalizer and
    * DuckDB's utf8proc implement the same canonical composition, so the
    * checksum pins true cross-engine parity. Fully row-local; one hash
    * aggregate. */
  def d42UnicodeAudit(s: SparkSession, dir: String): DataFrame = {
    graft.functions.UnicodeNorm.register(s)
    val zw = when(pmod(col("doc_id"), lit(3)) === 0, lit("\u200b\u200b"))
      .otherwise(lit("\u200b"))
    val suffix = when(pmod(col("doc_id"), lit(2)) === 0, lit(" cafe\u0301"))
      .otherwise(lit(" caf\u00e9"))
    val aug = Tables(s, dir, "documents")
      .select(col("lang"), concat(col("text"), suffix, zw).as("t"))
    val stripped = regexp_replace(col("t"),
      "[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]", "")
    aug.select(col("lang"), col("t"), stripped.as("st"))
      .select(col("lang"), col("st"),
        (length(col("t")) - length(col("st"))).cast("long").as("zw"),
        graft.functions.UnicodeNorm.nfcNormalize(col("st")).as("norm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("st"), 1L).otherwise(0L)).as("n_changed"),
        sum(col("zw")).as("zw_removed"),
        sum(graft.operators.PortableHash.hex60(col("norm")) % 1000000007L)
          .as("checksum"))
      .orderBy("lang")
  }

  private val d42Sql: String =
    s"""WITH aug AS (
       |  SELECT lang, text
       |    || CASE WHEN doc_id % 2 = 0 THEN ' cafe' || chr(769)
       |            ELSE ' caf' || chr(233) END
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(8203) || chr(8203)
       |            ELSE chr(8203) END AS t
       |  FROM documents),
       |st AS (
       |  SELECT lang, t,
       |    regexp_replace(t, '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g') AS st
       |  FROM aug),
       |n AS (
       |  SELECT lang, st, length(t) - length(st) AS zw, nfc_normalize(st) AS norm
       |  FROM st)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN norm <> st THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(SUM(zw) AS BIGINT) AS zw_removed,
       |  CAST(SUM(${hex60SqlT("norm")} % 1000000007) AS BIGINT) AS checksum
       |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  /** TextOps-local twin of ScaleOps' hex60Sql (private there). */
  private def hex60SqlT(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  /** d36: vocabulary coverage curve — how many of the top-frequency
    * token TYPES cover 50% / 90% / 99% of all token OCCURRENCES (the
    * Zipf curve read as a tokenizer-budget question: "how big a vocab
    * before coverage flattens").
    *
    * Scale shape: a per-token ranked cumsum would be a single-partition
    * window over the whole vocabulary (the e13 smell). Tokens tied at
    * the same frequency are interchangeable for coverage, so the curve
    * collapses to the frequency-GROUP table — |distinct count values|
    * rows, O(√corpus) even at 100 TB — with the within-group crossing
    * recovered arithmetically: vocab_size = types_before +
    * ceil((pct·total − 100·tokens_before) / (100·n)), all in exact
    * integers (identical to the per-token (n DESC, token) ranking).
    * The only window runs over that tiny group table. */
  def d36CoverageCurve(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val groups = vocab.groupBy(col("n"))
      .agg(count(lit(1)).as("g"))
      .withColumn("tk", col("n") * col("g"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = groups
      .withColumn("cum_tk", sum(col("tk")).over(w))
      .withColumn("cum_ty", sum(col("g")).over(w))
    val total = vocab.agg(sum(col("n")).as("total"))
    cum.crossJoin(broadcast(total))
      .select(explode(typedLit(Seq(50, 90, 99))).as("coverage_pct"),
        col("n"), col("g"), col("tk"), col("cum_tk"), col("cum_ty"), col("total"))
      .filter(col("cum_tk") * 100 >= col("coverage_pct") * col("total"))
      // the FIRST crossing group in n-descending order has the largest n
      .groupBy(col("coverage_pct"))
      .agg(max(col("n")).as("xn"), max(col("total")).as("total"))
      .join(cum.withColumnRenamed("n", "xn"), Seq("xn"))
      // integer ceil((pct·total − 100·tokens_before) / (100·n)) — `div`,
      // never `/` (double division)
      .select(col("coverage_pct"),
        (col("cum_ty") - col("g") +
          expr("(coverage_pct * total - 100L * (cum_tk - tk) + 100L * xn - 1L) div (100L * xn)"))
          .cast("long").as("vocab_size"))
      .orderBy("coverage_pct")
  }

  private val d36Sql =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |vocab AS (
      |  SELECT t, COUNT(*) AS n FROM tok WHERE length(t) > 0 GROUP BY t),
      |grp AS (
      |  SELECT n, COUNT(*) AS g, n * COUNT(*) AS tk FROM vocab GROUP BY n),
      |cum AS (
      |  SELECT n, g, tk,
      |    SUM(tk) OVER (ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS cum_tk,
      |    SUM(g) OVER (ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS cum_ty
      |  FROM grp),
      |tot AS (SELECT SUM(n) AS total FROM vocab),
      |th AS (SELECT unnest([50, 90, 99]) AS coverage_pct),
      |xg AS (
      |  SELECT coverage_pct, MAX(n) AS xn, MAX(total) AS total
      |  FROM cum CROSS JOIN tot CROSS JOIN th
      |  WHERE cum_tk * 100 >= coverage_pct * total
      |  GROUP BY coverage_pct)
      |SELECT coverage_pct,
      |  CAST(cum.cum_ty - cum.g
      |    + (coverage_pct * xg.total - 100 * (cum.cum_tk - cum.tk)
      |       + 100 * xg.xn - 1) // (100 * xg.xn) AS BIGINT) AS vocab_size
      |FROM xg JOIN cum ON cum.n = xg.xn
      |ORDER BY coverage_pct""".stripMargin

  /** d37: length↔quality correlation per language — q29's exact
    * integer-moment Pearson applied to the corpus-quality domain: does
    * the d3 quality score just measure length (r → 1 below the 200-token
    * cap) or is punctuation doing real work? Both variables live on
    * exact integer grids (token count; the 6dp score lifted to ppm), the
    * five moments accumulate in DECIMAL(38,0) (order-free), and r is the
    * same five correctly-rounded double ops as q29 — oracle-exact with
    * no decimal detour. Same-valued groups yield NaN identically on both
    * engines (0/0), never a fake 0. */
  def d37LenQualityCorr(s: SparkSession, dir: String): DataFrame = {
    val d38 = Conventions.Dec38
    val tokens =
      (length(col("text")) - length(expr("replace(text, ' ', '')")) + 1).cast("long")
    val score = qualityScore
    val g = Tables(s, dir, "documents")
      .select(col("lang"), tokens.as("x"),
        round(score * 1e6).cast("long").as("y"))
    val m = g.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("y").cast(d38) * col("y")).as("syy"),
      sum(col("x").cast(d38) * col("y")).as("sxy"))
    val n38 = col("n").cast(d38)
    val cov = (n38 * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (n38 * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (n38 * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("lang"), col("n"),
        (cov / (sqrt(vx) * sqrt(vy))).as("corr_len_quality"))
      .orderBy("lang")
  }

  private val d37Sql =
    """WITH g AS (
      |  SELECT lang,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS x,
      |    CAST(ROUND(ROUND(
      |      least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 200.0)
      |        * (1.0 - least(1.0,
      |            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |            / CAST(length(text) AS DOUBLE) * 10)), 6) * 1e6, 0) AS BIGINT) AS y
      |  FROM documents),
      |m AS (
      |  SELECT lang, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(x * x) AS sxx,
      |    SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM g GROUP BY lang)
      |SELECT lang, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_len_quality
      |FROM m ORDER BY lang""".stripMargin

  private val D38K = 20

  /** d38: bigram language-model quality filter — the KenLM-style
    * LM-likelihood drop list every large corpus build runs: train bigram
    * conditional probabilities ON the corpus itself (counts over the
    * corpus's bigrams; P(w2|w1) = c(w1 w2)/c(w1 ·) on the exact ppm
    * integer grid via integer division), score each document by the
    * integer mean ppm over its bigram OCCURRENCES, and report the
    * [[D38K]] least-likely documents (the gibberish/outlier candidates).
    *
    * Scale shape: one corpus pass explodes bigrams (slice+zip_with —
    * NOTES fact #2), the model is a hash aggregate over bigram TYPES,
    * the start totals a second aggregate over the model (not the
    * corpus), scoring is one shuffle join on the bigram key, and the
    * drop list is a distributed TakeOrdered — no window over the corpus,
    * no driver loop. Everything is integer arithmetic, so the oracle
    * replays it bit-for-bit. */
  def d38LmQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val bi = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
    val model = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", split(col("bg"), " ")(0))
    val starts = model.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val scored = bi
      .join(model, "bg")
      .join(starts, "w1")
      .select(col("doc_id"), expr("(1000000 * c2) div c1").as("ppm"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(ppm) div count(1)").cast("long").as("mean_ppm"))
      .orderBy(col("mean_ppm"), col("doc_id"))
      .limit(D38K)
  }

  private val d38Sql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])) AS bg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) z),
       |m AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
       |st AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1 FROM m GROUP BY 1),
       |sc AS (
       |  SELECT b.doc_id, (1000000 * m.c2) // st.c1 AS ppm
       |  FROM bg b JOIN m USING (bg)
       |  JOIN st ON string_split(b.bg, ' ')[1] = st.w1),
       |d AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_ppm
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, mean_ppm FROM d
       |ORDER BY mean_ppm, doc_id LIMIT $D38K""".stripMargin

  /** d40: per-source distribution-drift audit — total-variation distance
    * (in ppm) between each source's token distribution and the whole
    * corpus's, with the single most-divergent term named per source. The
    * mixture-monitoring tile a corpus build watches as new sources land:
    * TV is the fraction of probability mass you'd have to move, it needs
    * no logarithm (KL/PSI's `ln` is never oracle-safe — the e24
    * precedent), and it is exactly computable on the ppm integer grid
    * both engines truncate identically.
    *
    * Scale shape: ONE corpus pass builds the (source, term) counts; the
    * corpus marginal, the source totals, and the grand total all derive
    * from that aggregate (the corpus is never re-read). The comparison
    * grid is |sources| × |corpus vocab| via a broadcast of the (tiny)
    * per-term marginal — at deployment vocabulary you'd cap to the top-V
    * terms plus a residual bucket, which keeps TV exact over the head
    * and bounds the tail's contribution. Terms a source never emits
    * still carry corpus mass (LEFT join, zero-fill) — dropping them
    * UNDERSTATES drift, the classic mistake this query exists to avoid. */
  def d40SourceDrift(s: SparkSession, dir: String): DataFrame = {
    // persisted: the (source, term) aggregate feeds four consumers
    // (marginals, totals, grid); without it each re-explodes the corpus.
    // Released by the caller's clearCache
    val st = Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    st.count()
    val ct = st.groupBy(col("term")).agg(sum(col("n")).as("cn"))
    val stot = st.groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val ctot = st.agg(sum(col("n")).as("ctot"))
    val grid = stot.join(broadcast(ct))
      .join(broadcast(ctot))
      .join(st, Seq("source", "term"), "left")
      .select(col("source"), col("term"), col("n_tokens"),
        expr("(1000000 * coalesce(n, 0L)) div n_tokens").as("ps"),
        expr("(1000000 * cn) div ctot").as("pc"))
      .withColumn("diff", abs(col("ps") - col("pc")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("diff").desc, col("term"))
    grid
      .withColumn("tv2", sum(col("diff")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_tokens"),
        expr("tv2 div 2").as("tv_ppm"),
        col("term").as("top_term"), col("diff").as("top_term_ppm"))
      .orderBy("source")
  }

  private val d40Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |st AS (SELECT source, term, COUNT(*) AS n FROM tok GROUP BY source, term),
      |ct AS (SELECT term, SUM(n) AS cn FROM st GROUP BY term),
      |stot AS (SELECT source, SUM(n) AS n_tokens FROM st GROUP BY source),
      |ctot AS (SELECT SUM(n) AS ctot FROM st),
      |grid AS (
      |  SELECT s.source, c.term, s.n_tokens,
      |    ABS((1000000 * COALESCE(st.n, 0)) // s.n_tokens
      |      - (1000000 * c.cn) // t.ctot) AS diff
      |  FROM stot s CROSS JOIN ct c CROSS JOIN ctot t
      |  LEFT JOIN st ON st.source = s.source AND st.term = c.term),
      |r AS (
      |  SELECT source, n_tokens, term, diff,
      |    SUM(diff) OVER (PARTITION BY source) AS tv2,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY diff DESC, term) AS rk
      |  FROM grid)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(tv2 // 2 AS BIGINT) AS tv_ppm,
      |  term AS top_term, CAST(diff AS BIGINT) AS top_term_ppm
      |FROM r WHERE rk = 1 ORDER BY source""".stripMargin

  private val d6Sql =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM docs),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b,
      |  ROUND(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d7: BPE-style token counting (letter runs / digit runs / single
    * symbols — `operators.TextAnalysis.BpeTokenPattern`) next to the
    * whitespace count, over the documents table. */
  def d7BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val ws = length(col("text")) - length(expr("replace(text, ' ', '')")) + 1
    d.select(
      col("doc_id"),
      graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
      ws.cast("int").as("ws_tokens"))
      .orderBy("doc_id")
  }

  private val d7Sql =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeTokenPattern}')) AS INTEGER) AS bpe_tokens,
       | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS ws_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** d8: polynomial rolling-hash fingerprint (Horner fold over character
    * codes, exact int64 arithmetic — `TextAnalysis.rollingHash`). */
  def d8RollingHash(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.rollingHash(col("text")).as("roll_hash"))
      .orderBy("doc_id")

  private val d8Sql =
    s"""SELECT doc_id,
       | list_reduce(
       |   list_prepend(CAST(0 AS BIGINT),
       |     list_transform(string_split_regex(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |   (acc, c) -> (acc * ${graft.operators.TextAnalysis.RollBase} + c) % ${graft.operators.TextAnalysis.RollMod}) AS roll_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  /** d39: CONTENT-DEFINED chunking stats — the blob-level dedup
    * primitive the fixed-window family (d16 token chunks, d8 whole-doc
    * hash) lacks: chunk boundaries fall where the 8-char polynomial
    * window hash (d8's base/modulus) ≡ 0 mod 64 (~64-char expected
    * chunks), so an insertion shifts only its OWN chunk's boundaries —
    * every later chunk re-aligns and re-deduplicates, which is exactly
    * why CDC beats fixed-offset chunking for storage/dedup at scale.
    * Stateless per position (no min/max-length constraint), so the
    * whole derivation is row-local codegen'd higher-order functions;
    * the only shuffles are the |distinct chunk-hash| count and a
    * |langs|-row rollup. Reports per language: chunk count, total
    * chars, mean chunk length (c100 integer grid), and the ppm share
    * of chunk INSTANCES whose md5 occurs ≥ 2 times corpus-wide. */
  /** The row-local CDC derivation behind [[d39CdcChunks]]: one chunk
    * string per output row, keyed by the carried columns. Exposed for
    * the locality spec (an edit must only perturb its own chunks). */
  private[graft] def cdcChunks(docs: DataFrame, keep: Seq[String]): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    docs
      // boundary detection is ONE codegen'd rolling-hash pass per row
      // (graft.functions.CdcBounds) — the composable filter/aggregate/
      // slice form re-folded 8 interpreted elements per POSITION
      // (FunctionsSpec pins the two derivations equal; the DuckDB oracle
      // still replays the composable form)
      .selectExpr((keep :+ "text" :+ "CAST(length(text) AS BIGINT) AS n" :+
        "cdc_bounds(text) AS pos"): _*)
      .selectExpr((keep :+ "text" :+
        "concat(array(CAST(0 AS BIGINT)), filter(pos, p -> p < n), array(n)) AS bounds"): _*)
      .selectExpr((keep :+
        """explode(zip_with(
             slice(bounds, 1, size(bounds) - 1),
             slice(bounds, 2, size(bounds) - 1),
             (lo, hi) -> substring(text, CAST(lo AS INT) + 1, CAST(hi - lo AS INT))))
           AS c"""): _*)
  }

  def d39CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val inst = cdcChunks(Tables(s, dir, "documents"), Seq("lang"))
      .selectExpr("lang", "md5(c) AS h", "CAST(length(c) AS BIGINT) AS clen")
    val counts = inst.groupBy(col("h")).agg(count(lit(1)).as("m"))
    inst.join(counts, "h")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("total_chars"),
        sum(when(col("m") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .selectExpr("lang", "n_chunks", "total_chars",
        "(100 * total_chars) div n_chunks AS avg_len_c100",
        "(1000000 * n_dup) div n_chunks AS dup_chunk_ppm")
      .orderBy("lang")
  }

  private val d39Sql: String = {
    val base = graft.operators.TextAnalysis.RollBase
    val mod = graft.operators.TextAnalysis.RollMod
    s"""WITH ch AS (
       |  SELECT doc_id, lang, text,
       |    list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS codes
       |  FROM documents),
       |bnd AS (
       |  SELECT doc_id, lang, text, CAST(len(codes) AS BIGINT) AS n,
       |    list_filter(range(8, len(codes) + 1), p ->
       |      (list_reduce(list_prepend(CAST(0 AS BIGINT), codes[p-7:p]),
       |        (acc, c) -> (acc * $base + c) % $mod)) % 64 = 0) AS pos
       |  FROM ch),
       |bnd2 AS (
       |  SELECT doc_id, lang, text,
       |    list_concat(list_concat([CAST(0 AS BIGINT)],
       |      list_filter(pos, p -> p < n)), [n]) AS bounds
       |  FROM bnd),
       |inst AS (
       |  SELECT lang, md5(c) AS h, CAST(length(c) AS BIGINT) AS clen
       |  FROM (
       |    SELECT lang,
       |      unnest([substring(text, CAST(bounds[i] AS INTEGER) + 1,
       |                        CAST(bounds[i+1] - bounds[i] AS INTEGER))
       |              for i in range(1, len(bounds))]) AS c
       |    FROM bnd2)),
       |cnt AS (SELECT h, COUNT(*) AS m FROM inst GROUP BY h)
       |SELECT lang, COUNT(*) AS n_chunks,
       |  CAST(SUM(clen) AS BIGINT) AS total_chars,
       |  CAST((100 * SUM(clen)) // COUNT(*) AS BIGINT) AS avg_len_c100,
       |  CAST((1000000 * SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END)) // COUNT(*)
       |    AS BIGINT) AS dup_chunk_ppm
       |FROM inst JOIN cnt USING (h)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** d9: deterministic hash-based train/val/test split — the canonical
    * 100 TB dataset-splitting primitive: assignment is a pure function of
    * the content hash, so it is reproducible across runs/engines, stable
    * under re-partitioning, and needs no shuffle at all (row-local md5).
    * 90/5/5 by hash bucket; keyed on content (not doc_id) so exact
    * duplicates always land in the same split (no train→test leakage). */
  def d9HashSplit(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        pmod(graft.operators.PortableHash.hex60(col("text")), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .orderBy("doc_id")

  private val d9Sql =
    """SELECT doc_id,
      | CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 AS bucket,
      | CASE WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 90 THEN 'train'
      |      WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 95 THEN 'val'
      |      ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d10: corpus vocabulary — token frequency and document frequency,
    * top-100 by count (tokenizer/vocab building). The explode happens
    * in-partition and map-side partial aggregation means the shuffle
    * carries per-partition (token, partial-count) rows, not the token
    * stream; df's distinct runs as the standard two-phase expand. */
  def d10VocabTopK(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  private val d10Sql =
    """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** d23: out-of-vocabulary rate — the tokenizer-coverage report closing
    * the d7/d10 loop: a 20-term vocabulary is derived from the corpus
    * itself (top by frequency, token tiebreak — a deterministic total
    * order), broadcast, and every language's token stream is scored
    * against it. Rates are integer basis points (`div`) — no FP. Scale
    * shape: explode is in-partition, the vocab is a broadcast left join,
    * and the aggregate is |langs| rows with map-side partials. */
  def d23OovRate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("lang"), explode(split(col("text"), " ")).as("token"))
    val vocab = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20)
      .select(col("token"), lit(1).as("_in"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("lang"), col("total_tokens"), col("oov_tokens"),
        expr("(oov_tokens * 10000) div total_tokens").as("oov_bp"))
      .orderBy("lang")
  }

  private val d23Sql =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |vocab AS (
      |  SELECT token FROM (
      |    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |    ORDER BY n DESC, token LIMIT 20)),
      |j AS (
      |  SELECT lang, vocab.token AS v FROM tok
      |  LEFT JOIN vocab ON tok.token = vocab.token)
      |SELECT lang, COUNT(*) AS total_tokens,
      |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
      |  (CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // COUNT(*) AS oov_bp
      |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  /** d24: token-concentration (Gini) report — how evenly tokens spread
    * across a language's documents (a skewed corpus trains on few long
    * documents; the mixing/cap operators d15/d19/d20 exist to fix what
    * this measures). Gini = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) over ascending
    * xᵢ — numerator and denominator are EXACT integers (rank window +
    * integer sums), emitted in basis points via `div`, so no FP enters
    * the compare. One window per language (spillable sort), |langs|
    * output rows. */
  def d24TokenGini(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("lang"), col("doc_id"),
      (length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
        .cast("long").as("nt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nt"), col("doc_id"))
    d.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        sum((lit(2L) * col("i") - lit(1L)) * col("nt")).as("wsum"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        expr("((wsum - n_docs * total_tokens) * 10000) div (n_docs * total_tokens)")
          .as("gini_bp"))
      .orderBy("lang")
  }

  private val d24Sql =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
      |  FROM documents),
      |r AS (
      |  SELECT lang, nt,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY nt, doc_id) AS BIGINT) AS i
      |  FROM t)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
      |  ((CAST(SUM((2 * i - 1) * nt) AS BIGINT)
      |      - COUNT(*) * CAST(SUM(nt) AS BIGINT)) * 10000)
      |    // (COUNT(*) * CAST(SUM(nt) AS BIGINT)) AS gini_bp
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  /** d11: token-repetition ratio — the classic LLM-data quality signal
    * (heavily repeated documents are boilerplate/spam): fraction of
    * tokens that are repeats of an earlier token in the same document.
    * Everything is per-row array arithmetic (split, array_distinct,
    * size) — zero shuffles beyond the output sort. */
  def d11Repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"))
      .withColumn("repetition_ratio",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy("doc_id")
  }

  private val d11Sql =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      | CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
      | ROUND(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |       / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS repetition_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d12: per-language document-length profile via the scale-safe
    * sort-based percentile operator (corpus profiling before filtering:
    * "what does a typical doc look like per language?"). Reuses
    * `DistributedPercentile` — spillable sort, 2 rows per (lang, p). */
  def d12LenProfile(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("lang"),
        (length(col("text")) - length(expr("replace(text, ' ', '')")) + 1).as("n_tokens"))
    graft.operators.DistributedPercentile.groupPercentiles(
      toks, "lang", "n_tokens", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
  }

  private val d12Sql =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) AS n_tokens
      |  FROM documents)
      |SELECT lang,
      | quantile_cont(n_tokens, 0.5) AS p50,
      | quantile_cont(n_tokens, 0.9) AS p90,
      | quantile_cont(n_tokens, 0.99) AS p99
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** d13: the full corpus-cleaning pipeline composed end-to-end — quality
    * filter (d3's score) → language filter (d5's marker score) → exact
    * dedup among survivors (d1, via one row_number window on the content
    * hash) → deterministic hash split (d9) → per-split profile. One
    * oracle-checked query proving the stages compose: the 100 TB shape is
    * row-local scoring, ONE hash shuffle for dedup, row-local split
    * assignment, and a 3-group aggregate. */
  def d13CleanPipeline(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), lower(col("text")).as("lt"))
    val score = qualityScore
    def hits(word: String): Column =
      ((length(col("lt")) -
        length(expr(s"replace(lt, '$word', '')"))) / lit(word.length)).cast("int")
    val enScore = hits("the") + hits("and") + hits("data")
    val scored = base.select(col("doc_id"), col("text"),
        score.as("quality"),
        (length(col("text")) - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long").as("n_tokens"),
        enScore.as("en_score"))
      .filter(col("quality") > 0.2 && col("en_score") >= 3)
    val kept = scored
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("_rk") === 1)
    kept
      .withColumn("bucket",
        pmod(graft.operators.PortableHash.hex60(col("text")), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("quality").cast("decimal(38,6)")).cast("double").as("total_quality"))
      .orderBy("split")
  }

  private val d13Sql =
    """WITH q AS (
      |  SELECT doc_id, text,
      |    ROUND(least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 200.0)
      |      * (1.0 - least(1.0,
      |          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |          / CAST(length(text) AS DOUBLE) * 10)), 6) AS quality,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      |    (length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
      |      + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
      |      + (length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4 AS en_score
      |  FROM documents),
      |f AS (SELECT * FROM q WHERE quality > 0.2 AND en_score >= 3),
      |k AS (SELECT * FROM f
      |      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |sp AS (
      |  SELECT *,
      |    CASE WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 90 THEN 'train'
      |         WHEN CAST(('0x' || substr(md5(text),1,15)) AS BIGINT) % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM k)
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) AS total_quality
      |FROM sp GROUP BY split ORDER BY split""".stripMargin

  /** d25: duplicated-passage profile — the fixed-length slice of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each document, the fraction of its
    * distinct word 8-grams that also appear in at least one OTHER
    * document. Exact dedup (d1) misses documents that share boilerplate
    * without being identical; this surfaces them with a per-doc score a
    * cleaning pipeline can threshold on.
    *
    * Scale shape: grams are built per-row with the slice+zip_with form and
    * deduped per-row before exploding (`Decontaminate.wordNgrams` — the
    * shuffle carries distinct grams only), travel as hex60 longs (8 bytes,
    * not ~50-byte strings), and the whole profile is gram-count → join →
    * per-doc aggregate: three hash shuffles whose cost tracks |grams|,
    * never documents². The gram table is persisted eagerly because both
    * the count side and the join side read it (the minhash band-table
    * pattern); released by the caller's clearCache.
    */
  def d25DupPassages(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val grams = graft.operators.Decontaminate
      .gramHashes(Tables(s, dir, "documents"), "doc_id", "text", n = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count()
    val byGram = grams.groupBy(col("gh")).agg(count(lit(1)).as("n_docs"))
    grams.join(byGram, "gh")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6))
      .orderBy("doc_id")
  }

  private val d25Sql: String = {
    val idx = (1 to 8).map(j => s"string_split(text,' ')[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id AS id,
       |    unnest(CASE WHEN len(string_split(text,' ')) >= 8
       |      THEN list_transform(range(0, len(string_split(text,' ')) - 7), i -> $idx)
       |      ELSE [text] END) AS gram
       |  FROM documents),
       |h AS (SELECT id, CAST(('0x' || substr(md5(gram),1,15)) AS BIGINT) AS gh FROM g),
       |c AS (SELECT gh, COUNT(*) AS n_docs FROM h GROUP BY gh)
       |SELECT h.id AS doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  ROUND(CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
       |FROM h JOIN c USING (gh)
       |GROUP BY h.id ORDER BY doc_id""".stripMargin
  }

  /** d26: bigram collocations — the top-30 adjacent word pairs by corpus
    * occurrence count, with document frequency alongside (tokenizer /
    * vocab prep: frequent collocations are merge candidates, and a pair
    * frequent in few docs flags boilerplate). Occurrences keep duplicates
    * (unlike the dedup operators' distinct grams), so the explode carries
    * |tokens| rows into one count+countDistinct aggregate; ties at the
    * top-30 boundary break on the bigram text, so the cut is total-
    * ordered on both engines. */
  def d26BigramTopK(s: SparkSession, dir: String): DataFrame = {
    val grams = graft.operators.Decontaminate
      .slidingGrams(split(col("text"), " "), 2)
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(grams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(30)
  }

  private val d26Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(ws) >= 2
      |      THEN list_transform(range(0, len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2])
      |      ELSE []::VARCHAR[] END) AS bigram
      |  FROM t)
      |SELECT bigram, COUNT(*) AS n_occurrences,
      |  COUNT(DISTINCT doc_id) AS n_docs
      |FROM g GROUP BY bigram
      |ORDER BY n_occurrences DESC, bigram LIMIT 30""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("d26_bigram_topk", d26BigramTopK, d26Sql),
    Query("d25_dup_passages", d25DupPassages, d25Sql),
    Query("d9_hash_split", d9HashSplit, d9Sql),
    Query("d10_vocab_topk", d10VocabTopK, d10Sql),
    Query("d23_oov_rate", d23OovRate, d23Sql),
    Query("d24_token_gini", d24TokenGini, d24Sql),
    Query("d11_repetition", d11Repetition, d11Sql),
    Query("d12_len_profile", d12LenProfile, d12Sql),
    Query("d7_bpe_tokens", d7BpeTokens, d7Sql),
    Query("d8_rolling_hash", d8RollingHash, d8Sql),
    Query("d39_cdc_chunks", d39CdcChunks, d39Sql),
    Query("d1_exact_dedup", d1ExactDedup, d1Sql),
    Query("d2_token_stats", d2TokenStats, d2Sql),
    Query("d3_quality_score", d3QualityScore, d3Sql),
    Query("d4_fingerprint", d4Fingerprint, d4Sql),
    Query("d5_lang_score", d5LangScore, d5Sql),
    Query("d6_jaccard_neardup", d6JaccardNearDup, d6Sql),
    Query("d27_containment", d27Containment, d27Sql),
    Query("d29_readability", d29Readability, d29Sql),
    Query("d30_ngram_novelty", d30NgramNovelty, d30Sql),
    Query("d31_hapax_rate", d31HapaxRate, d31Sql),
    Query("d32_bpe_merges", d32BpeMerges, d32Sql),
    Query("d33_bpe_encode", d33BpeEncode, d33Sql),
    Query("d34_length_buckets", d34LengthBuckets, d34Sql),
    Query("d36_coverage_curve", d36CoverageCurve, d36Sql),
    Query("d37_len_quality_corr", d37LenQualityCorr, d37Sql),
    Query("d38_lm_quality", d38LmQuality, d38Sql),
    Query("d40_source_drift", d40SourceDrift, d40Sql),
    Query("d41_matched_pairs", d41MatchedPairs, d41Sql),
    Query("d42_unicode_audit", d42UnicodeAudit, d42Sql),
    Query("d43_k_anonymity", d43KAnonymity, d43Sql),
    Query("d44_bpe_fertility", d44BpeFertility, d44Sql),
    Query("d45_asof_kanon", d45AsofKanon, d45Sql),
    Query("d46_dup_gram_fraction", d46DupGramFraction, d46Sql),
    Query("d47_corpus_datasheet", d47CorpusDatasheet, d47Sql),
    Query("d48_span_dedup", d48SpanDedup, d48Sql),
    Query("d49_gopher_repetition", d49GopherRepetition, d49Sql),
    Query("d51_gopher_quality", d51GopherQuality, d51Sql),
    Query("d52_gopher_verdict", d52GopherVerdict, d52Sql),
    Query("d50_rolling_spans", d50RollingSpans, d50Sql),
    Query("d13_clean_pipeline", d13CleanPipeline, d13Sql))
}
