package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KeywordSearch

/** Hybrid retrieval: keyword (BM25) and embedding (cosine) rankings
  * fused with reciprocal rank fusion — the serving shape every modern
  * retrieval stack runs (sparse + dense legs, late fusion), expressed
  * Spark-first and exactly replayable by the DuckDB oracle.
  *
  * RRF(doc) = Σ_legs 1 / (K + rank_leg(doc)) over the legs that
  * returned the doc (Cormack/Clarke/Buettcher, SIGIR 2009; K = 60, the
  * paper's constant). Exactness: each contribution is ONE double
  * division on integer operands and the fusion adds exactly TWO doubles
  * (IEEE addition is commutative, so join order cannot perturb bits) —
  * no rounding is needed anywhere after the legs' own pinned grids.
  *
  * Scale shape: each leg is a corpus scan + 1-row broadcast (BM25
  * stats / query vector) + TakeOrdered(legN) — no full sort; the rank
  * windows sit ABOVE the top-k limit, so the single-partition
  * WindowExec is bounded at legN rows by construction; the fusion joins
  * two ≤legN-row frames. At 100 TB only the leg scans grow.
  */
object HybridOps extends QueryFamily {

  /** Same df spectrum as k1: one rare term (idf-dominated) + two common
    * ones (tf/length-dominated), so the keyword leg exercises the whole
    * scoring range. */
  private val HTerms = Seq("dup", "spark", "vector")

  /** The dense leg's query: vec 0's embedding — `documents` and
    * `embeddings` align 1:1 on id, so fused ids name the same corpus. */
  private val HQueryVec = 0L

  /** Per-leg fusion depth (the production RRF convention is a deep
    * top-1000 per leg): deep enough that the legs OVERLAP — at sf0.01
    * both legs cover the whole corpus, so the two-addend RRF branch
    * (a doc ranked by BOTH legs) is exercised by the oracle, not just
    * the single-leg CASE arms. */
  private val LegN = 1000
  private val RrfK = 60
  private val HTopK = 20

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** The keyword leg: k1's exact BM25 over the corpus, top-[[LegN]] by
    * (score desc, id) — ties broken on id for a total order. */
  private def bm25Leg(s: SparkSession, dir: String): DataFrame =
    KeywordSearch.bm25(Tables(s, dir, "documents"), "doc_id", "text", HTerms)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)

  /** The dense leg: v1's exact brute-force cosine of every non-query
    * vector against [[HQueryVec]] (1-row broadcast), round-6 grid (the
    * v1 convention), top-[[LegN]] by (cos desc, id). */
  private def cosineLeg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") === HQueryVec)
      .select(col("emb").as("q_emb"))
    e.filter(col("vec_id") =!= HQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(LegN)
  }

  /** Rank one ≤[[LegN]]-row leg: a window over an already-limited
    * frame — a bounded single partition, never a corpus sort. */
  private def rankLeg(leg: DataFrame, by: Column, rankCol: String): DataFrame =
    leg.withColumn(rankCol, row_number()
        .over(Window.orderBy(by.desc, col("id"))))
      .select(col("id"), col(rankCol))

  /** N-leg RRF fusion over already-RANKED legs (each `(rankCol,
    * frame(id, rankCol))`): full-outer join the ≤[[LegN]]-row frames on
    * doc id in declaration order, RRF-sum the contributions, top-
    * [[HTopK]]. Absent-leg ranks surface as 0 (never null — the oracle
    * compare is exact on representation, and 0 is unambiguous since
    * real ranks start at 1).
    *
    * Exactness: TWO-addend IEEE addition is order-free, but three or
    * more doubles are NOT (rounding makes + non-associative) — so the
    * sum is a CANONICAL left-to-right fold in leg declaration order,
    * and every oracle parenthesizes the same fold explicitly (the
    * DECIMAL-interior-sum discipline applied to fusion). */
  private def fuseRrfN(legs: Seq[(String, DataFrame)]): DataFrame = {
    require(legs.size >= 2, "RRF fusion needs at least two legs")
    def contrib(r: Column): Column =
      when(r.isNull, lit(0.0))
        .otherwise(lit(1.0) / (lit(RrfK) + r).cast("double"))
    val joined = legs.map(_._2)
      .reduceLeft((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = legs.map { case (rc, _) => contrib(col(rc)) }.reduceLeft(_ + _)
    val rankCols = legs.map { case (rc, _) =>
      coalesce(col(rc).cast("long"), lit(0L)).as(rc) }
    joined.select(col("id").as("doc_id") +: rankCols :+ rrf.as("rrf"): _*)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(HTopK)
  }

  /** The two-leg fusion h1–h4 share (keyword + dense), expressed as
    * [[fuseRrfN]] with the bm-then-cosine declaration order. */
  private def fuseRrf(bmLeg: DataFrame, csLeg: DataFrame): DataFrame =
    fuseRrfN(Seq(
      "rb" -> rankLeg(bmLeg, col("score"), "rb"),
      "rc" -> rankLeg(csLeg, col("cos"), "rc")))

  /** h1: hybrid search at rest — BM25 keyword leg + brute-force cosine
    * leg, RRF-fused. The answer interleaves docs only one leg surfaced
    * with docs both did (the fusion's whole point). */
  def h1HybridRrf(s: SparkSession, dir: String): DataFrame =
    fuseRrf(bm25Leg(s, dir), cosineLeg(s, dir))

  /** h2: the same hybrid answer with the keyword leg served from the
    * ROLLING BM25 segments ([[graft.streaming.StreamOps.bm25IndexBatch]]
    * waves over thirds of the corpus) — and the waves deliberately land
    * a STALE one-token version of the last third first, superseded by a
    * re-land ([[graft.streaming.StreamOps]] tombstones + stats
    * subtraction), so the fused ranking is also an end-to-end check
    * that doc updates cannot leak into hybrid serving. Scores are
    * bit-identical to the corpus scan (the k6/k11 shared-expression
    * guarantee), so the oracle is h1's own SQL. */
  def h2RollingHybrid(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    // the SHARED rolling search artifact ([[SearchOps.rollingPosState]],
    // built once per corpus fingerprint) already landed exactly this
    // protocol — wave 0 carries a STALE one-token version of the last
    // third, wave 2's re-land supersedes it (tombstone + stats
    // subtraction) — so the fused ranking is an end-to-end check that
    // doc updates cannot leak into hybrid serving, without re-driving
    // the ingest per call (one stream, many readers: k11/k13-k16 and
    // h4 serve from the same directories)
    val bmLeg = StreamOps
      .bm25ServeRolling(s, SearchOps.rollingPosState(s, dir), HTerms,
        SearchOps.K6Shards)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)
    fuseRrf(bmLeg, cosineLeg(s, dir))
  }

  /** h3: the SCALE-PATH hybrid — the dense leg served by the real IVF
    * index (i1's coarse-quantizer probe, [[graft.operators.IvfSearch
    * .approxTopK]] at the shared nprobe) instead of the brute scan.
    * This is what a 100 TB deployment actually runs: the keyword leg
    * stays a scan+heap, the dense leg touches only the probed inverted
    * lists, and fusion is unchanged. The oracle composes the shared
    * ivfCtes k-means/probe replay under h1's fusion tail — an
    * approximate leg whose every step is still bit-exact. */
  def h3IvfHybrid(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = graft.operators.IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = ScaleOps.IvfK, iters = ScaleOps.IvfIters,
      roundDecimals = ScaleOps.IvfRound)
    try {
      val denseLeg = graft.operators.IvfSearch
        .approxTopK(e.filter(col("vec_id") === HQueryVec), idx,
          "vec_id", "embedding", k = LegN, nprobe = ScaleOps.IvfNprobe)
        .select(col("neighbor").as("id"), col("cos"))
      val res = fuseRrf(bm25Leg(s, dir), denseLeg)
      // bounded (HTopK rows): materialize before the index cache closes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  /** h4: TIME-TRAVEL of the WHOLE hybrid serving stack — h2 proves a
    * superseded doc cannot leak into fusion; h4 answers the lineage
    * question "what did retrieval return when batch [[SearchOps
    * .AsOfBatch]] was the keyword frontier and wave 0 the vector
    * frontier": the keyword leg is k15's as-of BM25 over the SHARED
    * rolling search artifact ([[SearchOps.rollingPosState]] — the
    * stale one-token third was still live then, its superseding
    * re-land in the future), the dense leg probes the grown IVF index
    * AS OF wave 0 ([[graft.streaming.StreamOps.grownIvfIndex]], i11's
    * machinery — odd late vectors not yet arrived), and the fusion
    * tail is h1's. The oracle scores the corpus each leg HAD at its
    * frontier (k15's CASE text, i11's visibility filter). The fused
    * as-of answer provably differs from h2's final-frontier answer
    * (spec-pinned) — retrieval lineage, not a re-ranking of today. */
  def h4AsofHybrid(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val bmLeg = StreamOps.bm25ServeRolling(s,
        SearchOps.rollingPosState(s, dir), HTerms, SearchOps.K6Shards,
        asOf = SearchOps.AsOfBatch)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)
    val e = Tables(s, dir, "embeddings")
    val idx0 = graft.operators.IvfSearch.buildIndex(
      e.filter(col("vec_id") < ScaleOps.I8TrainEnd), "vec_id", "embedding",
      k = ScaleOps.IvfK, iters = ScaleOps.IvfIters,
      roundDecimals = ScaleOps.IvfRound)
    val root = java.nio.file.Files.createTempDirectory("graft_h4_").toString
    try {
      val late = e.filter(col("vec_id") >= ScaleOps.I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      (0 until 2).foreach { b =>
        StreamOps.ivfAssignBatch(
          late.filter(pmod(col("id"), lit(2L)) === b.toLong),
          idx0.centroids, "id", "emb", s"$root/state", b.toLong)
      }
      val denseLeg = graft.operators.IvfSearch.approxTopK(
          e.filter(col("vec_id") === HQueryVec),
          StreamOps.grownIvfIndex(s, idx0, s"$root/state", asOf = 0L),
          "vec_id", "embedding", k = LegN, nprobe = ScaleOps.IvfNprobe)
        .select(col("neighbor").as("id"), col("cos"))
      val res = fuseRrf(bmLeg, denseLeg)
      // bounded (HTopK rows): materialize before the temp state deletes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      idx0.close()
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  /** The FUZZY leg: k7's typo-tolerant term matching lifted to a
    * document ranking — every corpus token within edit distance 1 of a
    * query typo ([[SearchOps.TypoTerms]]) counts one hit per matching
    * (query term, occurrence); docs rank by total hits. The match set
    * is blocked by the SymSpell deletion-variant key (complete for
    * distance ≤ 1 — k7's contract) and verified by `levenshtein`, so
    * the corpus side touches |distinct terms| variant rows, never a
    * |terms|·|queries| edit-distance cross; the per-doc score is one
    * broadcast join + hash aggregate on the token explode. */
  private def fuzzyLeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id").as("id"),
        explode(split(col("text"), " ")).as("term"))
    val vvar = toks.select(col("term")).distinct()
      .select(col("term"),
        explode(SearchOps.deletionVariants(col("term"))).as("variant"))
    val qvar = SearchOps.TypoTerms.toDF("query_term")
      .select(col("query_term"),
        explode(SearchOps.deletionVariants(col("query_term"))).as("variant"))
    val matched = broadcast(qvar).join(vvar, "variant")
      .select(col("query_term"), col("term")).distinct()
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
    toks.join(broadcast(matched), "term")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("fscore"))
      .orderBy(col("fscore").desc, col("id"))
      .limit(LegN)
  }

  /** h5: THREE-leg RRF — production stacks fuse more than two rankers
    * (sparse + dense + a typo-tolerant recall leg, here k7's fuzzy
    * matching as a doc ranking). Exercises [[fuseRrfN]]'s N-leg
    * generalization: with three contributions the IEEE sum is order-
    * sensitive, so Spark folds left-to-right in declaration order and
    * the oracle parenthesizes the identical fold — bit-green by
    * construction, not by luck. */
  def h5TriRrf(s: SparkSession, dir: String): DataFrame =
    fuseRrfN(Seq(
      "rb" -> rankLeg(bm25Leg(s, dir), col("score"), "rb"),
      "rc" -> rankLeg(cosineLeg(s, dir), col("cos"), "rc"),
      "rf" -> rankLeg(fuzzyLeg(s, dir), col("fscore"), "rf")))

  /** The keyword leg's CTEs (ending in `bmr(id, rb)`): k1's bm25 chain
    * over `textExpr`'s view of the corpus, the >0 cut, LIMIT-then-rank.
    * `textExpr` defaults to the live text; h4 passes k15's CASE
    * expression for the as-of corpus. */
  private def bmLegSqlOver(textExpr: String): String =
    s"""${KeywordSearch.bm25Ctes(HTerms, textExpr)},
       |bml AS (SELECT id, score FROM sc WHERE score > 0
       |        ORDER BY score DESC, id LIMIT $LegN),
       |bmr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |        FROM bml)""".stripMargin

  private val bmLegSql: String = bmLegSqlOver("text")

  /** The fusion CTE shared by every hybrid oracle: full-outer join of
    * `bmr`/`csr`, absent ranks as 0, the RRF sum as two CASE-guarded
    * double divisions on integer-added denominators. */
  private val fusedCteSql: String =
    s"""fused AS (
       |  SELECT COALESCE(bmr.id, csr.id) AS doc_id,
       |    COALESCE(rb, 0) AS rb, COALESCE(rc, 0) AS rc,
       |    (CASE WHEN rb IS NULL THEN CAST(0.0 AS DOUBLE)
       |          ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rb AS DOUBLE) END
       |     + CASE WHEN rc IS NULL THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rc AS DOUBLE) END) AS rrf
       |  FROM bmr FULL OUTER JOIN csr ON bmr.id = csr.id)""".stripMargin

  /** [[fusedCteSql]] plus the final top-[[HTopK]] cut — the closing
    * statement of h1–h4/h6/h7; h8 instead keeps fusing as a CTE and
    * diversifies the cut. */
  private val fusedTailSql: String =
    s"""$fusedCteSql
       |SELECT doc_id, rb, rc, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT $HTopK""".stripMargin

  /** DuckDB replay of [[h1HybridRrf]]: k1's bm25 CTE chain for the
    * keyword leg, v1's list_dot_product cosine for the dense leg, the
    * same LIMIT-then-rank structure, h1's fusion tail. */
  private val h1Sql: String =
    s"""WITH $bmLegSql,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |csl AS (SELECT e.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM e CROSS JOIN q WHERE e.id <> q.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** DuckDB replay of [[h3IvfHybrid]]: the dense leg rides the shared
    * ivfCtes quantizer/probe chain (i1's replay) — candidates are the
    * probed clusters' members, cosine-ranked, then h1's fusion tail. */
  private val h3Sql: String =
    s"""WITH $bmLegSql,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |${ScaleOps.ivfCtes},
       |cands AS (
       |  SELECT pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |csl AS (SELECT id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM cands
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** h6's metadata slice: retrieval restricted to English documents —
    * the tenant/ACL/language filter every production RAG stack applies
    * BEFORE ranking, not after. */
  private val H6Lang = "en"

  /** h6: FILTERED hybrid — both legs search only the [[H6Lang]] slice.
    * The keyword leg's BM25 statistics (n, avgdl, df) describe the
    * SLICE, not the whole corpus ("search this tenant's collection" —
    * post-filtering a global ranking both leaks cross-slice idf into
    * the scores and under-fills the top-k); the dense leg semi-joins
    * candidates against the slice ids before the cosine (at 100 TB the
    * metadata rides with the vectors and this is a pushed predicate —
    * here it lives on `documents`, so the semi-join is the honest
    * shape; the query vector itself is looked up unfiltered). Fusion
    * unchanged. */
  def h6FilteredHybrid(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val docs = Tables(s, dir, "documents")
    val slice = docs.filter(col("lang") === H6Lang)
    val bmLeg = KeywordSearch.bm25(slice, "doc_id", "text", HTerms)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") === HQueryVec)
      .select(col("emb").as("q_emb"))
    val csLeg = e
      .join(slice.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .filter(col("vec_id") =!= HQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(LegN)
    fuseRrf(bmLeg, csLeg)
  }

  /** h7: the SCALE-PATH filtered hybrid — h6's semantics (both legs
    * search only the [[H6Lang]] slice, keyword statistics from the
    * slice) with the dense leg served by the REAL index instead of a
    * brute scan over the slice: [[graft.operators.IvfSearch
    * .approxTopKWithin]] probes i1's coarse quantizer and cuts the
    * probed inverted lists to the slice ids BETWEEN probe and scoring
    * (the pre-filter strategy — the top-[[LegN]] budget is spent
    * entirely inside the slice). This is what a 100 TB tenant-filtered
    * RAG stack actually runs: h6's brute slice scan prices the exact
    * answer, h7 touches only probed lists — the h3-vs-h1 relationship
    * under a metadata filter. The oracle composes the shared ivfCtes
    * probe replay with h6's slice join under h1's fusion tail. */
  def h7FilteredIvfHybrid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val slice = docs.filter(col("lang") === H6Lang)
    val bmLeg = KeywordSearch.bm25(slice, "doc_id", "text", HTerms)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)
    val e = Tables(s, dir, "embeddings")
    val idx = graft.operators.IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = ScaleOps.IvfK, iters = ScaleOps.IvfIters,
      roundDecimals = ScaleOps.IvfRound)
    try {
      val denseLeg = graft.operators.IvfSearch
        .approxTopKWithin(e.filter(col("vec_id") === HQueryVec), idx,
          "vec_id", "embedding", k = LegN, nprobe = ScaleOps.IvfNprobe,
          allowed = slice.select(col("doc_id").as("vec_id")))
        .select(col("neighbor").as("id"), col("cos"))
      val res = fuseRrf(bmLeg, denseLeg)
      // bounded (HTopK rows): materialize before the index cache closes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  /** DuckDB replay of [[h6FilteredHybrid]]: the bm25 chain over the
    * sliced corpus (stats from the slice), the cosine leg joined to the
    * slice ids, h1's fusion tail. */
  private val h6Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(HTerms, "text", s"lang = '$H6Lang'")},
       |bml AS (SELECT id, score FROM sc WHERE score > 0
       |        ORDER BY score DESC, id LIMIT $LegN),
       |bmr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |        FROM bml),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |sl AS (SELECT doc_id FROM documents WHERE lang = '$H6Lang'),
       |csl AS (SELECT e.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM e JOIN sl ON sl.doc_id = e.id CROSS JOIN q
       |        WHERE e.id <> q.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** DuckDB replay of [[h7FilteredIvfHybrid]]: h6's sliced keyword leg;
    * the dense leg rides the shared ivfCtes quantizer/probe chain (i1's
    * replay) with the slice join applied to the probed candidates
    * (pre-filter: the LIMIT ranks only slice members); h1's fusion
    * tail. */
  private val h7Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(HTerms, "text", s"lang = '$H6Lang'")},
       |bml AS (SELECT id, score FROM sc WHERE score > 0
       |        ORDER BY score DESC, id LIMIT $LegN),
       |bmr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |        FROM bml),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |${ScaleOps.ivfCtes},
       |sl AS (SELECT doc_id FROM documents WHERE lang = '$H6Lang'),
       |cands AS (
       |  SELECT pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id
       |  JOIN sl ON sl.doc_id = a.id),
       |csl AS (SELECT id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM cands
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** h10: the RETRIEVAL STACK end to end — boolean filter + BM25 rank +
    * ANN dense leg + RRF fusion, every stage served from its index: the
    * boolean clause (k17, probed from the k6 inverted index) defines the
    * candidate universe; the keyword leg is k18's ranked boolean
    * (corpus-stats BM25 WITHIN the set, same index probe); the dense leg
    * probes the IVF index with the candidate set as the
    * [[graft.operators.IvfSearch.approxTopKWithin]] pre-filter (h7's
    * machinery with a BOOLEAN slice instead of a metadata slice — the
    * top-[[LegN]] budget never leaves the set); fusion is h1's RRF,
    * unchanged. This is what "search (dup AND spark) OR vector, NOT
    * stream" runs on a 100 TB stack: |terms| postings shards + probed
    * inverted lists, never a corpus scan. The oracle composes the k1
    * BM25 chain + the shared boolean candidate CTEs + the shared ivfCtes
    * probe under h1's fusion tail. */
  def h10BooleanHybrid(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val bmLeg = SearchOps.k18RankedBoolean(s, dir)
      .select(col("doc_id").as("id"), col("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(LegN)
    val allowed = SearchOps.k17BooleanRetrieval(s, dir)
      .select(col("doc_id").as("vec_id"))
    val e = Tables(s, dir, "embeddings")
    val idx = graft.operators.IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = ScaleOps.IvfK, iters = ScaleOps.IvfIters,
      roundDecimals = ScaleOps.IvfRound)
    try {
      val denseLeg = graft.operators.IvfSearch
        .approxTopKWithin(e.filter(col("vec_id") === HQueryVec), idx,
          "vec_id", "embedding", k = LegN, nprobe = ScaleOps.IvfNprobe,
          allowed = allowed)
        .select(col("neighbor").as("id"), col("cos"))
      val res = fuseRrf(bmLeg, denseLeg)
      // bounded (HTopK rows): materialize before the index cache closes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  /** DuckDB replay of [[h10BooleanHybrid]]: the k1 BM25 chain joined to
    * the shared boolean candidate set for the keyword leg (k18's own
    * oracle shape), the shared ivfCtes probe with the candidate join
    * applied BETWEEN probe and scoring for the dense leg (h7's pre-
    * filter shape over a boolean slice), h1's fusion tail. */
  private val h10Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(HTerms)},
       |${SearchOps.boolSelCtes},
       |bml AS (SELECT sc.id, sc.score FROM sc
       |        JOIN bsel b ON b.doc_id = sc.id
       |        WHERE sc.score > 0
       |        ORDER BY sc.score DESC, sc.id LIMIT $LegN),
       |bmr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |        FROM bml),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |${ScaleOps.ivfCtes},
       |cands AS (
       |  SELECT pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id
       |  JOIN bsel ON bsel.doc_id = a.id),
       |csl AS (SELECT id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM cands
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** DuckDB replay of [[h4AsofHybrid]]: the keyword leg over the AS-OF
    * corpus (k15's CASE text — third 2 one-token), the dense leg over
    * the wave-0 grown index (i11's visibility filter on the et-trained
    * probe chain), h1's fusion tail. */
  private lazy val h4Sql: String =
    s"""WITH ${bmLegSqlOver(SearchOps.AsOfTextExpr)},
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |et AS (SELECT id, emb FROM e WHERE id < ${ScaleOps.I8TrainEnd}),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |${ScaleOps.ivfCtesOver("et")},
       |af0 AS (SELECT * FROM af WHERE id < ${ScaleOps.I8TrainEnd} OR id % 2 <= 0),
       |cands AS (
       |  SELECT pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af0 a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |csl AS (SELECT id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM cands
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedTailSql""".stripMargin

  /** DuckDB replay of [[h5TriRrf]]: h1's keyword and cosine legs, the
    * fuzzy leg as a plain levenshtein join (the blocking is an
    * optimization, not a semantic), and the 3-leg fusion with the SAME
    * explicit left-to-right parenthesization as [[fuseRrfN]]'s fold —
    * 3-double addition is order-sensitive, so the grouping is part of
    * the contract. */
  private val h5Sql: String = {
    val vals = SearchOps.TypoTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH $bmLegSql,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |csl AS (SELECT e.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM e CROSS JOIN q WHERE e.id <> q.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
       |        FROM documents),
       |fq AS (SELECT * FROM (VALUES $vals) v(query_term)),
       |hit AS (SELECT id, COUNT(*) AS fscore
       |        FROM tok JOIN fq ON levenshtein(fq.query_term, tok.term) <= 1
       |        GROUP BY id),
       |fzl AS (SELECT id, fscore FROM hit
       |        ORDER BY fscore DESC, id LIMIT $LegN),
       |fzr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY fscore DESC, id) AS rf
       |        FROM fzl),
       |fused AS (
       |  SELECT id AS doc_id,
       |    COALESCE(rb, 0) AS rb, COALESCE(rc, 0) AS rc, COALESCE(rf, 0) AS rf,
       |    ((CASE WHEN rb IS NULL THEN CAST(0.0 AS DOUBLE)
       |           ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rb AS DOUBLE) END
       |      + CASE WHEN rc IS NULL THEN CAST(0.0 AS DOUBLE)
       |             ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rc AS DOUBLE) END)
       |     + CASE WHEN rf IS NULL THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rf AS DOUBLE) END) AS rrf
       |  FROM bmr FULL OUTER JOIN csr USING (id) FULL OUTER JOIN fzr USING (id))
       |SELECT doc_id, rb, rc, rf, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT $HTopK""".stripMargin
  }

  /** h8's diversified page size. */
  private val H8K = 5

  /** h8: DIVERSIFIED hybrid serving — the full modern stack: retrieve
    * (both legs), fuse (RRF), then DIVERSIFY the page with MMR
    * ([[graft.operators.MmrRerank]]) so a near-dup-ridden fused top-20
    * doesn't hand the user 5 copies of one passage. Relevance enters
    * MMR as the RANK-inverted fused position on the ppm grid
    * ((HTopK+1−rank)·50000 — ranks are RRF's own exact currency; the
    * raw RRF double is not integer-liftable), diversity as the round-6
    * embedding cosine in micro-units, λ = 7/10 rational — v7's
    * integer-exact greedy recurrence end to end. Zero-norm embeddings
    * drop from the pool on both sides (no cosine — the v7 rule). The
    * oracle composes h1's fusion chain under the SHARED greedy CTE
    * generator ([[graft.operators.MmrRerank.greedySelSql]]), so the
    * recurrence text cannot drift between the v7 and h8 rows. */
  def h8DiversifiedHybrid(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = fuseRrf(bm25Leg(s, dir), cosineLeg(s, dir))
      .withColumn("frank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val pool = fused
      .join(e, col("doc_id") === col("vec_id"))
      .select(lit(HQueryVec).as("q_id"), col("doc_id").as("nid"),
        ((lit(HTopK + 1) - col("frank")) * 50000L).cast("long").as("relppm"),
        col("emb"))
    graft.operators.MmrRerank.diversifiedFromPool(pool, k = H8K)
      .select(col("rk"), col("neighbor").as("doc_id"), col("mmr_e7"))
      .orderBy("rk")
  }

  /** DuckDB replay of [[h8DiversifiedHybrid]]: h1's legs and fusion as
    * CTEs, the rank-inverted pool, v7's sims lift, and the shared
    * greedy selection CTEs. */
  private val h8Sql: String =
    s"""WITH $bmLegSql,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |csl AS (SELECT e.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM e CROSS JOIN q WHERE e.id <> q.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedCteSql,
       |ftop AS (SELECT doc_id, rrf FROM fused
       |         ORDER BY rrf DESC, doc_id LIMIT $HTopK),
       |frk AS (SELECT doc_id,
       |          ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frank
       |        FROM ftop),
       |pool AS (
       |  SELECT CAST($HQueryVec AS BIGINT) AS q_id, f.doc_id AS nid,
       |    CAST(($HTopK + 1 - f.frank) * 50000 AS BIGINT) AS relppm, e.emb
       |  FROM frk f JOIN e ON e.id = f.doc_id
       |  WHERE list_dot_product(e.emb, e.emb) > 0),
       |sims AS (
       |  SELECT a.q_id, a.nid AS id_a, b.nid AS id_b,
       |    CAST(ROUND(ROUND(list_dot_product(a.emb, b.emb) /
       |      (sqrt(list_dot_product(a.emb, a.emb)) *
       |       sqrt(list_dot_product(b.emb, b.emb))), 6) * 1000000.0) AS BIGINT) AS simppm
       |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.nid <> b.nid),
       |${graft.operators.MmrRerank.greedySelSql(H8K, 7, 10)}
       |SELECT rk, nid AS doc_id, CAST(mmr_e7 AS BIGINT) AS mmr_e7
       |FROM (${(1 to H8K).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY rk""".stripMargin

  /** h9: FUSION ABLATION — the report every hybrid deployment publishes
    * before keeping the second leg: for each single-leg top-[[HTopK]]
    * page (keyword-only, dense-only), how many of its documents survive
    * into the FUSED page and how many fused picks neither... i.e. the
    * overlap of h1's fused top-20 with each leg's own top-20, plus the
    * count of fused docs OUTSIDE that leg's page (the other leg's
    * contribution). All integer set arithmetic over already-bounded
    * rank windows — if fusion merely reordered one leg, overlap = 20
    * and the second leg bought nothing. */
  def h9FusionAblation(s: SparkSession, dir: String): DataFrame = {
    // rank each leg ONCE (eagerly pinned — <= LegN rows) and derive
    // BOTH the fusion input and the leg's own page from the same
    // materialized frame: Spark does not dedupe duplicate scan
    // subtrees, so building the legs twice would run the BM25 corpus
    // scan and the brute cosine cross-join twice per call
    val bmr = rankLeg(bm25Leg(s, dir), col("score"), "rb").localCheckpoint()
    val csr = rankLeg(cosineLeg(s, dir), col("cos"), "rc").localCheckpoint()
    // pinned too (<= HTopK rows): four aggregate jobs consume it, and
    // an unpinned frame would re-run the fusion join in each
    val fusedIds = fuseRrfN(Seq("rb" -> bmr, "rc" -> csr))
      .select(col("doc_id").as("id"))
      .localCheckpoint()
    def row(name: String, ranked: DataFrame, rankCol: String): DataFrame = {
      val legPage = ranked.filter(col(rankCol) <= HTopK).select(col("id"))
      val overlap = legPage.join(fusedIds, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      val outside = fusedIds.join(legPage, Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_from_other"))
      overlap.crossJoin(outside)
        .select(lit(name).as("leg"), col("n_overlap"), col("n_from_other"),
          expr(s"(1000000 * n_overlap) div $HTopK").as("kept_ppm"))
    }
    row("bm25", bmr, "rb")
      .unionByName(row("cosine", csr, "rc"))
      .orderBy("leg")
  }

  /** DuckDB replay of [[h9FusionAblation]]: h1's legs and fusion, each
    * leg's own top-[[HTopK]] window, integer set arithmetic. */
  private val h9Sql: String =
    s"""WITH $bmLegSql,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id = $HQueryVec),
       |csl AS (SELECT e.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM e CROSS JOIN q WHERE e.id <> q.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |$fusedCteSql,
       |ftop AS (SELECT doc_id AS id FROM fused
       |         ORDER BY rrf DESC, doc_id LIMIT $HTopK),
       |bp AS (SELECT id FROM bmr WHERE rb <= $HTopK),
       |cp AS (SELECT id FROM csr WHERE rc <= $HTopK),
       |rows_ AS (
       |  SELECT 'bm25' AS leg,
       |    (SELECT COUNT(*) FROM bp WHERE id IN (SELECT id FROM ftop)) AS n_overlap,
       |    (SELECT COUNT(*) FROM ftop WHERE id NOT IN (SELECT id FROM bp)) AS n_from_other
       |  UNION ALL
       |  SELECT 'cosine',
       |    (SELECT COUNT(*) FROM cp WHERE id IN (SELECT id FROM ftop)),
       |    (SELECT COUNT(*) FROM ftop WHERE id NOT IN (SELECT id FROM cp)))
       |SELECT leg, n_overlap, n_from_other,
       |  (1000000 * n_overlap) // $HTopK AS kept_ppm
       |FROM rows_ ORDER BY leg""".stripMargin

  /** h11: CROSS-MODAL hybrid — the multimodal serving stack: the same
    * document ranked by what it SAYS (h1's keyword BM25 leg), what it
    * MEANS (the text-embedding cosine leg), and what it LOOKS LIKE (the
    * mm12 image-feature leg, served by the REAL IVF machinery — an
    * index built on [[graft.multimodal.MediaOps.mm12ImageFeatures]] of
    * every other document, probed with the query document's held-out
    * feature vector, the deployment shape where the query image was
    * never indexed). Three-leg RRF fusion in declaration order (h5's
    * canonical left-to-right fold — IEEE addition of 3+ doubles is not
    * associative). A 100 TB multimodal corpus serves retrieval this
    * way: keyword shards + text-vector inverted lists + image-vector
    * inverted lists, fused by rank so no leg's score scale dominates.
    * The oracle replays the bm25 chain, the brute cosine chain, the
    * mm12 feature replay + shared ivfCtes probe, and the parenthesized
    * fold. */
  def h11CrossModalHybrid(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    // persisted: the index build and the probe both consume the opaque
    // PNG decode chain (filters cannot push below mapPartitions; the
    // mm12 rule). Read lazily by buildIndex's eager Lloyd jobs first —
    // single-threaded first touch — then the probe reads the cache.
    val feats = graft.multimodal.MediaOps.mm12ImageFeatures(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = graft.operators.IvfSearch.buildIndex(
      feats.filter(col("vec_id") =!= HQueryVec), "vec_id", "embedding",
      k = ScaleOps.IvfK, iters = ScaleOps.IvfIters,
      roundDecimals = ScaleOps.IvfRound)
    try {
      val visLeg = graft.operators.IvfSearch
        .approxTopK(feats.filter(col("vec_id") === HQueryVec), idx,
          "vec_id", "embedding", k = LegN, nprobe = ScaleOps.IvfNprobe)
        .select(col("neighbor").as("id"), col("cos").as("vcos"))
      val res = fuseRrfN(Seq(
        "rb" -> rankLeg(bm25Leg(s, dir), col("score"), "rb"),
        "rc" -> rankLeg(cosineLeg(s, dir), col("cos"), "rc"),
        "rv" -> rankLeg(visLeg, col("vcos"), "rv")))
      // bounded (HTopK rows): materialize before the index cache closes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      idx.close()
      feats.unpersist()
    }
  }

  /** DuckDB replay of [[h11CrossModalHybrid]]: the k1 BM25 chain, h1's
    * brute cosine leg (CTEs renamed te/tq — the zero-prefix ivfCtes
    * chain owns the `e`/`q` names for the IMAGE side), the mm12 feature
    * replay + shared ivfCtes probe for the visual leg, h5's 3-leg
    * parenthesized RRF fold. */
  private lazy val h11Sql: String =
    s"""WITH $bmLegSql,
       |te AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |tq AS (SELECT id AS q_id, emb AS q_emb FROM te WHERE id = $HQueryVec),
       |csl AS (SELECT te.id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS cos
       |        FROM te CROSS JOIN tq WHERE te.id <> tq.q_id
       |        ORDER BY cos DESC, id LIMIT $LegN),
       |csr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rc
       |        FROM csl),
       |${graft.multimodal.MediaOps.mm12FeatsCtes},
       |e AS (SELECT doc_id AS id, emb FROM feats WHERE doc_id <> $HQueryVec),
       |q AS (SELECT doc_id AS q_id, emb AS q_emb FROM feats WHERE doc_id = $HQueryVec),
       |${ScaleOps.ivfCtes},
       |vcands AS (
       |  SELECT pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |vsl AS (SELECT id,
       |          ROUND(list_dot_product(q_emb, emb) /
       |            (sqrt(list_dot_product(q_emb, q_emb)) *
       |             sqrt(list_dot_product(emb, emb))), 6) AS vcos
       |        FROM vcands
       |        ORDER BY vcos DESC, id LIMIT $LegN),
       |vsr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY vcos DESC, id) AS rv
       |        FROM vsl),
       |fused AS (
       |  SELECT id AS doc_id,
       |    COALESCE(rb, 0) AS rb, COALESCE(rc, 0) AS rc, COALESCE(rv, 0) AS rv,
       |    ((CASE WHEN rb IS NULL THEN CAST(0.0 AS DOUBLE)
       |           ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rb AS DOUBLE) END
       |      + CASE WHEN rc IS NULL THEN CAST(0.0 AS DOUBLE)
       |             ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rc AS DOUBLE) END)
       |     + CASE WHEN rv IS NULL THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(1.0 AS DOUBLE) / CAST($RrfK + rv AS DOUBLE) END) AS rrf
       |  FROM bmr FULL OUTER JOIN csr USING (id) FULL OUTER JOIN vsr USING (id))
       |SELECT doc_id, rb, rc, rv, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT $HTopK""".stripMargin

  /** h12's first-stage candidate budget: deep enough that the rerank
    * genuinely reorders (cosine disagrees with BM25 inside the pool),
    * small enough that stage 2 is candidate-sized, never corpus-sized. */
  private val CascadeN = 100

  /** h12: CASCADE retrieval — the two-stage ranker every production
    * search stack runs (distinct from RRF fusion, which blends two FULL
    * rankings): a CHEAP first stage (k1's BM25 scan+heap) keeps the top
    * [[CascadeN]] candidates, and the EXPENSIVE signal (embedding
    * cosine against the query vector) scores ONLY those candidates —
    * the candidate ids broadcast into the embeddings join, so stage 2
    * touches [[CascadeN]] vectors, never the corpus. Output: the final
    * top-[[HTopK]] by (cos, id) with the stage-1 rank riding along as
    * evidence of the reorder. At 100 TB this is the shape that makes
    * expensive signals affordable: cost = corpus-linear cheap pass +
    * candidate-sized expensive pass. */
  def h12CascadeRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val bm = rankLeg(
        bm25Leg(s, dir).limit(CascadeN), col("score"), "rb")
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") === HQueryVec)
      .select(col("emb").as("q_emb"))
    e.join(broadcast(bm), e("vec_id") === bm("id"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= HQueryVec)
      .select(col("id").as("doc_id"), col("rb").cast("long").as("rb"),
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6).as("cos"))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= HTopK)
      .orderBy("rk")
  }

  /** DuckDB replay of [[h12CascadeRerank]]: the k1 BM25 chain cut to
    * [[CascadeN]], joined to the embeddings for the cosine rerank, the
    * same (cos desc, id) final window. */
  private lazy val h12Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(HTerms)},
       |bml AS (SELECT id, score FROM sc WHERE score > 0
       |        ORDER BY score DESC, id LIMIT $CascadeN),
       |bmr AS (SELECT id,
       |          ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |        FROM bml),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT emb AS q_emb FROM e WHERE id = $HQueryVec),
       |scored AS (
       |  SELECT bmr.id AS doc_id, bmr.rb,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) *
       |       sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM bmr JOIN e ON e.id = bmr.id CROSS JOIN q
       |  WHERE bmr.id <> $HQueryVec),
       |ranked AS (
       |  SELECT doc_id, rb, cos,
       |    ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rk
       |  FROM scored)
       |SELECT doc_id, rb, cos, rk FROM ranked
       |WHERE rk <= $HTopK ORDER BY rk""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("h1_hybrid_rrf", h1HybridRrf, h1Sql),
    // same answer: the rolling-served keyword leg is bit-identical to
    // the corpus scan after the stale version is superseded
    Query("h2_rolling_hybrid", h2RollingHybrid, h1Sql),
    Query("h3_ivf_hybrid", h3IvfHybrid, h3Sql),
    Query("h4_asof_hybrid", h4AsofHybrid, h4Sql),
    Query("h5_tri_rrf", h5TriRrf, h5Sql),
    Query("h6_filtered_hybrid", h6FilteredHybrid, h6Sql),
    Query("h7_filtered_ivf_hybrid", h7FilteredIvfHybrid, h7Sql),
    Query("h8_diversified_hybrid", h8DiversifiedHybrid, h8Sql),
    Query("h9_fusion_ablation", h9FusionAblation, h9Sql),
    Query("h10_boolean_hybrid", h10BooleanHybrid, h10Sql),
    Query("h11_crossmodal_hybrid", h11CrossModalHybrid, h11Sql),
    Query("h12_cascade_rerank", h12CascadeRerank, h12Sql))
}
