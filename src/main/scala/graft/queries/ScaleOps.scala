package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AnnSearch, BloomPrune, IvfSearch, MinHashDedup, PortableHash, PqSearch, SimHash, SkewAgg, SkewJoin}

/** Oracle-checked entry points for the scale operators (MinHash/LSH,
  * SimHash, hyperplane-LSH ANN). The operator logic lives in
  * `graft.operators`; this object pins each pipeline's exact semantics
  * with a DuckDB replay built from the same constants (K/R/B, hyperplane
  * seeds), so the approximation algorithms themselves are hash-verified —
  * not just smoke-tested.
  */
object ScaleOps extends QueryFamily {

  /** m1: MinHash+LSH near-dup candidates verified with exact Jaccard
    * (threshold 0.3 keeps the result non-trivial on synthetic data). */
  def m1MinhashNeardup(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.nearDuplicates(Tables(s, dir, "documents"), "doc_id", "text", 0.3)
      .orderBy("id_a", "id_b")

  private val hex60Sql: String => String =
    e => s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  /** The m1 MinHash pipeline as a reusable CTE chain ending in `fpairs`
    * (id_a, id_b, jaccard — threshold-filtered near-dup pairs). Shared
    * with the CorpusOps oracles (c1/d14), which build the connected-
    * components recursion on top of the SAME pair derivation so the
    * whole pair→cluster chain is replayed, not just its last step. */
  private[queries] val m1PairsCtes: String = m1PairsCtesAt(0.3)

  /** The same chain with a caller-chosen verification threshold (m3's
    * calibration sweep uses 0.0 — every banded candidate, unthresholded)
    * and an optional WHERE restricting the document universe (c9 pairs
    * only the corpus ∪ stream split, excluding the eval docs). */
  private[graft] def m1PairsCtesAt(threshold: Double, where: String = ""): String = {
    val K = MinHashDedup.K
    val R = MinHashDedup.R
    val P = MinHashDedup.P
    val mins = (0 until K)
      .map(k => s"    MIN(((hx % $P) * ${MinHashDedup.coeffA(k)} + ${MinHashDedup.coeffB(k)}) % $P) AS mh$k")
      .mkString(",\n")
    val bands = (0 until MinHashDedup.B).map { b =>
      val cat = (b * R until (b + 1) * R)
        .map(k => s"CAST(mh$k AS VARCHAR)").mkString(" || ',' || ")
      s"  SELECT id, $b AS band, md5($cat) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""sh AS (
       |  SELECT DISTINCT doc_id AS id,
       |    unnest(CASE WHEN len(string_split(text,' ')) >= 3
       |      THEN list_transform(range(0, len(string_split(text,' ')) - 2),
       |        i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])
       |      ELSE [text] END) AS shingle
       |  FROM documents $where),
       |hashed AS (SELECT id, ${hex60Sql("shingle")} AS hx FROM sh),
       |sigs AS (
       |  SELECT id,
       |$mins
       |  FROM hashed GROUP BY id),
       |bands AS (
       |$bands),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT id_a, id_b, COUNT(*) AS inter
       |  FROM pairs
       |  JOIN hashed sa ON id_a = sa.id
       |  JOIN hashed sb ON id_b = sb.id AND sa.hx = sb.hx
       |  GROUP BY id_a, id_b),
       |fpairs AS (
       |  SELECT id_a, id_b,
       |    ROUND(CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON id_a = za.id
       |  JOIN sizes zb ON id_b = zb.id
       |  WHERE CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) >= $threshold)""".stripMargin
  }

  private val m1Sql: String =
    s"""WITH $m1PairsCtes
       |SELECT id_a, id_b, jaccard FROM fpairs ORDER BY id_a, id_b""".stripMargin

  /** m3: sketch-calibration report — for EVERY banded candidate pair
    * (threshold 0: no verification cut), the count of agreeing minhash
    * components vs the mean TRUE Jaccard at that agreement level. This
    * is the estimator-quality audit behind the whole MinHash tier: the
    * expected component-agreement fraction IS the Jaccard (the classic
    * minwise-hashing identity), and this table shows how tightly the
    * 16-component sketch tracks it on the actual corpus — the evidence
    * for choosing K/R/B. The mean is an exact
    * integer (Jaccard on the 6dp grid, lifted to ppm, integer `div`),
    * so the whole calibration replays in the oracle. */
  def m3SketchCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.functions.SketchFunctions.register(s)
    val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text", 0.0)
    val sigs = MinHashDedup.signatureFromSets(
      MinHashDedup.shingleSets(docs, "doc_id", "text"))
    val matches = (0 until MinHashDedup.K).map(k =>
      when(element_at(col("ma"), k + 1) === element_at(col("mb"), k + 1), 1)
        .otherwise(0)).reduce(_ + _)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("mh").as("ma")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("mh").as("mb")), "id_b")
      .withColumn("n_match", matches)
      .withColumn("j_e6", round(col("jaccard") * 1e6).cast("long"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j_e6")).as("jsum"))
      .withColumn("mean_jaccard_e6", expr("jsum div n_pairs"))
      .drop("jsum")
      .orderBy("n_match")
  }

  private val m3Sql: String = {
    val matchExpr = (0 until MinHashDedup.K)
      .map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${m1PairsCtesAt(0.0)},
       |mm AS (
       |  SELECT f.jaccard, ($matchExpr) AS n_match
       |  FROM fpairs f
       |  JOIN sigs sa ON f.id_a = sa.id
       |  JOIN sigs sb ON f.id_b = sb.id)
       |SELECT n_match, COUNT(*) AS n_pairs,
       |  CAST(SUM(CAST(ROUND(jaccard * 1e6, 0) AS BIGINT)) AS BIGINT) // COUNT(*) AS mean_jaccard_e6
       |FROM mm GROUP BY n_match ORDER BY n_match""".stripMargin
  }

  /** KMV sketch size: k = 64 keeps relative error ~1/√(k−2) ≈ 13%
    * (Beyer et al. 2007) while the oracle's window replay stays cheap.
    * 63·2⁶⁰ (the estimator numerator) is EXACTLY representable as a
    * double (6-bit mantissa × power of two), so both engines fold the
    * same constant. */
  private val KmvK = 64
  private val KmvNum: Double = 63.0 * 1152921504606846976.0 // (k−1)·2⁶⁰, exact

  /** m4: KMV approximate-distinct audit — per-language distinct-token
    * estimate from the [[graft.functions.KMinValues]] bounded-state
    * k-minimum-values aggregate, against the exact distinct count, with
    * the signed error in ppm. `approx_count_distinct`'s HLL is not
    * oracle-checkable (engine-private registers); KMV is a pure order
    * statistic of the portable md5 hash, so DuckDB replays the identical
    * sketch with a `row_number() <= k` window and the identical
    * estimator arithmetic — the sketch itself is hash-verified, like
    * m3 does for MinHash.
    *
    * Scale shape: explode → ONE hash-partial aggregate whose map-side
    * combine ships ≤ k longs per (mapper, lang); no per-group sort
    * anywhere (the oracle's window form is the thing the aggregate
    * exists to avoid). The exact count is the audit column — at
    * deployment scale you'd drop it and keep only the sketch. A group
    * with < k distinct values degenerates to the exact set, so the
    * estimate is exact there by construction (the CASE below). */
  def m4KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val toks = Tables(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), PortableHash.hex60(col("term")).as("gh"))
    val sk = toks.groupBy(col("lang"))
      .agg(graft.functions.SketchFunctions.kminValues(col("gh"), KmvK).as("kmins"))
      .select(col("lang"), size(col("kmins")).as("kc"),
        element_at(col("kmins"), size(col("kmins"))).as("kth_hash"))
    val ex = toks.groupBy(col("lang"))
      .agg(countDistinct(col("gh")).as("exact_distinct"))
    val exd = col("exact_distinct").cast("double")
    val est = when(col("kc") < KmvK, col("kc").cast("double"))
      .otherwise(round(lit(KmvNum) / col("kth_hash").cast("double"), 4))
    sk.join(ex, "lang")
      .withColumn("kmv_estimate", est)
      .withColumn("err_ppm",
        round((col("kmv_estimate") - exd) / exd * lit(1e6)).cast("long"))
      .select(col("lang"), col("exact_distinct"), col("kth_hash"),
        col("kmv_estimate"), col("err_ppm"))
      .orderBy("lang")
  }

  private val m4Sql: String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
       |h AS (SELECT DISTINCT lang, ${hex60Sql("term")} AS gh FROM tok),
       |rk AS (
       |  SELECT lang, gh, row_number() OVER (PARTITION BY lang ORDER BY gh) AS rk
       |  FROM h),
       |sk AS (
       |  SELECT lang, MAX(gh) AS kth_hash, COUNT(*) AS kc
       |  FROM rk WHERE rk <= $KmvK GROUP BY lang),
       |ex AS (SELECT lang, COUNT(*) AS exact_distinct FROM h GROUP BY lang),
       |j AS (
       |  SELECT sk.lang, ex.exact_distinct, sk.kth_hash,
       |    CASE WHEN sk.kc < $KmvK THEN CAST(sk.kc AS DOUBLE)
       |         ELSE ROUND((63.0 * 1152921504606846976.0) / CAST(sk.kth_hash AS DOUBLE), 4)
       |    END AS kmv_estimate
       |  FROM sk JOIN ex USING (lang))
       |SELECT lang, exact_distinct, kth_hash, kmv_estimate,
       |  CAST(ROUND((kmv_estimate - CAST(exact_distinct AS DOUBLE))
       |    / CAST(exact_distinct AS DOUBLE) * 1e6, 0) AS BIGINT) AS err_ppm
       |FROM j ORDER BY lang""".stripMargin

  /** m5: cross-source vocabulary overlap from MERGED KMV sketches — the
    * mergeability payoff of m4's synopsis: per-source sketches (≤ k longs
    * each) combine row-locally into a union sketch — `kmin_k(A ∪ B) =
    * kmin_k(kmin_k(A) ∪ kmin_k(B))`, an identity, not an approximation
    * of the merge — so the pairwise union/overlap table touches tokens
    * exactly once (the sketch build) and every |sources|² estimate after
    * that is arithmetic on tiny arrays. Overlap = |A| + |B| − |A ∪ B| on
    * the estimates (can go slightly negative under estimator noise —
    * reported as-is). `exact_overlap` is the audit column via the vocab
    * self-join you'd never run at deployment scale; c7 gives doc-level
    * source overlap, this is the token-level complement. */
  def m5KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    // persisted: the sketch build, both sides of its pair self-join, and
    // the audit self-join all read the distinct (source, token-hash)
    // table — without the persist each self-join side re-shingles the
    // corpus (NOTES hard-won fact #4); released by the caller's
    // clearCache
    val h = Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .select(col("source"), PortableHash.hex60(col("term")).as("gh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    h.count()
    val sk = h.groupBy(col("source"))
      .agg(graft.functions.SketchFunctions.kminValues(col("gh"), KmvK).as("mins"))
      .select(col("source"), col("mins"), size(col("mins")).as("kc"))
    val pairs = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.mins").as("ma"), col("a.kc").as("ka"),
        col("b.mins").as("mb"), col("b.kc").as("kb"))
    val mg = array_sort(array_distinct(concat(col("ma"), col("mb"))))
    def est(kc: Column, mins: Column): Column =
      when(kc < KmvK, kc.cast("double"))
        .otherwise(round(lit(KmvNum) / element_at(mins, KmvK).cast("double"), 4))
    val withU = pairs.withColumn("mu",
        when(size(mg) >= KmvK, slice(mg, 1, KmvK)).otherwise(mg))
      .withColumn("est_a", est(col("ka"), col("ma")))
      .withColumn("est_b", est(col("kb"), col("mb")))
      .withColumn("est_union", est(size(col("mu")), col("mu")))
      .withColumn("est_overlap",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
    val ov = h.as("x").join(h.as("y"),
        col("x.gh") === col("y.gh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    withU.join(ov, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy("source_a", "source_b")
  }

  private val m5Sql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
       |h AS (SELECT DISTINCT source, ${hex60Sql("term")} AS gh FROM tok),
       |rk AS (
       |  SELECT source, gh, row_number() OVER (PARTITION BY source ORDER BY gh) AS rk
       |  FROM h),
       |sk AS (
       |  SELECT source, list(gh ORDER BY gh) AS mins, COUNT(*) AS kc
       |  FROM rk WHERE rk <= $KmvK GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    a.mins AS ma, a.kc AS ka, b.mins AS mb, b.kc AS kb
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |m AS (
       |  SELECT *, list_sort(list_distinct(list_concat(ma, mb))) AS mg FROM pairs),
       |m2 AS (
       |  SELECT source_a, source_b, ma, ka, mb, kb,
       |    CASE WHEN len(mg) >= $KmvK THEN mg[1:$KmvK] ELSE mg END AS mu
       |  FROM m),
       |est AS (
       |  SELECT source_a, source_b,
       |    CASE WHEN ka < $KmvK THEN CAST(ka AS DOUBLE)
       |         ELSE ROUND((63.0 * 1152921504606846976.0) / CAST(ma[$KmvK] AS DOUBLE), 4)
       |    END AS est_a,
       |    CASE WHEN kb < $KmvK THEN CAST(kb AS DOUBLE)
       |         ELSE ROUND((63.0 * 1152921504606846976.0) / CAST(mb[$KmvK] AS DOUBLE), 4)
       |    END AS est_b,
       |    CASE WHEN len(mu) < $KmvK THEN CAST(len(mu) AS DOUBLE)
       |         ELSE ROUND((63.0 * 1152921504606846976.0) / CAST(mu[$KmvK] AS DOUBLE), 4)
       |    END AS est_union
       |  FROM m2),
       |ov AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS exact_overlap
       |  FROM h a JOIN h b ON a.gh = b.gh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT e.source_a, e.source_b, e.est_a, e.est_b, e.est_union,
       |  ROUND(e.est_a + e.est_b - e.est_union, 4) AS est_overlap,
       |  COALESCE(ov.exact_overlap, 0) AS exact_overlap
       |FROM est e LEFT JOIN ov USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  /** CMS grid for m6: d = 4 rows × w = 16 buckets. DELIBERATELY narrow:
    * the synthetic corpus has a 31-term vocabulary per language, so a
    * deployment-width grid (say 4×4096, still only 128 KiB) would never
    * collide and the audit column would be vacuously zero — the narrow
    * grid forces real collisions so the query demonstrates (and the
    * oracle verifies) the overestimate the audit exists to price. */
  private val CmsD = 4
  private val CmsW = 16
  private val CmsTopN = 10

  /** m6: Count-Min Sketch frequency audit — per language, the top-10
    * exact tokens (count DESC, term ASC) with the CMS point estimate
    * from the [[graft.functions.CmsCounts]] native aggregate and the
    * signed overestimate in ppm. The CMS is the oracle-checkable
    * point-FREQUENCY sketch completing the native-aggregate tier: m4's
    * KMV answers "how many distinct", e32's space-saving answers "which
    * are hot", this answers "how often is x" for ANY x from fixed
    * 16 KiB state — a plain sum of deterministic per-row contributions,
    * so DuckDB replays every grid cell exactly from the same affine
    * bucket family and the min-over-rows estimate is hash-verified.
    *
    * Scale shape: one exact (lang, term) count pass feeds BOTH the
    * audit's top-10 and the sketch via the aggregate's weight child
    * (tokens are never re-exploded); at deployment scale you drop the
    * exact side and feed per-occurrence weight-1 rows — one pass,
    * map-side combine ships one 16 KiB grid per (mapper, lang), merge
    * is element-wise addition ([[graft.streaming.StreamOps]] carries
    * the same grid as streaming state). The estimate lookup is a
    * broadcast join of 10·|langs| probes against |langs| sketch rows.
    * est ≥ exact always (counters only over-count on collisions), so
    * `over_ppm` is the audit: it prices ε·N against the true counts. */
  def m6CmsHeavy(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    import graft.functions.CmsCounts
    // persisted: the exact (lang, term) counts feed the sketch build,
    // the top-10 window, and the probe join — without the persist each
    // consumer re-explodes the corpus (NOTES hard-won fact #4);
    // released by the caller's clearCache
    val cnt = Tables(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("exact_cnt"))
      .withColumn("gh", PortableHash.hex60(col("term")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cnt.count()
    val sk = cnt.groupBy(col("lang"))
      .agg(graft.functions.SketchFunctions
        .cmsCounts(col("gh"), col("exact_cnt"), CmsD, CmsW).as("cms"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("exact_cnt").desc, col("term"))
    val top = cnt.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= CmsTopN)
    val est = (0 until CmsD).map { r =>
      val bucket = ((lit(CmsCounts.coeffA(r)) * (col("gh") % CmsCounts.P)
        + lit(CmsCounts.coeffB(r))) % CmsCounts.P) % CmsW
      element_at(col("cms"), (lit(r * CmsW) + bucket + 1).cast("int"))
    }.reduce((x, y) => least(x, y))
    top.join(broadcast(sk), "lang")
      .withColumn("cms_est", est)
      .select(col("lang"), col("rk").cast("bigint").as("rk"), col("term"),
        col("exact_cnt"), col("cms_est"),
        round((col("cms_est") - col("exact_cnt")).cast("double")
          / col("exact_cnt").cast("double") * lit(1e6)).cast("long").as("over_ppm"))
      .orderBy("lang", "rk")
  }

  private val m6Sql: String = {
    import graft.functions.CmsCounts
    val coefRows = (0 until CmsD)
      .map(r => s"(${r}, ${CmsCounts.coeffA(r)}, ${CmsCounts.coeffB(r)})")
      .mkString(", ")
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
       |cnt AS (
       |  SELECT lang, term, ${hex60Sql("term")} AS gh, COUNT(*) AS exact_cnt
       |  FROM tok GROUP BY lang, term),
       |coef AS (SELECT * FROM (VALUES $coefRows) AS t(r, ca, cb)),
       |cells AS (
       |  SELECT c.lang, f.r,
       |    ((f.ca * (c.gh % ${CmsCounts.P}) + f.cb) % ${CmsCounts.P}) % $CmsW AS bucket,
       |    CAST(SUM(c.exact_cnt) AS BIGINT) AS cell
       |  FROM cnt c CROSS JOIN coef f
       |  GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT lang, term, gh, exact_cnt,
       |    row_number() OVER (PARTITION BY lang ORDER BY exact_cnt DESC, term) AS rk
       |  FROM cnt),
       |top AS (SELECT * FROM rk WHERE rk <= $CmsTopN),
       |est AS (
       |  SELECT t.lang, t.rk, t.term, t.exact_cnt, MIN(cl.cell) AS cms_est
       |  FROM top t CROSS JOIN coef f
       |  JOIN cells cl ON cl.lang = t.lang AND cl.r = f.r
       |    AND cl.bucket = ((f.ca * (t.gh % ${CmsCounts.P}) + f.cb) % ${CmsCounts.P}) % $CmsW
       |  GROUP BY 1, 2, 3, 4)
       |SELECT lang, CAST(rk AS BIGINT) AS rk, term, exact_cnt, cms_est,
       |  CAST(ROUND((CAST(cms_est AS DOUBLE) - CAST(exact_cnt AS DOUBLE))
       |    / CAST(exact_cnt AS DOUBLE) * 1e6, 0) AS BIGINT) AS over_ppm
       |FROM est ORDER BY lang, rk""".stripMargin
  }

  /** m2: SimHash fingerprint pairs within Hamming distance 3. With
    * `NumBands` = 5 disjoint 12-bit bands, banding finds EVERY pair at
    * Hamming ≤ 4, so the result is exactly the full Hamming-≤3 pair set
    * and the oracle can replay it without modeling the blocking at all —
    * it simply joins on the same rotated bands. */
  def m2SimhashNeardup(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDuplicates(Tables(s, dir, "documents"), "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")

  private val m2Sql: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id AS id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |th AS (SELECT id, ${hex60Sql("w")} AS h FROM tok),
       |bits AS (
       |  SELECT id, j,
       |    SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN range(${SimHash.Bits}) t(j) GROUP BY id, j),
       |fp AS (
       |  SELECT id,
       |    SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS simhash
       |  FROM bits GROUP BY id),
       |bands AS (
       |  SELECT id, simhash, t,
       |    (simhash >> (${SimHash.Bits} - ${SimHash.BandBits} * (CAST(t AS INTEGER) + 1)))
       |      & ${(1L << SimHash.BandBits) - 1} AS blk
       |  FROM fp CROSS JOIN range(${SimHash.NumBands}) tt(t))
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.t = b.t AND a.blk = b.blk AND a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** a1: LSH-bucketed approximate cosine top-5 for the same 3 query
    * vectors as the exact baseline `v1_knn_brute` (recall is spec-tested
    * against it). */
  def a1AnnTopk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    AnnSearch.approxTopK(e.filter(col("vec_id") < 3), e, "vec_id", "embedding", 5)
      .orderBy("q_id", "rk")
  }

  private val a1Sql: String = {
    val planeExpr =
      s"""list_transform(range(0, ${AnnSearch.Dim}),
         |      c -> (CAST(${hex60Sql("CAST(t AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ',' || CAST(c AS VARCHAR)")} % 2001 AS DOUBLE) - 1000.0) / 1000.0)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |planes AS (
       |  SELECT t, j, $planeExpr AS w
       |  FROM range(${AnnSearch.Tables}) tt(t) CROSS JOIN range(${AnnSearch.Planes}) jj(j)),
       |sigs AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN list_dot_product(emb, w) > 0
       |        THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS sig
       |  FROM e CROSS JOIN planes GROUP BY vec_id, t),
       |nr AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |n AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS nemb FROM nr),
       |q AS (SELECT vec_id AS q_id, t, sig FROM sigs WHERE vec_id < 3),
       |cands AS (
       |  SELECT DISTINCT q_id, s.vec_id AS neighbor
       |  FROM q JOIN sigs s ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.q_id),
       |scored AS (
       |  SELECT q_id, neighbor,
       |    ROUND(list_dot_product(qn.nemb, cn.nemb), 6) AS cos
       |  FROM cands
       |  JOIN n qn ON qn.vec_id = q_id
       |  JOIN n cn ON cn.vec_id = neighbor),
       |ranked AS (
       |  SELECT q_id, neighbor, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |  FROM scored)
       |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin
  }

  /** a2: embedding-cosine near-dup pairs over a bounded block (vec_id <
    * 500). The synthetic embeddings are near-uniform (max pairwise cosine
    * ≈ 0.44), so 0.35 is a demo threshold that keeps the result
    * non-vacuous; real corpora use ~0.9+ with more planes per table. */
  def a2EmbeddingNeardup(s: SparkSession, dir: String): DataFrame =
    AnnSearch.cosineNearDuplicates(
      Tables(s, dir, "embeddings").filter(col("vec_id") < 500),
      "vec_id", "embedding", 0.35)
      .orderBy("id_a", "id_b")

  private val a2Sql: String = {
    val planeExpr =
      s"""list_transform(range(0, ${AnnSearch.Dim}),
         |      c -> (CAST(${hex60Sql("CAST(t AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ',' || CAST(c AS VARCHAR)")} % 2001 AS DOUBLE) - 1000.0) / 1000.0)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 500),
       |planes AS (
       |  SELECT t, j, $planeExpr AS w
       |  FROM range(${AnnSearch.Tables}) tt(t) CROSS JOIN range(${AnnSearch.Planes}) jj(j)),
       |sigs AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN list_dot_product(emb, w) > 0
       |        THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END) AS sig
       |  FROM e CROSS JOIN planes GROUP BY vec_id, t),
       |nr AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |n AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS nemb FROM nr),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sigs a JOIN sigs b
       |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ROUND(list_dot_product(na.nemb, nb.nemb), 6) AS cos
       |  FROM pairs
       |  JOIN n na ON na.vec_id = id_a
       |  JOIN n nb ON nb.vec_id = id_b)
       |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** a4 similarity threshold: the synthetic embeddings are near-uniform
    * (max pairwise cosine ≈ 0.44 — a2's note), so 0.3 keeps the demo
    * non-vacuous; production corpora run ~0.95+ per the paper. */
  private val A4Threshold = 0.3

  /** a4: SEMANTIC dedup, cluster-blocked (the SemDeDup recipe — Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): k-means the embeddings (the i1 coarse
    * quantizer, same oracle-unrolled Lloyd), compare pairs ONLY within a
    * cluster, connect pairs above the cosine threshold into groups, and
    * keep one representative per group (min id — c1's rule). This is
    * the embedding-space complement of MinHash dedup: near-duplicate
    * MEANING (paraphrases, translations, re-renders) that shares no
    * shingles. Scale story: the cluster blocking bounds the quadratic
    * term to Σ|cluster|² — k is chosen so clusters fit the budget —
    * and norms are computed once per row, never per pair. Bounded to
    * the a2 demo block (vec_id < 500). Output: per-cluster document
    * and drop counts. Oracle: the shared ivfCtes chain + within-cluster
    * pair join + the c1 recursive-CTE components, replayed end to end. */
  def a4SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try semDedupRollup(s, idx) finally idx.close()
  }

  /** The semdedup sweep over an already-built (or already-LANDED) IVF
    * index — a4's everything-after-training: within-list pair join at
    * cosine ≥ [[A4Threshold]], connected components, min-id-wins drops,
    * per-list rollup. ONE implementation shared by a4 (trains per call —
    * the pricing shape) and a8 (serves from the landed index). Returns a
    * materialized frame (bounded — [[IvfK]] rows) so the caller may
    * close the index immediately. */
  private def semDedupRollup(s: SparkSession,
      idx: IvfSearch.Index): DataFrame = {
    val res = rollupVerdicts(semDedupVerdicts(s, idx))
    // bounded (IvfK rows): materialize before the caller closes the index
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** The within-list near-duplicate PAIRS of an IVF-blocked sweep —
    * (id_a, id_b) at cosine ≥ [[A4Threshold]], a.id < b.id. The
    * quadratic term every semantic sweep pays; a9 lands its output so
    * serves never re-pay it. */
  private def semDedupPairs(s: SparkSession, idx: IvfSearch.Index): DataFrame = {
    graft.functions.DotProduct.register(s)
    val dot = graft.functions.DotProduct.dotProduct _
    // norm once per row — the pair join must never recompute ||x||
    val asg = idx.assignments
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    asg.as("a")
      .join(asg.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") < col("b.id"))
      .withColumn("cos", round(
        dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= A4Threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Per-id sweep VERDICTS — (id, centroid_id, dropped): the pair graph
    * collapsed to components, min-id-wins. ONE implementation under
    * a4 (trains per call), a8 (index at rest), and a9 (verdicts at
    * rest) — the three cannot drift. */
  private def semDedupVerdicts(s: SparkSession,
      idx: IvfSearch.Index): DataFrame =
    verdictsFromPairs(idx, semDedupPairs(s, idx))

  /** (id, centroid_id, dropped) off an explicit pair frame — shared by
    * the in-memory path and a9's build, where the pairs come back off
    * the just-landed log so the verdicts trace to the exact audit
    * trail sitting next to them. */
  private def verdictsFromPairs(idx: IvfSearch.Index,
      pairs: DataFrame): DataFrame = {
    val dropped = graft.operators.ConnectedComponents.components(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id"), lit(1L).as("drp"))
    idx.assignments.select(col("id"), col("centroid_id"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("centroid_id"),
        coalesce(col("drp"), lit(0L)).as("dropped"))
  }

  /** a4's per-cluster histogram off a verdict table — longs in, longs
    * out, so a verdicts round-trip through parquet reproduces a4's
    * in-memory rollup bit for bit. */
  private def rollupVerdicts(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).as("n_dropped"))
      .orderBy("centroid_id")

  /** a8: a4's sweep SERVED from an at-rest IVF index — the k-means
    * train (the 9-of-9.2 s of a4's wall) lands once per embeddings
    * fingerprint ([[IvfSearch.saveIndex]]'s centroid table +
    * centroid_id-partitioned inverted file, the i5 layout under the
    * c12/k6 marker-last discipline); every sweep after the first reads
    * the landed assignments and pays only the within-list pair join +
    * components. Same oracle as a4, bit for bit — training is
    * deterministic, and the landed doubles round-trip parquet exactly.
    * a4 stays the row that prices its own training. */
  def a8SemDedupAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = artifactRoot("a8", dataFingerprint(dir, Seq("embeddings")))
    buildOnce("a8", root, "_INDEX_OK") {
      val t = s.newSession()
      val e = Tables(t, dir, "embeddings").filter(col("vec_id") < 500)
      val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
        k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
      try IvfSearch.saveIndex(idx, root.resolve("index").toString)
      finally idx.close()
    }
    // persist the loaded inverted file for the sweep's three scans (both
    // sides of the within-list self-join + the rollup) — a4 pays these
    // from buildIndex's persisted assignments, so the serve must not
    // re-read the parquet redundantly; the rollup materializes (bounded,
    // IvfK rows), so close() can unpersist immediately after
    val idx = IvfSearch.loadIndex(s, root.resolve("index").toString)
    idx.assignments.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try semDedupRollup(s, idx) finally idx.close()
  }

  /** a9: the semantic-dedup sweep VERDICTS at rest — the last recurring
    * cost in the family gone. a8 serves the INDEX but still pays the
    * within-list pair join + connected components on every sweep (the
    * heaviest recurring non-pricing cost, ~3.6 s quiet at sf0.1); a9
    * lands the pair log (the audit trail release reviews read) and the
    * per-id component verdicts ONCE per (embeddings fingerprint,
    * threshold) — the mm14/mm15 at-rest gate posture, marker-last under
    * the family lock — and serves a4's per-cluster rollup as a columnar
    * scan of [[IvfK]]-bounded long rows. The threshold rides the
    * fingerprint key: a retuned threshold is a different artifact, and
    * [[artifactRoot]]'s stale-fingerprint prune evicts the old one.
    * Bit-equal to a4 by construction: verdicts are longs (lossless
    * through parquet) and the rollup is [[rollupVerdicts]] — the same
    * aggregate a4 runs in memory. a4 prices the train, a8 the sweep,
    * a9 the serve. */
  def a9SemDedupVerdictsAtRest(s: SparkSession, dir: String): DataFrame = {
    val fp = dataFingerprint(dir, Seq("embeddings")) +
      "_t" + math.round(A4Threshold * 100)
    val root = artifactRoot("a9", fp)
    buildOnce("a9", root, "_VERDICTS_OK") {
      val t = s.newSession()
      val e = Tables(t, dir, "embeddings").filter(col("vec_id") < 500)
      val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
        k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
      try {
        semDedupPairs(t, idx).write.mode("overwrite")
          .parquet(root.resolve("pairs").toString)
        // components re-derive from the landed pair log — the verdicts
        // a reader audits trace to the exact pairs sitting next to them
        verdictsFromPairs(idx,
            t.read.parquet(root.resolve("pairs").toString))
          .write.mode("overwrite")
          .parquet(root.resolve("verdicts").toString)
      } finally idx.close()
    }
    rollupVerdicts(s.read.parquet(root.resolve("verdicts").toString))
  }

  /** a7's eval/train split inside the a2/a4 demo block: ids below are
    * the held-out benchmark, at-or-above the training corpus. */
  private val A7EvalCut = 50L

  /** a7: SEMANTIC decontamination — the embedding-space complement of
    * c2's n-gram sweep: an eval item whose MEANING appears in the
    * training corpus (paraphrase, translation, re-render) leaks the
    * benchmark even when no n-gram overlaps, so modern pipelines run
    * both. Each eval vector probes the IVF index (i1's route — the
    * [[IvfNprobe]] nearest inverted lists) and compares against the
    * TRAIN members of the probed lists only; a train neighbor at
    * cosine ≥ [[A4Threshold]] marks contamination. Output per eval
    * item: candidates checked and contaminated-neighbor count — the
    * audit a release gate reads before publishing a benchmark split.
    * Scale shape: identical to serving ANN queries (eval sets are
    * tiny → broadcast probe; only probed lists are touched); at 100 TB
    * this is THE way to decontaminate against a corpus too large to
    * pair-join. Oracle replays the quantizer, the routing, the train
    * filter, and the threshold count through the shared ivfCtes chain. */
  def a7SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val dot = graft.functions.DotProduct.dotProduct _
    val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val evalQ = e.filter(col("vec_id") < A7EvalCut)
      val probed = IvfSearch.route(evalQ, idx, "vec_id", "embedding", IvfNprobe)
      val cands = broadcast(probed)
        .join(idx.assignments, Seq("centroid_id"))
        .filter(col("id") >= A7EvalCut) // only TRAIN docs can contaminate
        .withColumn("cos", round(
          dot(col("q_emb"), col("emb")) /
            (sqrt(dot(col("q_emb"), col("q_emb"))) *
              sqrt(dot(col("emb"), col("emb")))), 6))
      val agg = cands.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("cos") >= A4Threshold, 1L).otherwise(0L))
            .as("n_contaminated"))
      val res = evalQ.select(col("vec_id").as("eval_id"))
        .join(agg.withColumnRenamed("q_id", "eval_id"), Seq("eval_id"), "left")
        .select(col("eval_id"),
          coalesce(col("n_checked"), lit(0L)).as("n_checked"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
        .orderBy("eval_id")
      // bounded (|eval| rows): materialize before closing the index
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  private lazy val a7Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb
       |  FROM embeddings WHERE vec_id < 500),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < $A7EvalCut),
       |$ivfCtes,
       |cands AS (
       |  SELECT pr.q_id, pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id >= $A7EvalCut),
       |scored AS (
       |  SELECT q_id,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM cands),
       |agg AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_checked,
       |    CAST(SUM(CASE WHEN cos >= $A4Threshold THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_contaminated
       |  FROM scored GROUP BY q_id)
       |SELECT q.q_id AS eval_id,
       |  COALESCE(agg.n_checked, 0) AS n_checked,
       |  COALESCE(agg.n_contaminated, 0) AS n_contaminated
       |FROM q LEFT JOIN agg ON agg.q_id = q.q_id
       |ORDER BY eval_id""".stripMargin

  /** a5 arrival split: the coarse quantizer trains on vectors below
    * this id; everything at or above arrives across the waves. */
  private val A5Split = 350L
  private val A5Waves = 3

  /** a5: a4's semantic dedup maintained ROLLING across ingest waves —
    * the embedding-space c14. Drives the SAME
    * [[graft.streaming.StreamOps.semDedupBatch]] code path the
    * streaming gate runs per micro-batch: each wave's vectors are
    * assigned to the FROZEN coarse quantizer (trained on the static
    * block only — retraining stays i10's audit event), cosine-compared
    * ONLY against same-cluster members (static inverted file ∪ landed
    * earlier-wave deltas ∪ the wave itself), and the pairs advance the
    * dedup groups by star-collapse. Because the per-wave sweeps surface
    * every frozen-cluster pair touching an arrival exactly once and the
    * seed covers static-internal pairs, the final labels equal a
    * from-scratch a4-style clustering of the whole block under the
    * frozen quantizer — the oracle is a4's recursive-CTE SQL over the
    * `et`-trained chain. Output: a4's per-cluster histogram shape. */
  def a5RollingSemDedup(s: SparkSession, dir: String): DataFrame =
    driveSemWaves(s, dir) { (e, idx, _, labels, _) =>
      val dropped = labels.filter(col("id") =!= col("component"))
        .select(col("id"), lit(1L).as("drp"))
      val all = IvfSearch.assign(
        e.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb")), idx.centroids)
      all.select(col("id"), col("centroid_id"))
        .join(dropped, Seq("id"), "left")
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("drp"), lit(0L))).as("n_dropped"))
        .orderBy("centroid_id")
    }

  /** The a5/a6 wave-driver scaffold (the c14/c17 factoring replayed in
    * embedding space): frozen quantizer trained on the static block,
    * seed labels from the static block's own within-cluster pairs,
    * [[A5Waves]] [[graft.streaming.StreamOps.semDedupBatch]] waves over
    * the arrivals — then `finish(e, idx, seed, finalLabels, statePath)`
    * shapes the bounded result, MATERIALIZED before the temp state
    * deletes (an as-of finish reads frontier snapshots from
    * `statePath`, the c20 convention). */
  private def driveSemWaves(s: SparkSession, dir: String)(
      finish: (DataFrame, IvfSearch.Index, DataFrame, DataFrame, String)
        => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_a5_").toString
    var idx: IvfSearch.Index = null
    try {
      val (e, i, seed, labels) = driveSemWavesInto(s, dir, s"$root/state")
      idx = i
      val res = finish(e, idx, seed, labels, s"$root/state")
      // bounded result: materialize before temp state is deleted
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      if (idx != null) idx.close()
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  /** The wave-drive core shared by [[driveSemWaves]] (temp state, the
    * a5 pricing run) and [[a5SharedRoot]] (persistent state, the a6
    * lineage artifact). Returns (vectors, frozen index, seed labels,
    * final labels); the CALLER closes the index on SUCCESS — on any
    * failure after the index is built (a wave throwing mid-drive) this
    * closes it itself, so the caller never holds a handle it cannot
    * reach. */
  private def driveSemWavesInto(s: SparkSession, dir: String,
      statePath: String): (DataFrame, IvfSearch.Index, DataFrame, DataFrame) = {
    import graft.streaming.StreamOps
    graft.functions.DotProduct.register(s)
    val dot = graft.functions.DotProduct.dotProduct _
    val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
    val idx = IvfSearch.buildIndex(e.filter(col("vec_id") < A5Split),
      "vec_id", "embedding", k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      // seed: the static block's own within-cluster groups (norms once)
      val asg = idx.assignments
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      val seedPairs = asg.as("a")
        .join(asg.as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.id") < col("b.id"))
        .withColumn("cos", round(
          dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 6))
        .filter(col("cos") >= A4Threshold)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val seed = graft.operators.ConnectedComponents.components(seedPairs)
        .localCheckpoint()
      var labels = seed
      (0 until A5Waves).foreach { b =>
        val batch = e.filter(col("vec_id") >= A5Split &&
          pmod(col("vec_id"), lit(A5Waves.toLong)) === b.toLong)
        labels = StreamOps.semDedupBatch(batch, idx.centroids,
          idx.assignments, seed, "vec_id", "embedding", A4Threshold,
          statePath, b.toLong)
      }
      (e, idx, seed, labels)
    } catch {
      case t: Throwable => idx.close(); throw t
    }
  }

  /** a5's wave protocol landed AT MOST ONCE per corpus fingerprint (the
    * c18s discipline in embedding space): a sibling session drives the
    * three [[graft.streaming.StreamOps.semDedupBatch]] waves into a
    * persistent root; the a6 lineage read serves from the snapshots
    * instead of re-driving the ingest per call (~10 s of the sf0.1
    * bench). a5 itself keeps its self-contained drive — it exists to
    * PRICE the rolling protocol; a6 exists to read its history. A
    * marker-less root is deleted before rebuild (the k13s rule for
    * multi-batch builders over snapshot-family state). */
  private def a5SharedRoot(s: SparkSession, dir: String): String = {
    val root = artifactRoot("a5s", dataFingerprint(dir, Seq("embeddings")))
    buildOnce("a5s", root) {
      graft.sources.Sources.deleteRecursively(root.toFile)
      val t = s.newSession()
      val (_, idx, _, _) =
        driveSemWavesInto(t, dir, root.resolve("state").toString)
      idx.close()
    }
    root.toString
  }

  /** a6: TIME-TRAVEL read of the semantic dedup state — a5's rolling
    * labels driven through all three waves (once per corpus
    * fingerprint, [[a5SharedRoot]]), then the `sem_labels` table AS OF
    * waves 1 and 2 ([[graft.streaming.StreamOps.semLabelsAsOf]] — a
    * snapshot pick within the keep=2 retention) rolled up per dedup
    * group, the c20 shape in embedding space: which vectors were
    * semantic duplicates when batch N was the frontier. The oracle
    * closes each frontier's arrival-filtered cosine pairs (a pair
    * surfaces once BOTH endpoints arrived; static ids are always live)
    * over the frozen-quantizer chain — a snapshot that leaked any
    * wave-2 pair goes red. The seed fallback is a loud error: under a
    * marked artifact both frontiers have landed snapshots. */
  def a6AsofSemDedup(s: SparkSession, dir: String): DataFrame = {
    val state = s"${a5SharedRoot(s, dir)}/state"
    def frontier(n: Long) = graft.streaming.StreamOps.semLabelsAsOf(
        s, state,
        sys.error("a5s: seed fallback triggered — snapshot state missing " +
          "under a marked artifact (corrupt a5s root?)"),
        org.apache.spark.sql.types.LongType, asOf = n)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit(n).as("as_of"), col("component"), col("n_docs"))
    val res = frontier(1L).unionByName(frontier(2L))
      .orderBy("as_of", "component")
    // bounded (per-cluster rollup): materialize before returning — a
    // lazy frame over the shared a5s directory could have its files
    // pruned by a corpus-fingerprint change before the caller executes
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** a4's oracle over the `et`-trained (frozen-quantizer) chain — the
    * labels the rolling path must reproduce from scratch. */
  private lazy val a5Sql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings
       |  WHERE vec_id < 500),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |et AS (SELECT id, emb FROM e WHERE id < $A5Split),
       |${ivfCtesOver("et")},
       |nr AS (SELECT id, cid, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM af),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM nr a JOIN nr b ON a.cid = b.cid AND a.id < b.id
       |  WHERE ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6)
       |    >= $A4Threshold),
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |drp AS (SELECT id FROM comp WHERE id <> component)
       |SELECT af.cid AS centroid_id, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN drp.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM af LEFT JOIN drp ON af.id = drp.id
       |GROUP BY af.cid ORDER BY af.cid""".stripMargin

  /** a6's oracle: a5's frozen-quantizer cosine-pair chain, closed PER
    * FRONTIER over arrival-filtered pairs (the c20 frontier-closure
    * convention in embedding space) — a pair has surfaced by wave N iff
    * both endpoints arrived (static ids below [[A5Split]] are always
    * live; a stream id arrives at wave id mod [[A5Waves]]). */
  private lazy val a6Sql: String = {
    def frontier(n: Int): String =
      s"""f$n AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE (id_a < $A5Split OR id_a % $A5Waves <= $n)
         |    AND (id_b < $A5Split OR id_b % $A5Waves <= $n)),
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
    def rollup(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, component, COUNT(*) AS n_docs
         |FROM cl$n GROUP BY component""".stripMargin
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings
       |  WHERE vec_id < 500),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |et AS (SELECT id, emb FROM e WHERE id < $A5Split),
       |${ivfCtesOver("et")},
       |nr AS (SELECT id, cid, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM af),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM nr a JOIN nr b ON a.cid = b.cid AND a.id < b.id
       |  WHERE ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6)
       |    >= $A4Threshold),
       |${frontier(1)},
       |${frontier(2)}
       |${rollup(1)}
       |UNION ALL
       |${rollup(2)}
       |ORDER BY as_of, component""".stripMargin
  }

  // lazy: ivfCtes is declared further down the object — an eager val
  // here would interpolate its pre-initialization null (the c14Sql trap)
  private lazy val a4Sql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings
       |  WHERE vec_id < 500),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$ivfCtes,
       |nr AS (SELECT id, cid, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM af),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM nr a JOIN nr b ON a.cid = b.cid AND a.id < b.id
       |  WHERE ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6)
       |    >= $A4Threshold),
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |drp AS (SELECT id FROM comp WHERE id <> component)
       |SELECT af.cid AS centroid_id, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN drp.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM af LEFT JOIN drp ON af.id = drp.id
       |GROUP BY af.cid ORDER BY af.cid""".stripMargin

  // i1 constants shared by the Spark query and its SQL replay
  private[graft] val IvfK = 8       // coarse centroids
  private[graft] val IvfIters = 2   // Lloyd iterations (unrolled in the oracle)
  private[graft] val IvfNprobe = 3  // inverted lists probed per query
  private[graft] val IvfTopK = 5
  private[graft] val IvfRound = 6   // centroid-mean rounding (engine portability)

  /** i1: IVF (k-means inverted-file) approximate cosine top-5 for the
    * same 3 query vectors as v1/a1. The deterministic Lloyd fit (lowest-id
    * init, cid tie-break, round-6 means) is fully replayed by the oracle —
    * each iteration is unrolled into assignment + per-dimension mean CTEs,
    * so the clustering itself is hash-verified, not just the final ranks. */
  def i1IvfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val res = IvfSearch.approxTopK(e.filter(col("vec_id") < 3), idx,
          "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe)
        .orderBy("q_id", "rk")
      // materialize before closing the index so the cached inverted file
      // is released here, not leaked to the caller; the result is bounded
      // (|queries|·k = 15 rows), so this collect is a final-answer collect,
      // same class as Bench/Verify's own materialization
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  /** i12 shortlist size: full precision is touched for this many rows
    * per query after the 1-bit coarse pass (v8's pool convention). */
  private val I12Pool = 20

  /** i12: IVF + BINARY QUANTIZATION + exact rerank — the quantization ×
    * index matrix completed: i3 runs PQ-ADC inside the probed lists,
    * v8 runs SQ8 over the whole corpus, v13 audits raw BQ recall; this
    * row serves the production composition — probe the nprobe nearest
    * inverted lists, coarse-rank the candidates by sign-bit Hamming
    * (the 64×-compressed scan a BQ-encoded inverted file runs), keep
    * [[I12Pool]] per query, exact-rerank with the shared cosine tail
    * ([[IvfSearch.approxTopKBq]]). Every stage deterministic (integer
    * Hamming, round-6 cosine, id tie-breaks), so the oracle replays the
    * full quantizer→probe→shortlist→rerank chain. */
  def i12IvfBqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val res = IvfSearch.approxTopKBq(e.filter(col("vec_id") < 3), idx,
          "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe,
          pool = I12Pool)
        .orderBy("q_id", "rk")
      // bounded (|q|·k rows): materialize before closing the index
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  private lazy val i12Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$ivfCtes,
       |cands AS (
       |  SELECT pr.q_id, pr.q_emb, a.id, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |hs AS (
       |  SELECT q_id, q_emb, id, emb,
       |    CAST(len(list_filter(range(1, ${AnnSearch.Dim} + 1),
       |      i -> (q_emb[CAST(i AS INTEGER)] > 0) <> (emb[CAST(i AS INTEGER)] > 0)))
       |      AS BIGINT) AS ham
       |  FROM cands),
       |pool AS (
       |  SELECT q_id, q_emb, id, emb FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY ham ASC, id) AS crk
       |    FROM hs) z
       |  WHERE crk <= $I12Pool),
       |scored AS (
       |  SELECT q_id, id AS neighbor,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM pool),
       |ranked AS (
       |  SELECT q_id, neighbor, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |  FROM scored)
       |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= $IvfTopK
       |ORDER BY q_id, rk""".stripMargin

  /** Sequential-fold squared-L2 expansion both engines compute
    * identically (shared by the i1/i2/i3 oracle fragments). */
  private def sqlDist2(a: String, b: String) =
    s"list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b) + list_dot_product($b, $b)"

  /** Shared IVF coarse-quantizer CTE chain: `c0` (lowest-id init), the
    * unrolled deterministic Lloyd iterations, `af` = final (id, emb, cid)
    * assignment, and `pr` = per-query routing to the $IvfNprobe nearest
    * lists. Expects `e(id, emb)` and `q(q_id, q_emb)` CTEs upstream;
    * consumed by the i1 oracle and re-consumed verbatim by i3 so the
    * composed stack replays the SAME clustering text. */
  private[graft] val ivfCtes: String = ivfCtesOver("e")

  /** The same chain with a caller-chosen TRAINING table (i8 trains the
    * quantizer on `et`, the pre-increment corpus, while `af` still
    * assigns every row of `e` — the frozen-centroid incremental-index
    * form). `ivfCtes` (train == assign == `e`) is the zero-arg instance
    * every earlier consumer replays verbatim. */
  private[queries] def ivfCtesOver(train: String, prefix: String = ""): String = {
    // `prefix` namespaces every CTE this chain declares (${prefix}c0 …
    // ${prefix}af/${prefix}pr) so TWO quantizer chains can coexist in
    // one WITH — i10 composes the full-retrain chain and the `et`-frozen
    // grown chain side by side. The default "" keeps the zero-prefix
    // text every earlier consumer (i1/i3/i5/i6/i7/i8/i9/a4) replays
    // byte-identical.
    val p = prefix
    val D = AnnSearch.Dim
    val iterCtes = (1 to IvfIters).map { i =>
      s"""${p}a$i AS (
         |  SELECT id, emb, cid FROM (
         |    SELECT e.id, e.emb, cc.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.id
         |        ORDER BY ${sqlDist2("e.emb", "cc.c")}, cc.cid) AS rn
         |    FROM $train e CROSS JOIN ${p}c${i - 1} cc) z WHERE rn = 1),
         |${p}n$i AS (
         |  SELECT cid, list(m ORDER BY j) AS c FROM (
         |    SELECT cid, j, ROUND(AVG(emb[CAST(j AS INTEGER) + 1]), $IvfRound) AS m
         |    FROM ${p}a$i CROSS JOIN range($D) t(j) GROUP BY cid, j) z GROUP BY cid),
         |${p}c$i AS (
         |  SELECT p.cid, COALESCE(n.c, p.c) AS c
         |  FROM ${p}c${i - 1} p LEFT JOIN ${p}n$i n ON p.cid = n.cid)""".stripMargin
    }.mkString(",\n")
    s"""${p}c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INTEGER) - 1 AS cid, emb AS c
       |  FROM (SELECT id, emb FROM $train ORDER BY id LIMIT $IvfK) s),
       |$iterCtes,
       |${p}af AS (
       |  SELECT id, emb, cid FROM (
       |    SELECT e.id, e.emb, cc.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY ${sqlDist2("e.emb", "cc.c")}, cc.cid) AS rn
       |    FROM e CROSS JOIN ${p}c$IvfIters cc) z WHERE rn = 1),
       |${p}pr AS (
       |  SELECT q_id, q_emb, cid, rn FROM (
       |    SELECT q.q_id, q.q_emb, cc.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${sqlDist2("q.q_emb", "cc.c")}, cc.cid) AS rn
       |    FROM q CROSS JOIN ${p}c$IvfIters cc) z WHERE rn <= $IvfNprobe)""".stripMargin
  }

  private val i1Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$ivfCtes,
       |cands AS (
       |  SELECT pr.q_id, pr.q_emb, a.id AS neighbor, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |scored AS (
       |  SELECT q_id, neighbor,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM cands),
       |ranked AS (
       |  SELECT q_id, neighbor, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |  FROM scored)
       |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= $IvfTopK
       |ORDER BY q_id, rk""".stripMargin

  /** i6: IVF recall audit — recall@$IvfTopK vs the exact brute-force
    * answer at every nprobe in 1..$IvfNprobe, the table that justifies
    * (or indicts) the routing budget the way m3/c8 calibrate the
    * MinHash tier. Both the approximate and exact sides reuse their
    * oracle-pinned derivations (the shared ivfCtes routing — `pr` keeps
    * the probe rank so one chain serves every nprobe — and v1's
    * cosine-top-k shape), so the recall numbers themselves replay
    * bit-for-bit on the exact ppm grid. Scale shape: the brute side is
    * the |q|·|corpus| broadcast scoring pass (ground truth is priced
    * once, not per nprobe); each approximate side scans only the probed
    * lists; the report is 3 rows. */
  def i6IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try recallAudit(s, e, idx)
    finally idx.close()
  }

  /** The recall@$IvfTopK-per-nprobe audit body shared by i6 (index over
    * the full corpus) and i9 (the i8-grown index): brute-force ground
    * truth priced once, each nprobe's approximate side scans only its
    * probed lists, MATERIALIZED before the caller closes the index. */
  private def recallAudit(s: SparkSession, e: DataFrame,
                          idx: IvfSearch.Index): DataFrame =
    recallAuditAgainst(s, e, idx, bruteTopK(s, e))

  /** Exact full-corpus top-$IvfTopK (q_id, neighbor) ground truth — the
    * |q|·|corpus| broadcast scoring pass every recall audit compares
    * against. Split out so i10 can price it ONCE for the two audits it
    * runs (grown + retrained) instead of once per audit. */
  private def bruteTopK(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.DotProduct.register(s)
    val dot = graft.functions.DotProduct.dotProduct _
    val eb = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = eb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val scored = broadcast(q).join(eb, col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfTopK)
      .select(col("q_id"), col("vec_id").as("neighbor"))
  }

  private def recallAuditAgainst(s: SparkSession, e: DataFrame,
      idx: IvfSearch.Index, brute: DataFrame): DataFrame = {
    val apx = (1 to IvfNprobe).map { np =>
      IvfSearch.approxTopK(e.filter(col("vec_id") < 3), idx,
          "vec_id", "embedding", k = IvfTopK, nprobe = np)
        .select(lit(np).as("nprobe"), col("q_id"), col("neighbor"))
    }.reduce(_ unionByName _)
    val res = apx.join(brute, Seq("q_id", "neighbor"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_ppm",
        expr(s"(1000000 * n_hits) div ${3 * IvfTopK}"))
      .orderBy("nprobe")
    // bounded (IvfNprobe rows): materialize before closing the index
    s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** The i6 recall-audit SQL over a caller-chosen quantizer chain —
    * `preCtes` injects the training-subset CTE (i9's `et`), `chain` is
    * the matching `ivfCtesOver` instance; i6 passes the zero-arg pair. */
  private def recallSqlOver(preCtes: String, chain: String): String = {
    val cos = (a: String, b: String) =>
      s"ROUND(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$preCtes$chain,
       |bf AS (
       |  SELECT q_id, neighbor FROM (
       |    SELECT q.q_id, e2.id AS neighbor,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cos("q.q_emb", "e2.emb")} DESC, e2.id) AS rk
       |    FROM q CROSS JOIN e e2 WHERE e2.id <> q.q_id) z
       |  WHERE rk <= $IvfTopK),
       |npv AS (SELECT unnest([${(1 to IvfNprobe).mkString(", ")}]) AS nprobe),
       |apx AS (
       |  SELECT nprobe, q_id, neighbor FROM (
       |    SELECT n.nprobe, pr.q_id, a.id AS neighbor,
       |      ROW_NUMBER() OVER (PARTITION BY n.nprobe, pr.q_id
       |        ORDER BY ${cos("pr.q_emb", "a.emb")} DESC, a.id) AS rk
       |    FROM npv n
       |    JOIN pr ON pr.rn <= n.nprobe
       |    JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id) z
       |  WHERE rk <= $IvfTopK)
       |SELECT nprobe, COUNT(*) AS n_hits,
       |  CAST((1000000 * COUNT(*)) // ${3 * IvfTopK} AS BIGINT) AS recall_ppm
       |FROM apx JOIN bf USING (q_id, neighbor)
       |GROUP BY nprobe ORDER BY nprobe""".stripMargin
  }

  private val i6Sql: String = recallSqlOver("", ivfCtes)

  /** i7: FILTERED vector search — same-label cosine top-$IvfTopK for the
    * v1/a1/i1 query vectors through [[IvfSearch.approxTopKFiltered]]
    * (constrained retrieval: "nearest neighbors of my class", the
    * contrastive-positive mining / same-tenant serving pattern), audited
    * per row with `in_exact` = membership in the exact filtered
    * brute-force top-$IvfTopK. The pre-filter strategy is the one that
    * scales: the label predicate prunes candidates BETWEEN probe and
    * scoring, so the top-k budget is spent entirely inside the allowed
    * subset — a post-filter over i1's unfiltered answer would keep only
    * the accidental same-label survivors (and return short lists), and
    * the audit column would expose it. Routing/clustering replay the
    * SAME oracle-pinned ivfCtes chain as i1/i3/i5/i6 — one clustering,
    * five oracle-checked consumers. */
  def i7FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val dot = graft.functions.DotProduct.dotProduct _
    val e = Tables(s, dir, "embeddings")
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val meta = e.select(col("vec_id"), col("label"))
      val apx = IvfSearch.approxTopKFiltered(e.filter(col("vec_id") < 3), idx,
        "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe,
        meta = meta, matchCol = "label")
      // exact filtered ground truth: brute-force cosine within the
      // query's label class (the audit side — priced once, |q|·|class|)
      val eb = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val q = eb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("label").as("q_label"))
      val scored = broadcast(q)
        .join(eb, col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
        .withColumn("cos",
          round(dot(col("q_emb"), col("emb")) /
            (sqrt(dot(col("q_emb"), col("q_emb"))) *
              sqrt(dot(col("emb"), col("emb")))), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
      val brute = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= IvfTopK)
        .select(col("q_id"), col("vec_id").as("neighbor"), lit(1).as("in_exact"))
      val res = apx.join(brute, Seq("q_id", "neighbor"), "left")
        .select(col("q_id"), col("rk"), col("neighbor"), col("cos"),
          coalesce(col("in_exact"), lit(0)).as("in_exact"))
        .orderBy("q_id", "rk")
      // bounded (|q|·k = 15 rows): materialize before closing the index
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx.close()
  }

  private val i7Sql: String = {
    val cos = (a: String, b: String) =>
      s"ROUND(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$ivfCtes,
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |ql AS (SELECT q.q_id, l.label AS q_label FROM q JOIN lab l ON l.id = q.q_id),
       |cands AS (
       |  SELECT pr.q_id, pr.q_emb, a.id AS neighbor, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id
       |  JOIN lab ON lab.id = a.id
       |  JOIN ql ON ql.q_id = pr.q_id AND lab.label = ql.q_label),
       |ranked AS (
       |  SELECT q_id, neighbor, cos, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |  FROM (SELECT q_id, neighbor, ${cos("q_emb", "emb")} AS cos FROM cands) z),
       |bf AS (
       |  SELECT q_id, neighbor FROM (
       |    SELECT q.q_id, e2.id AS neighbor,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cos("q.q_emb", "e2.emb")} DESC, e2.id) AS rk
       |    FROM q
       |    JOIN ql ON ql.q_id = q.q_id
       |    JOIN lab l2 ON l2.label = ql.q_label
       |    JOIN e e2 ON e2.id = l2.id AND e2.id <> q.q_id) z
       |  WHERE rk <= $IvfTopK)
       |SELECT r.q_id, r.rk, r.neighbor, r.cos,
       |  CASE WHEN bf.neighbor IS NOT NULL THEN 1 ELSE 0 END AS in_exact
       |FROM ranked r LEFT JOIN bf ON bf.q_id = r.q_id AND bf.neighbor = r.neighbor
       |WHERE r.rk <= $IvfTopK
       |ORDER BY r.q_id, r.rk""".stripMargin
  }

  /** i8 arrival split: the coarse quantizer trains on vectors below this
    * id; everything at or above arrives AFTER the index is built. */
  private[queries] val I8TrainEnd = 400L

  /** i8: INCREMENTAL IVF indexing — late-arriving vectors are ASSIGNED
    * to the frozen coarse quantizer (one broadcast-centroid argmin pass,
    * exactly [[IvfSearch.assign]] — the same pass the trainer's final
    * step runs) and appended to the inverted lists; queries then probe
    * the GROWN index. This is how a production IVF serves a growing
    * corpus: assignment is append-only and embarrassingly parallel,
    * retraining is a scheduled event when the recall audit (i6) says
    * the centroids have drifted — never a per-batch cost. Completes the
    * incremental trio: c9/c12 grow the dedup index by deltas, c13 grows
    * the components by star-collapse, i8 grows the ANN index by
    * assignment. The oracle replays the split exactly — Lloyd unrolled
    * over the PRE-ARRIVAL subset only, assignment over everything —
    * via the parameterized ivfCtes chain. */
  def i8IncrementalIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx0 = IvfSearch.buildIndex(e.filter(col("vec_id") < I8TrainEnd),
      "vec_id", "embedding", k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val late = e.filter(col("vec_id") >= I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      val grown = IvfSearch.Index(idx0.centroids,
        idx0.assignments.unionByName(IvfSearch.assign(late, idx0.centroids)))
      val res = IvfSearch.approxTopK(e.filter(col("vec_id") < 3), grown,
          "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe)
        .orderBy("q_id", "rk")
      // bounded (|q|·k = 15 rows): materialize before closing the index
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally idx0.close()
  }

  /** i9: recall audit ON THE GROWN INDEX — i6's recall@k-per-nprobe
    * table recomputed for i8's construction (quantizer frozen on the
    * pre-arrival subset, every vector assigned). THIS is the number
    * i8's scaladoc defers retraining to: as arrivals drift away from
    * the frozen centroids, the grown index's recall decays below the
    * full-retrain baseline (i6's table), and the gap between the two
    * tables IS the retrain trigger — a scheduled decision read off two
    * bounded reports, never a per-batch cost. Ground truth is the same
    * full-corpus brute force as i6 (the grown index must find
    * neighbors among ALL vectors, late arrivals included), so the
    * audit also proves the deltas are probe-visible. Oracle: i6's
    * recall SQL over the parameterized `et`-trained chain. */
  def i9GrownRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val idx0 = IvfSearch.buildIndex(e.filter(col("vec_id") < I8TrainEnd),
      "vec_id", "embedding", k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val late = e.filter(col("vec_id") >= I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      val grown = IvfSearch.Index(idx0.centroids,
        idx0.assignments.unionByName(IvfSearch.assign(late, idx0.centroids)))
      recallAudit(s, e, grown)
    } finally idx0.close()
  }

  // lazy: I8TrainEnd is declared above but ivfCtesOver/recallSqlOver are
  // methods on vals declared earlier in the object — keep the
  // interpolation deferred so declaration order can never zero a bound
  private lazy val i9Sql: String = recallSqlOver(
    s"et AS (SELECT id, emb FROM e WHERE id < $I8TrainEnd),\n",
    ivfCtesOver("et"))

  /** i10 trigger threshold: retrain fires when the grown index's recall
    * trails the full-retrain baseline by more than this at ANY nprobe
    * (50000 ppm = 5 recall points — half the i8 arrival wave's measured
    * decay at nprobe=1, so the fixture demonstrably fires). Pinned and
    * interpolated into the oracle so both engines take the same branch. */
  private val RetrainGapPpm = 50000L

  /** i10: the retrain loop CLOSED — the audit-driven retrain event i8's
    * design defers to, end to end. i9 measures grown-index recall and
    * calls the i6-vs-i9 gap "the retrain trigger"; this query fires it:
    * both recall tables are computed against ONE brute-force ground
    * truth ([[bruteTopK]] — priced once, not per audit), the per-nprobe
    * gap is the drift measurement, and when any gap exceeds
    * $RetrainGapPpm the full-corpus retrain's recall is emitted as the
    * recovery (`recovered_ppm` = the retrained table when fired, the
    * grown table when not — the decision is one bit off two bounded
    * reports, exactly the scheduled-event shape i8's scaladoc promises:
    * never a per-batch cost). At deployment the baseline table is
    * at-rest from the last training; this self-contained form prices
    * one full training to produce it, which IS the retrained index —
    * recovery == baseline is precisely the claim being demonstrated. */
  def i10RetrainLoop(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    // the two quantizer trainings (frozen train-subset + full retrain)
    // are INDEPENDENT Lloyd loops whose per-iteration driver collects
    // leave the cluster idle — overlap them from a 2-thread pool over
    // ONE shared eagerly-persisted projection (guide §2.6, the PqSearch
    // subspace-fit pattern; the train-subset side slices the same cache
    // with a row-local id filter). Same fitPrepared arithmetic over the
    // same rows → bit-identical centroids, so the oracle is untouched.
    graft.functions.DotProduct.register(s)
    val proj = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    proj.count() // eager: concurrent fits must not race-populate
    val (idx0, full) = try {
      val projTrain = proj.filter(col("id") < I8TrainEnd)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fits = Seq(projTrain, proj).map(p => scala.concurrent.Future {
        IvfSearch.fitPrepared(p, IvfK, IvfIters, IvfRound)
      })
      // await ALL before leaving (collecting failures): a failed fit
      // must not strand the sibling on an unpersisted base
      val done = try fits.map(f => scala.util.Try(
          scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf)))
        finally pool.shutdown()
      val Seq(cs0, csFull) = done.map(_.get)
      def materialized(cs: Seq[(Int, Seq[Double])], p: org.apache.spark.sql.DataFrame) = {
        val a = IvfSearch.assign(p, cs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        a.count()
        IvfSearch.Index(cs, a)
      }
      (materialized(cs0, projTrain), materialized(csFull, proj))
    } finally proj.unpersist()
    try {
      val late = e.filter(col("vec_id") >= I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      val grown = IvfSearch.Index(idx0.centroids,
        idx0.assignments.unionByName(IvfSearch.assign(late, idx0.centroids)))
      // MATERIALIZED (|q|·topK = 15 rows): each audit ends in a collect,
      // and a lazy brute plan would re-run the |q|·|corpus| scoring pass
      // once per audit — the cost sharing it exists to avoid
      val brute = bruteTopK(s, e).localCheckpoint()
      val g = recallAuditAgainst(s, e, grown, brute)
        .select(col("nprobe"), col("recall_ppm").as("grown_ppm"))
      val f = recallAuditAgainst(s, e, full, brute)
        .select(col("nprobe"), col("recall_ppm").as("retrained_ppm"))
      retrainDecision(g, f)
    } finally { full.close(); idx0.close() }
  }

  /** The trigger tail both i10 forms share: join the grown audit to the
    * baseline, measure the per-nprobe gap, fire past $RetrainGapPpm,
    * emit the recovery. One scalar off an IvfNprobe-row table (both
    * audits are already materialized — the head() reads 3 local rows). */
  private def retrainDecision(g: DataFrame, f: DataFrame): DataFrame = {
    val joined = g.join(f, "nprobe")
      .withColumn("gap_ppm", col("retrained_ppm") - col("grown_ppm"))
    val fired = joined.agg(coalesce(max(col("gap_ppm")), lit(0L)))
      .head.getLong(0) > RetrainGapPpm
    joined
      .withColumn("retrain_fired", lit(if (fired) 1L else 0L))
      .withColumn("recovered_ppm",
        if (fired) col("retrained_ppm") else col("grown_ppm"))
      .orderBy("nprobe")
  }

  /** i10's DEPLOYMENT form: the full-retrain baseline recall table and
    * the brute-force ground truth are READ FROM AT-REST state — the
    * artifacts the LAST training landed (built here once per corpus
    * fingerprint in a sibling session, marker-last — the k8/i5
    * discipline) — so the recurring per-audit cost is ONE grown-index
    * recall audit plus a 3-row join, never an in-query full retrain.
    * The self-contained [[i10RetrainLoop]] prices the training in the
    * same plan to stay oracle-portable; the answers are identical
    * (spec-pinned, and this row replays the same i10 oracle SQL). */
  def i10RetrainAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = artifactRoot("i10",
      dataFingerprint(dir, Seq("embeddings")))
    buildOnce("i10", root, "_BASELINE_OK") {
      val t = s.newSession()
      val e = Tables(t, dir, "embeddings")
      val full = IvfSearch.buildIndex(e, "vec_id", "embedding",
        k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
      // marker written LAST by buildOnce: a crash mid-write leaves no
      // marker and the next call re-lands (overwrite mode cleans partials)
      try {
        val brute = bruteTopK(t, e).localCheckpoint()
        brute.write.mode("overwrite")
          .parquet(root.resolve("brute").toString)
        recallAuditAgainst(t, e, full, brute)
          .select(col("nprobe"), col("recall_ppm").as("retrained_ppm"))
          .write.mode("overwrite")
          .parquet(root.resolve("baseline").toString)
      } finally full.close()
    }
    val e = Tables(s, dir, "embeddings")
    // the serving index a deployment already has: frozen quantizer
    // grown by the arrived assignments (i8's shape, priced here)
    val idx0 = IvfSearch.buildIndex(e.filter(col("vec_id") < I8TrainEnd),
      "vec_id", "embedding", k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val late = e.filter(col("vec_id") >= I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      val grown = IvfSearch.Index(idx0.centroids,
        idx0.assignments.unionByName(IvfSearch.assign(late, idx0.centroids)))
      val brute = s.read.parquet(root.resolve("brute").toString)
      val g = recallAuditAgainst(s, e, grown, brute)
        .select(col("nprobe"), col("recall_ppm").as("grown_ppm"))
      val f = s.read.parquet(root.resolve("baseline").toString)
      retrainDecision(g, f)
    } finally idx0.close()
  }

  /** The i10 oracle composes BOTH quantizer chains in one WITH — the
    * full-retrain chain (zero prefix: the i6 text) and the `et`-frozen
    * grown chain under prefix `g` — against one shared brute-force CTE,
    * then replays the trigger CASE on the same pinned threshold. */
  private lazy val i10Sql: String = {
    val cos = (a: String, b: String) =>
      s"ROUND(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    def apxCte(name: String, pr: String, af: String) =
      s"""$name AS (
         |  SELECT nprobe, q_id, neighbor FROM (
         |    SELECT n.nprobe, pr.q_id, a.id AS neighbor,
         |      ROW_NUMBER() OVER (PARTITION BY n.nprobe, pr.q_id
         |        ORDER BY ${cos("pr.q_emb", "a.emb")} DESC, a.id) AS rk
         |    FROM npv n
         |    JOIN $pr pr ON pr.rn <= n.nprobe
         |    JOIN $af a ON a.cid = pr.cid AND a.id <> pr.q_id) z
         |  WHERE rk <= $IvfTopK)""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |et AS (SELECT id, emb FROM e WHERE id < $I8TrainEnd),
       |${ivfCtesOver("e")},
       |${ivfCtesOver("et", "g")},
       |bf AS (
       |  SELECT q_id, neighbor FROM (
       |    SELECT q.q_id, e2.id AS neighbor,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cos("q.q_emb", "e2.emb")} DESC, e2.id) AS rk
       |    FROM q CROSS JOIN e e2 WHERE e2.id <> q.q_id) z
       |  WHERE rk <= $IvfTopK),
       |npv AS (SELECT unnest([${(1 to IvfNprobe).mkString(", ")}]) AS nprobe),
       |${apxCte("fapx", "pr", "af")},
       |${apxCte("gapx", "gpr", "gaf")},
       |fr AS (
       |  SELECT nprobe, CAST((1000000 * COUNT(*)) // ${3 * IvfTopK} AS BIGINT)
       |    AS retrained_ppm
       |  FROM fapx JOIN bf USING (q_id, neighbor) GROUP BY nprobe),
       |gr AS (
       |  SELECT nprobe, CAST((1000000 * COUNT(*)) // ${3 * IvfTopK} AS BIGINT)
       |    AS grown_ppm
       |  FROM gapx JOIN bf USING (q_id, neighbor) GROUP BY nprobe),
       |trig AS (
       |  SELECT COALESCE(MAX(retrained_ppm - grown_ppm), 0) > $RetrainGapPpm
       |    AS fired
       |  FROM fr JOIN gr USING (nprobe))
       |SELECT nprobe, grown_ppm, retrained_ppm,
       |  retrained_ppm - grown_ppm AS gap_ppm,
       |  CAST(CASE WHEN trig.fired THEN 1 ELSE 0 END AS BIGINT) AS retrain_fired,
       |  CASE WHEN trig.fired THEN retrained_ppm ELSE grown_ppm END AS recovered_ppm
       |FROM gr JOIN fr USING (nprobe) CROSS JOIN trig
       |ORDER BY nprobe""".stripMargin
  }

  private val i8Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |et AS (SELECT id, emb FROM e WHERE id < $I8TrainEnd),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |${ivfCtesOver("et")},
       |cands AS (
       |  SELECT pr.q_id, pr.q_emb, a.id AS neighbor, a.emb
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |scored AS (
       |  SELECT q_id, neighbor,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM cands),
       |ranked AS (
       |  SELECT q_id, neighbor, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |  FROM scored)
       |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= $IvfTopK
       |ORDER BY q_id, rk""".stripMargin

  /** i11: TIME-TRAVEL probe of the grown ANN index — the vector-side
    * lineage read beside c19/c20/k15/k16: i8's late arrivals stream in
    * as TWO [[graft.streaming.StreamOps.ivfAssignBatch]] delta waves,
    * and the same top-k query probes the index AS OF each frontier
    * ([[graft.streaming.StreamOps.grownIvfIndex]]'s `asOf` — later
    * deltas partition-pruned). The as-of-0 answers can only rank
    * vectors that had ARRIVED (base + wave 0); any wave-1 neighbor
    * leaking back in time goes red. The oracle runs i8's frozen-
    * quantizer chain once and restricts the assigned set per frontier. */
  def i11AsofAnn(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val e = Tables(s, dir, "embeddings")
    val idx0 = IvfSearch.buildIndex(e.filter(col("vec_id") < I8TrainEnd),
      "vec_id", "embedding", k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    val root = java.nio.file.Files.createTempDirectory("graft_i11_").toString
    try {
      val late = e.filter(col("vec_id") >= I8TrainEnd)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      (0 until 2).foreach { b =>
        StreamOps.ivfAssignBatch(
          late.filter(pmod(col("id"), lit(2L)) === b.toLong),
          idx0.centroids, "id", "emb", s"$root/state", b.toLong)
      }
      def frontier(n: Long) = IvfSearch.approxTopK(
          e.filter(col("vec_id") < 3),
          StreamOps.grownIvfIndex(s, idx0, s"$root/state", asOf = n),
          "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe)
        .select(lit(n).as("as_of"), col("q_id"), col("neighbor"),
          col("cos"), col("rk"))
      val res = frontier(0L).unionByName(frontier(1L))
        .orderBy("as_of", "q_id", "rk")
      // bounded (2·|q|·k = 30 rows): materialize before the index closes
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      idx0.close()
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  private val i11Sql: String = {
    def frontier(n: Int): String = {
      // vectors visible at frontier n: the trained base plus the delta
      // waves that had landed (wave = id % 2)
      s"""af$n AS (SELECT * FROM af WHERE id < $I8TrainEnd OR id % 2 <= $n),
         |cands$n AS (
         |  SELECT pr.q_id, pr.q_emb, a.id AS neighbor, a.emb
         |  FROM pr JOIN af$n a ON a.cid = pr.cid AND a.id <> pr.q_id),
         |ranked$n AS (
         |  SELECT q_id, neighbor, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
         |  FROM (SELECT q_id, neighbor,
         |      ROUND(list_dot_product(q_emb, emb) /
         |        (sqrt(list_dot_product(q_emb, q_emb)) *
         |         sqrt(list_dot_product(emb, emb))), 6) AS cos
         |    FROM cands$n) z)""".stripMargin
    }
    def sel(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, q_id, neighbor, cos, rk
         |FROM ranked$n WHERE rk <= $IvfTopK""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |et AS (SELECT id, emb FROM e WHERE id < $I8TrainEnd),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |${ivfCtesOver("et")},
       |${frontier(0)},
       |${frontier(1)}
       |${sel(0)}
       |UNION ALL
       |${sel(1)}
       |ORDER BY as_of, q_id, rk""".stripMargin
  }

  /** i13's delete rule: every vector id ≡ [[I13DeleteRes]] (mod
    * [[I13DeleteMod]]) is forgotten at wave 2 — deterministic, hits both
    * base-trained and grown vectors, misses the probe queries (0–2). */
  private val I13DeleteMod = 7L
  private val I13DeleteRes = 3L

  /** i13: ANN DELETES — the right-to-be-forgotten path through the
    * grown index ([[graft.streaming.StreamOps.ivfDeleteBatch]], k11's
    * tombstone model for vectors): after i11's two grow waves, wave 2
    * deletes every id ≡ 3 (mod 7) — base-trained vectors tombstone as
    * serve-suppressed-until-retrain, grown vectors as physically
    * reclaimable log versions — and the probe answers the lineage pair:
    * AS OF wave 1 the vectors are still retrievable (the audit trail a
    * deletion review needs), AS OF wave 2 they are gone from every
    * list. The oracle replays both frontiers over the shared
    * `et`-trained quantizer chain: frontier 1 is i11's full-grown
    * visibility, frontier 2 adds the modular delete cut. */
  def i13AnnDeletes(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    // train/grow/delete ONCE per corpus fingerprint, marker-last, then
    // serve every later invocation from the landed state (the mm14/pipe1s
    // discipline) — a bench rep must price the grown-index probe, never
    // a repeated Lloyd train plus wave replay
    val root = artifactRoot("i13", dataFingerprint(dir, Seq("embeddings")))
    buildOnce("i13", root) {
      val t = s.newSession()
      val e = Tables(t, dir, "embeddings")
      val idx0 = IvfSearch.buildIndex(e.filter(col("vec_id") < I8TrainEnd),
        "vec_id", "embedding", k = IvfK, iters = IvfIters,
        roundDecimals = IvfRound)
      try {
        IvfSearch.saveIndex(idx0, root.resolve("ivf").toString)
        val late = e.filter(col("vec_id") >= I8TrainEnd)
          .select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("emb"))
        (0 until 2).foreach { b =>
          StreamOps.ivfAssignBatch(
            late.filter(pmod(col("id"), lit(2L)) === b.toLong),
            idx0.centroids, "id", "emb", s"$root/state", b.toLong)
        }
        StreamOps.ivfDeleteBatch(
          e.filter(pmod(col("vec_id"), lit(I13DeleteMod)) === I13DeleteRes)
            .select(col("vec_id").as("id")),
          s"$root/state", 2L)
      } finally idx0.close()
    }
    val e = Tables(s, dir, "embeddings")
    val idx0 = IvfSearch.loadIndex(s, root.resolve("ivf").toString)
    def frontier(n: Long) = IvfSearch.approxTopK(
        e.filter(col("vec_id") < 3),
        StreamOps.grownIvfIndex(s, idx0, s"$root/state", asOf = n),
        "vec_id", "embedding", k = IvfTopK, nprobe = IvfNprobe)
      .select(lit(n).as("as_of"), col("q_id"), col("neighbor"),
        col("cos"), col("rk"))
    frontier(1L).unionByName(frontier(2L))
      .orderBy("as_of", "q_id", "rk")
  }

  private lazy val i13Sql: String = {
    // frontier 1: i11's full-grown visibility (both waves landed);
    // frontier 2: the same minus the wave-2 modular delete cut
    def frontier(n: Int, cut: String): String =
      s"""af$n AS (SELECT * FROM af WHERE TRUE$cut),
         |cands$n AS (
         |  SELECT pr.q_id, pr.q_emb, a.id AS neighbor, a.emb
         |  FROM pr JOIN af$n a ON a.cid = pr.cid AND a.id <> pr.q_id),
         |ranked$n AS (
         |  SELECT q_id, neighbor, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
         |  FROM (SELECT q_id, neighbor,
         |      ROUND(list_dot_product(q_emb, emb) /
         |        (sqrt(list_dot_product(q_emb, q_emb)) *
         |         sqrt(list_dot_product(emb, emb))), 6) AS cos
         |    FROM cands$n) z)""".stripMargin
    def sel(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS as_of, q_id, neighbor, cos, rk
         |FROM ranked$n WHERE rk <= $IvfTopK""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |et AS (SELECT id, emb FROM e WHERE id < $I8TrainEnd),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |${ivfCtesOver("et")},
       |${frontier(1, "")},
       |${frontier(2, s" AND id % $I13DeleteMod <> $I13DeleteRes")}
       |${sel(1)}
       |UNION ALL
       |${sel(2)}
       |ORDER BY as_of, q_id, rk""".stripMargin
  }

  // i2 constants shared by the Spark query and its SQL replay
  private val PqM = 4       // subspaces
  private val PqK = 16      // codewords per subspace (codes are 4 bits)
  private val PqIters = 2   // Lloyd iterations per subspace (unrolled)
  private val PqRound = 6   // centroid-mean rounding (engine portability)
  private val PqTopK = 5

  /** i2: product-quantization ADC top-5 for the same 3 query vectors as
    * v1/a1/i1 — the memory-bound companion to i1's IVF routing. The
    * oracle replays the ENTIRE chain: four independent deterministic
    * Lloyd fits (one per 16-dim subspace, each unrolled like i1), the
    * per-vector code assignment, the per-query distance tables, and the
    * fixed-order ADC sum — so the quantizer itself is hash-verified, not
    * just the final ranks. */
  def i2PqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val cb = PqSearch.train(e, "vec_id", "embedding",
      m = PqM, k = PqK, iters = PqIters, roundDecimals = PqRound)
    val enc = PqSearch.encode(e, "vec_id", "embedding", cb)
    PqSearch.adcTopK(e.filter(col("vec_id") < 3), enc, cb,
        "vec_id", "embedding", topK = PqTopK)
      .orderBy("q_id", "rk")
  }

  /** Shared PQ CTE chain: per-subspace codebook fits (each an unrolled
    * deterministic Lloyd over its dim slice), `codes` = per-vector code
    * tuple, and `s{s}t` = per-query ADC distance tables. Expects
    * `e(id, emb)` and `q(q_id, q_emb)` upstream; consumed by the i2
    * oracle and re-consumed verbatim by i3. */
  private val pqCtes: String = {
    val sub = AnnSearch.Dim / PqM
    val subBlocks = (0 until PqM).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      val iters = (1 to PqIters).map { i =>
        s"""s${s}a$i AS (
           |  SELECT id, emb, cid FROM (
           |    SELECT e.id, e.emb, cc.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.id
           |        ORDER BY ${sqlDist2(s"e.emb[$lo:$hi]", "cc.c")}, cc.cid) AS rn
           |    FROM e CROSS JOIN s${s}c${i - 1} cc) z WHERE rn = 1),
           |s${s}n$i AS (
           |  SELECT cid, list(m ORDER BY j) AS c FROM (
           |    SELECT cid, j, ROUND(AVG(emb[CAST(j AS INTEGER) + $lo]), $PqRound) AS m
           |    FROM s${s}a$i CROSS JOIN range($sub) t(j) GROUP BY cid, j) z GROUP BY cid),
           |s${s}c$i AS (
           |  SELECT p.cid, COALESCE(n.c, p.c) AS c
           |  FROM s${s}c${i - 1} p LEFT JOIN s${s}n$i n ON p.cid = n.cid)""".stripMargin
      }.mkString(",\n")
      s"""s${s}c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INTEGER) - 1 AS cid,
         |    emb[$lo:$hi] AS c
         |  FROM (SELECT id, emb FROM e ORDER BY id LIMIT $PqK) z),
         |$iters,
         |s${s}code AS (
         |  SELECT id, cid AS c$s FROM (
         |    SELECT e.id, cc.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.id
         |        ORDER BY ${sqlDist2(s"e.emb[$lo:$hi]", "cc.c")}, cc.cid) AS rn
         |    FROM e CROSS JOIN s${s}c$PqIters cc) z WHERE rn = 1),
         |s${s}t AS (
         |  SELECT q.q_id, cc.cid, ${sqlDist2(s"q.q_emb[$lo:$hi]", "cc.c")} AS d
         |  FROM q CROSS JOIN s${s}c$PqIters cc)""".stripMargin
    }.mkString(",\n")
    s"""$subBlocks,
       |codes AS (
       |  SELECT s0code.id, c0, c1, c2, c3
       |  FROM s0code
       |  JOIN s1code USING (id) JOIN s2code USING (id) JOIN s3code USING (id))""".stripMargin
  }

  private val i2Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$pqCtes,
       |scored AS (
       |  SELECT q.q_id, k.id AS neighbor, t0.d + t1.d + t2.d + t3.d AS adc
       |  FROM codes k CROSS JOIN q
       |  JOIN s0t t0 ON t0.q_id = q.q_id AND t0.cid = k.c0
       |  JOIN s1t t1 ON t1.q_id = q.q_id AND t1.cid = k.c1
       |  JOIN s2t t2 ON t2.q_id = q.q_id AND t2.cid = k.c2
       |  JOIN s3t t3 ON t3.q_id = q.q_id AND t3.cid = k.c3
       |  WHERE k.id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor, adc,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, neighbor) AS rk
       |  FROM scored)
       |SELECT q_id, neighbor, adc, rk FROM ranked WHERE rk <= $PqTopK
       |ORDER BY q_id, rk""".stripMargin

  // i3 constants: ADC shortlist size feeding the exact rerank
  private val I3Pool = 20

  /** i3: the PRODUCTION ANN stack — IVF routing (i1's coarse quantizer)
    * over PQ codes (i2's codebooks) with exact re-ranking (v8's pattern):
    * route each query to its $IvfNprobe nearest inverted lists, ADC-score
    * ONLY the routed vectors' 4-byte codes into a top-$I3Pool shortlist,
    * then re-rank just the shortlist with full-precision squared L2 (the
    * metric ADC approximates). At corpus scale each stage touches
    * strictly less data than the last: nprobe/k of the corpus routed,
    * codes-not-embeddings scored, |queries|·$I3Pool vectors re-read.
    *
    * The oracle replays the ENTIRE composition — the same unrolled Lloyd
    * CTEs as i1 (routing) and i2 (codebooks, tables, ADC sum) plus the
    * rerank join — so the composed stack, previously only spec-pinned
    * (PqSearchSpec "production ANN stack"), is hash-verified end to end. */
  def i3IvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
    val idx = IvfSearch.buildIndex(e, "vec_id", "embedding",
      k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
    try {
      val cb = PqSearch.train(e, "vec_id", "embedding",
        m = PqM, k = PqK, iters = PqIters, roundDecimals = PqRound)
      val enc = PqSearch.encode(e, "vec_id", "embedding", cb)
      ivfPqServe(e, idx, cb, enc)
    } finally idx.close()
  }

  /** The serve stage shared by i3 (freshly trained) and i5 (loaded from
    * at-rest artifacts): route → ADC over routed candidates only → exact
    * rerank of the bounded shortlist. */
  private def ivfPqServe(e: DataFrame, idx: IvfSearch.Index,
                         cb: PqSearch.Codebooks, enc: DataFrame): DataFrame = {
    val queries = e.filter(col("vec_id") < 3)
    // route: (q_id, centroid_id) probes — broadcast against the
    // inverted file so only the probed lists' members become candidates
    val cands = broadcast(
        IvfSearch.route(queries, idx, "vec_id", "embedding", IvfNprobe)
          .select(col("q_id"), col("centroid_id")))
      .join(idx.assignments, Seq("centroid_id"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"))
    // ADC over the routed candidates only (codes, never raw embeddings)
    val shortlist = PqSearch.adcTopKWithin(queries, cands, enc, cb,
      "vec_id", "embedding", topK = I3Pool)
    // exact rerank of the bounded shortlist: re-read full embeddings
    // for |queries|·I3Pool rows only
    val emb = e.select(col("vec_id").as("neighbor"),
      col("embedding").cast("array<double>").as("emb"))
    val qe = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("neighbor"))
    shortlist.select(col("q_id"), col("neighbor"))
      .join(broadcast(qe), "q_id")
      .join(emb, "neighbor")
      .withColumn("d2",
        round(graft.functions.DotProduct.dist2(col("q_emb"), col("emb")), 6))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= IvfTopK)
      .select(col("q_id"), col("neighbor"), col("d2"),
        col("rk").cast("long").as("rk"))
      .orderBy("q_id", "rk")
  }

  /** Per-user artifact base (default `~/.cache/graft_artifacts`,
    * override with `GRAFT_ARTIFACT_DIR`). The previous shared
    * `java.io.tmpdir` root was predictable and world-writable: on a
    * multi-user machine another user could pre-create or poison the
    * directory. The user's home is per-user by construction; deployments
    * point `GRAFT_ARTIFACT_DIR` at job-scoped storage. */
  private[graft] def artifactBase: java.nio.file.Path =
    java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_ARTIFACT_DIR",
      sys.props("user.home") + java.io.File.separator + ".cache" +
        java.io.File.separator + "graft_artifacts"))

  /** One JVM monitor per artifact family, guarding every FileLock
    * acquisition on that family's lock file — FileLocks are per-PROCESS
    * (a second acquisition from the same JVM throws Overlapping-
    * FileLockException rather than blocking), so in-process callers must
    * serialize on the monitor BEFORE reaching for the file lock. */
  private val familyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Families whose [[withFamilyLock]] this thread currently holds.
    * The lock is NOT re-entrant — the JVM monitor would self-deadlock
    * and the FileLock would throw OverlappingFileLockException from a
    * nested same-family acquisition (e.g. a build body calling
    * buildOnce/artifactRoot for its OWN family) — so re-entry fails
    * fast here with a message that names the bug instead of an opaque
    * lock exception or a hang. */
  private val heldFamilyLocks = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** Run `body` holding the family's JVM monitor and an exclusive
    * cross-process [[java.nio.channels.FileLock]] on
    * `artifactBase/.lock_<family>` (a sibling of the roots — never
    * deleted with them). Everything that mutates a family's on-disk
    * layout (the stale-fingerprint prune, the check→delete→drive→mark
    * build sequence) runs under this lock: without it two concurrent
    * first callers both see a missing `_OK` marker, both delete the
    * root, and interleave drives into the same state dir — one then
    * writes the marker over mixed partial state that serves silently
    * corrupt answers; and a second process pruning a different
    * fingerprint can delete a sibling's in-flight build out from under
    * it. Locks are per-FAMILY (not per-fingerprint) precisely so the
    * prune and a concurrent build of another fingerprint exclude each
    * other. */
  private def withFamilyLock[T](family: String)(body: => T): T = {
    val held = heldFamilyLocks.get()
    require(!held.contains(family),
      s"withFamilyLock('$family') re-entered on the same thread — the " +
        "family lock is not re-entrant (a build body must not call " +
        "buildOnce/artifactRoot for its OWN family)")
    val monitor = familyLocks.computeIfAbsent(family, _ => new Object)
    monitor.synchronized {
      java.nio.file.Files.createDirectories(artifactBase)
      val ch = java.nio.channels.FileChannel.open(
        artifactBase.resolve(s".lock_$family"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        held += family
        try body finally { held -= family; fl.release() }
      } finally ch.close()
    }
  }

  /** Artifact root for one (family, corpus-fingerprint) pair, e.g.
    * `i5_3fa9…`. Creating a root PRUNES stale sibling fingerprints of
    * the same family (under [[withFamilyLock]], so the sweep can never
    * delete a sibling fingerprint's IN-FLIGHT build — it blocks until
    * the builder releases the family lock): the driver regenerates
    * testdata mid-round, and without the sweep every regeneration
    * strands the old fingerprint's trained artifacts forever. A
    * pruned-but-live fingerprint is only ever a re-train on next touch —
    * the `_OK` markers are written last, so partial state never
    * serves. */
  private[graft] def artifactRoot(family: String, fp: String): java.nio.file.Path = {
    val dir = artifactBase.resolve(s"${family}_$fp")
    val stale = Option(artifactBase.toFile.listFiles).toSeq.flatten.exists { f =>
      f.isDirectory && f.getName.startsWith(s"${family}_") &&
        f.getName != s"${family}_$fp"
    }
    // lock only when there is something to prune: the common path (same
    // fingerprint, already built) stays lock-free
    if (stale) withFamilyLock(family) {
      Option(artifactBase.toFile.listFiles).foreach(_.foreach { f =>
        if (f.isDirectory && f.getName.startsWith(s"${family}_") &&
            f.getName != s"${family}_$fp") {
          graft.sources.Sources.deleteRecursively(f)
        }
      })
    }
    dir
  }

  /** Serialize a marker-guarded artifact build: if `root/<marker>` is
    * absent, run `build` and write the marker LAST — all under
    * [[withFamilyLock]], across threads AND processes. The marker is
    * re-checked under the lock, so losers of a first-call race see the
    * winner's completed marker and build nothing; a crash mid-`build`
    * leaves no marker and the next caller rebuilds (each builder's own
    * delete-state-first / overwrite-mode discipline makes that rebuild
    * exactly a first run). The fast path (marker already present) takes
    * no lock: markers are only ever written over COMPLETE state, under
    * the lock, so their presence needs no further synchronization.
    *
    * `rebuildIf` is the SCHEMA-upgrade hook: fingerprints track DATA
    * (file listing), not layout, so a marked artifact written by an
    * older build can lack a column a newer reader needs. When the
    * marker exists, `rebuildIf()` decides whether to invalidate it
    * (checked again under the lock — losers of a rebuild race see the
    * winner's fresh marker and the predicate passing); the builder's
    * own delete-first discipline then makes the rebuild a first run. */
  private[graft] def buildOnce(family: String, root: java.nio.file.Path,
      marker: String = "_STATE_OK",
      rebuildIf: () => Boolean = () => false)(build: => Unit): Unit = {
    val done = root.resolve(marker)
    if (java.nio.file.Files.exists(done) && !rebuildIf()) {
      touchServed(root); return
    }
    withFamilyLock(family) {
      if (!java.nio.file.Files.exists(done) || rebuildIf()) {
        java.nio.file.Files.deleteIfExists(done)
        build
        java.nio.file.Files.createDirectories(root)
        java.nio.file.Files.write(done, Array.emptyByteArray)
      }
    }
    touchServed(root)
  }

  /** Refresh the root's `_SERVED` stamp — every serve goes through
    * [[buildOnce]], so this one touch point gives each artifact root a
    * last-served time. Advisory (the manifest and GC read it; nothing
    * correctness-bearing does), so stamp failures never fail a serve. */
  private def touchServed(root: java.nio.file.Path): Unit = try {
    val served = root.resolve("_SERVED")
    if (java.nio.file.Files.exists(served))
      java.nio.file.Files.setLastModifiedTime(served, java.nio.file.attribute
        .FileTime.fromMillis(System.currentTimeMillis()))
    else java.nio.file.Files.write(served, Array.emptyByteArray)
  } catch { case _: java.io.IOException => () }

  /** One row per landed artifact root — the lifecycle ledger a
    * long-lived deployment reads before deciding what its artifact
    * volume is spending bytes on. Derived entirely from the filesystem
    * (root name = `<family>_<fingerprint>`; built_at = newest `_*OK`
    * marker mtime; last_served = the `_SERVED` stamp [[buildOnce]]
    * refreshes per serve), so there is no mutable manifest file to
    * corrupt or race. */
  private[graft] case class ArtifactInfo(family: String, fingerprint: String,
      bytes: Long, builtAt: Long, lastServed: Long)

  private def artifactRootDirs(): Seq[java.io.File] =
    Option(artifactBase.toFile.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.contains('_'))

  private[graft] def artifactManifest(): Seq[ArtifactInfo] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    artifactRootDirs().map { f =>
      val files = walk(f)
      val family = f.getName.takeWhile(_ != '_')
      val builtAt = files.filter(x => x.getName.startsWith("_") &&
        x.getName.endsWith("OK")).map(_.lastModified)
        .sorted.lastOption.getOrElse(0L)
      val served = new java.io.File(f, "_SERVED")
      ArtifactInfo(family, f.getName.drop(family.length + 1),
        files.map(_.length).sum, builtAt,
        if (served.exists) served.lastModified else builtAt)
    }.sortBy(a => (a.family, a.fingerprint))
  }

  /** The artifact RETENTION SWEEP — the eviction story the at-rest
    * families (i5, c12, c23, d50s, geo1s, a8, a9, pipe1s, the mm
    * gates, ...) were missing: [[artifactRoot]] prunes a family's stale
    * fingerprints only when that family is next TOUCHED with a fresh
    * one, so a family the workload moved away from strands its old
    * roots forever. For every family holding more than one root, keep
    * the most recently served/built and evict the rest — under the
    * family FileLock, so GC can never race that family's
    * [[buildOnce]] (an in-flight build holds the lock until its marker
    * is down). Eviction is only ever a re-train on next touch: markers
    * write last, so a victim that was about to be served again simply
    * rebuilds. Returns the evicted (family, fingerprint) pairs. Wired
    * into [[graft.streaming.StreamOps.maintain]] as the `gc_artifacts`
    * step. */
  private[graft] def gcArtifacts(): Seq[(String, String)] = {
    val families = artifactRootDirs().map(_.getName.takeWhile(_ != '_'))
      .groupBy(identity).collect { case (fam, rs) if rs.size > 1 => fam }
    families.toSeq.sorted.flatMap { family =>
      withFamilyLock(family) {
        // re-list under the lock: a concurrent artifactRoot prune or a
        // racing GC may already have thinned this family
        val cur = artifactRootDirs()
          .filter(_.getName.startsWith(s"${family}_"))
        if (cur.size <= 1) Nil
        else {
          def stamp(f: java.io.File): Long = {
            val served = new java.io.File(f, "_SERVED")
            if (served.exists) served.lastModified else f.lastModified
          }
          val keep = cur.maxBy(f => (stamp(f), f.getName))
          cur.filterNot(_ == keep).map { f =>
            graft.sources.Sources.deleteRecursively(f)
            (family, f.getName.drop(family.length + 1))
          }
        }
      }
    }
  }

  /** Artifact root for i5, keyed by a fingerprint of the embeddings
    * parquet (path + file names/sizes/mtimes — a listing fingerprint,
    * not a content hash: hashing corpus bytes is off the table at 100 TB,
    * and the driver's regenerations always move mtimes): a changed
    * corpus gets a fresh train; an unchanged one reuses the artifacts
    * across sessions AND processes — the deployment posture i5 exists
    * to prove. */
  private def i5ArtifactRoot(dir: String): java.nio.file.Path =
    artifactRoot("i5", dataFingerprint(dir, Seq("embeddings")))

  /** i5: the at-rest DEPLOYMENT path of i3 — the same route → ADC →
    * rerank answer served entirely from persisted artifacts
    * ([[IvfSearch.saveIndex]]'s centroid table + centroid_id-partitioned
    * inverted file, [[PqSearch.saveCodebooks]]'s codebook rows, and the
    * encoded-codes table), with NO retraining in the serving session.
    *
    * Training runs at most once per corpus fingerprint, in a SIBLING
    * session (`newSession()`: own SQL conf/registry/state over the shared
    * context) — so nothing reaches the serve side except through the
    * files, which is exactly what a separate training job guarantees at
    * deployment scale. The oracle is i3's full replay: the artifacts
    * must carry the trained state bit-for-bit (doubles ride parquet
    * losslessly) for the loaded-path answer to hash-match it. */
  def i5AnnAtRest(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val root = i5ArtifactRoot(dir)
    buildOnce("i5", root, "_ARTIFACTS_OK") {
      val t = s.newSession()
      graft.functions.DotProduct.register(t)
      val te = Tables(t, dir, "embeddings")
      val idx = IvfSearch.buildIndex(te, "vec_id", "embedding",
        k = IvfK, iters = IvfIters, roundDecimals = IvfRound)
      // marker written LAST by buildOnce: a crash mid-write leaves no
      // marker and the next call retrains (all writes overwrite)
      try {
        IvfSearch.saveIndex(idx, root.resolve("ivf").toString)
        val cb = PqSearch.train(te, "vec_id", "embedding",
          m = PqM, k = PqK, iters = PqIters, roundDecimals = PqRound)
        PqSearch.saveCodebooks(cb, t, root.resolve("codebooks").toString)
        PqSearch.encode(te, "vec_id", "embedding", cb)
          .write.mode("overwrite").parquet(root.resolve("codes").toString)
      } finally idx.close()
    }
    val idx = IvfSearch.loadIndex(s, root.resolve("ivf").toString)
    val cb = PqSearch.loadCodebooks(s, root.resolve("codebooks").toString)
    val enc = s.read.parquet(root.resolve("codes").toString)
    ivfPqServe(Tables(s, dir, "embeddings"), idx, cb, enc)
  }

  private val i3Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$ivfCtes,
       |cands AS (
       |  SELECT pr.q_id, a.id
       |  FROM pr JOIN af a ON a.cid = pr.cid AND a.id <> pr.q_id),
       |$pqCtes,
       |scored AS (
       |  SELECT cd.q_id, k.id AS neighbor, t0.d + t1.d + t2.d + t3.d AS adc
       |  FROM cands cd
       |  JOIN codes k ON k.id = cd.id
       |  JOIN s0t t0 ON t0.q_id = cd.q_id AND t0.cid = k.c0
       |  JOIN s1t t1 ON t1.q_id = cd.q_id AND t1.cid = k.c1
       |  JOIN s2t t2 ON t2.q_id = cd.q_id AND t2.cid = k.c2
       |  JOIN s3t t3 ON t3.q_id = cd.q_id AND t3.cid = k.c3),
       |short AS (
       |  SELECT q_id, neighbor,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, neighbor) AS srk
       |  FROM scored),
       |rr AS (
       |  SELECT s.q_id, s.neighbor,
       |    ROUND(${sqlDist2("q.q_emb", "n.emb")}, 6) AS d2
       |  FROM short s
       |  JOIN q ON q.q_id = s.q_id
       |  JOIN e n ON n.id = s.neighbor
       |  WHERE s.srk <= $I3Pool),
       |ranked AS (
       |  SELECT q_id, neighbor, d2,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, neighbor) AS rk
       |  FROM rr)
       |SELECT q_id, neighbor, d2, rk FROM ranked WHERE rk <= $IvfTopK
       |ORDER BY q_id, rk""".stripMargin

  /** s1: salted two-phase aggregation (the hot-key lever) pinned against a
    * PLAIN `GROUP BY` oracle: because the summed column goes through
    * DECIMAL(38,4), the aggregation is order-independent, so the salted
    * (key, salt)→key merge must be bit-identical to the direct aggregate —
    * the oracle verifies the skew machinery changes the plan, never the
    * answer. Final sum output cast to DOUBLE per the representation
    * convention. */
  def s1SkewAgg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
      .select(col("user_id"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(38, 4)).as("v"))
    SkewAgg.saltedSumCount(e, Seq("user_id"), "v", salt = 16)
      .select(col("user_id"),
        col("sum_v").cast("double").as("total_value"), col("n_rows"))
      .orderBy("user_id")
  }

  private val s1Sql: String =
    """SELECT user_id,
      | CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value,
      | COUNT(*) AS n_rows
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** s2: salted fact-dim join (the hot-key lever for JOINS, completing s1's
    * aggregate side) pinned against a PLAIN join oracle: the salt spreads
    * each supplier key over 8 reducers on the fact side and replicates the
    * dim side 8×, and because each fact row meets exactly the one dim copy
    * carrying its salt, the (key, salt) join must produce row-for-row the
    * unsalted join — the oracle verifies the skew machinery changes the
    * plan, never the answer. Downstream aggregate uses the shared decimal
    * convention so the comparison is bit-exact. */
  def s2SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_extendedprice"))
    val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    SkewJoin.saltedInnerJoin(li, sup, "l_suppkey", "s_suppkey",
        saltBy = "l_orderkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Conventions.decSum(col("l_extendedprice"), "total_price"))
      .orderBy("s_nationkey")
  }

  private val s2Sql: String =
    """SELECT s_nationkey, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** i4: PQ reconstruction-distortion report — the top-20 WORST-quantized
    * vectors (highest total squared reconstruction error across the m
    * subspace codewords). The codec-fidelity diagnostic a vector tier
    * runs after (re)training codebooks: outliers here are exactly the
    * vectors ADC ranks worst, i.e. the rerank stage's workload. Scale
    * shape: one corpus scan, row-local map-literal codeword lookups
    * (k·subDim doubles per subspace ride the plan, no join), fixed
    * left-assoc error sum, distributed top-k (TakeOrderedAndProject) —
    * no global window, no shuffle beyond the top-k. The oracle replays
    * training, encoding, AND the per-vector error arithmetic. */
  def i4PqDistortion(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
    val cb = PqSearch.train(e, "vec_id", "embedding",
      m = PqM, k = PqK, iters = PqIters, roundDecimals = PqRound)
    val enc = PqSearch.encode(e, "vec_id", "embedding", cb)
    val base = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .join(enc, "id")
    val err = (0 until PqM).map { sx =>
      val sl = slice(col("emb"), sx * cb.subDim + 1, cb.subDim)
      val book = typedLit(cb.books(sx).toMap)
      graft.functions.DotProduct.dist2(sl, element_at(book, col(s"c$sx")))
    }.reduceLeft(_ + _)
    base.select(col("id"), round(err, 6).as("err"))
      .orderBy(col("err").desc, col("id"))
      .limit(20)
  }

  private val i4Sql: String = {
    val sub = AnnSearch.Dim / PqM
    val errExpr = (0 until PqM)
      .map(sx => sqlDist2(s"e.emb[${sx * sub + 1}:${(sx + 1) * sub}]", s"b$sx.c"))
      .mkString(" + ")
    val bookJoins = (0 until PqM)
      .map(sx => s"JOIN s${sx}c$PqIters b$sx ON b$sx.cid = k.c$sx")
      .mkString("\n  ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT id AS q_id, emb AS q_emb FROM e WHERE id < 3),
       |$pqCtes,
       |rec AS (
       |  SELECT e.id, ROUND($errExpr, 6) AS err
       |  FROM e
       |  JOIN codes k ON k.id = e.id
       |  $bookJoins)
       |SELECT id, err FROM rec ORDER BY err DESC, id LIMIT 20""".stripMargin
  }

  /** s3: ADAPTIVE salted join — the production composition of the skew
    * toolkit: the CMS hot-key detector ([[graft.operators.ApproxOps.heavyHitters]],
    * bounded sketch state + a layout-independent content-hash nomination)
    * feeds [[SkewJoin.adaptiveSaltedInnerJoin]], which salts ONLY the
    * detected keys — cold dim rows ride once, cold fact rows take salt 0,
    * hot keys spread over 8 reducers. The oracle is the PLAIN join: like
    * s1/s2, the machinery may change the plan, never the answer (and the
    * answer is invariant to WHICH keys the detector flags — detection
    * tunes performance, not semantics). */
  def s3AdaptiveSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_extendedprice"))
    val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    // detect hot suppliers on the fact side; l_orderkey distinguishes
    // rows for the content-hash sample (uniqueness not required)
    val hot = graft.operators.ApproxOps.heavyHitters(
        li.select(col("l_orderkey").as("oid"),
          col("l_suppkey").cast("string").as("k")),
        "k", minShare = 0.01, idCol = Some("oid"))
      .collect().map(_.getString(0).toLong).toSeq
    SkewJoin.adaptiveSaltedInnerJoin(li, sup, "l_suppkey", "s_suppkey",
        saltBy = "l_orderkey", hotKeys = hot, salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Conventions.decSum(col("l_extendedprice"), "total_price"))
      .orderBy("s_nationkey")
  }

  // identical by construction: the adaptive machinery must never change
  // the answer, so s3's oracle IS s2's plain-join oracle
  private val s3Sql: String = s2Sql

  /** Content fingerprint of a set of source tables (path + per-file
    * name/size/mtime): bucketed-layout table names embed it so a
    * regenerated testdata dir can never serve stale buckets (the driver
    * DOES regenerate mid-round — NOTES hard-won fact #1). */
  private[graft] def dataFingerprint(dir: String, tables: Seq[String]): String = {
    val listing = tables.map { t =>
      val src = new java.io.File(s"$dir/$t.parquet")
      Option(src.listFiles).map(_.sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|"))
        .getOrElse(s"${src.length}:${src.lastModified}")
    }.mkString("||")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$listing".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** s4: co-located fact-fact join over BUCKETED tables — the LAYOUT
    * lever completing the skew toolkit (s1/s2 fix hot keys, s4 removes
    * the shuffle entirely): lineitem and orders land once as
    * orderkey-bucketed tables ([[graft.sources.Sources.saveBucketedTable]]),
    * after which the per-order revenue aggregate AND the fact-fact join
    * both run in place — the only exchanges in the whole plan are the
    * 5-row priority rollup and the output sort (PlanAuditSpec pins no
    * exchange at or below the join). At 100 TB this is the difference
    * between re-shuffling both fact tables every query and never
    * shuffling them again; the write-side shuffle is paid once at land
    * time. The `merge` hint keeps the plan SortMergeJoin at every SF
    * (a broadcast would also be shuffle-free but wouldn't exercise the
    * layout). Oracle is the PLAIN join+rollup — layout must change the
    * plan, never the answer. */
  /** Idempotent bucketed-layout landing: first touch writes `source` as
    * an EXTERNAL bucketed table at `path` (the once-per-corpus shuffle);
    * later SESSIONS find the marker and re-register the existing files
    * with a `CREATE TABLE … CLUSTERED BY … LOCATION` DDL — no rewrite,
    * which is the whole at-rest point (bucket metadata lives in the
    * catalog, the data lives once on disk). */
  private def ensureBucketedTable(s: SparkSession, name: String,
                                  path: java.nio.file.Path, source: => DataFrame,
                                  bucketCols: Seq[String], n: Int): Unit = {
    val marker = path.resolve("_BUCKETS_OK")
    if (s.catalog.tableExists(name)) {
      // a registered table is only trustworthy while its files' marker
      // survives — artifactRoot's stale-fingerprint prune (e.g. a session
      // alternating data dirs) deletes files out from under the catalog
      if (java.nio.file.Files.exists(marker)) return
      s.sql(s"DROP TABLE IF EXISTS $name")
    }
    // the write races under the family lock (marker LAST via buildOnce:
    // a crash mid-write leaves no marker and the next session rewrites —
    // overwrite mode cleans partial output); saveAsTable also registers
    // the table, so the DDL re-attach below only fires when the marker
    // pre-existed (files landed by an earlier session or process)
    buildOnce("s4", path, "_BUCKETS_OK") {
      java.nio.file.Files.createDirectories(path.getParent)
      source.write.mode("overwrite").format("parquet")
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", path.toString)
        .saveAsTable(name)
    }
    if (!s.catalog.tableExists(name)) {
      val cols = bucketCols.mkString(", ")
      // IF NOT EXISTS: two threads can both pass the unlocked
      // tableExists check above (buildOnce's fast path takes no lock)
      // — the loser must be a no-op, not a TableAlreadyExistsException
      s.sql(s"CREATE TABLE IF NOT EXISTS $name " +
        s"(${s.read.parquet(path.toString).schema.toDDL}) " +
        s"USING PARQUET CLUSTERED BY ($cols) SORTED BY ($cols) " +
        s"INTO $n BUCKETS LOCATION '$path'")
    }
  }

  def s4BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val fp = dataFingerprint(dir, Seq("lineitem", "orders"))
    val root = artifactRoot("s4", fp)
    val liTab = s"graft_s4_li_$fp"
    val ordTab = s"graft_s4_ord_$fp"
    ensureBucketedTable(s, liTab, root.resolve("li"),
      Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
      Seq("l_orderkey"), n = 8)
    ensureBucketedTable(s, ordTab, root.resolve("ord"),
      Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      Seq("o_orderkey"), n = 8)
    val rev = s.table(liTab)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast(Conventions.Dec)).as("rev"))
    rev.hint("merge")
      .join(s.table(ordTab), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("rev")).cast("double").as("total_revenue"))
      .orderBy("o_orderpriority")
  }

  private val s4Sql: String =
    """WITH rev AS (
      |  SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS rev
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(rev) AS DOUBLE) AS total_revenue
      |FROM rev JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** b1: bloom-pruned semi-join — lineitems of URGENT orders, where the
    * order-key set rides to the fact scan as a ~1.2 B/key bloom filter and
    * non-matching rows die inside the scan's codegen before any shuffle;
    * the exact semi-join then strips the fpp sliver. The oracle is the
    * plain `IN (SELECT ...)` form — the bloom must change scan-side
    * traffic, never the answer. */
  def b1BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    BloomPrune.semiJoin(Tables(s, dir, "lineitem"), urgent,
        "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Conventions.decSum(col("l_quantity"), "total_qty"))
      .orderBy("l_returnflag")
  }

  private val b1Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** b2: bloom-partitioned ANTI join — lineitems of non-URGENT orders
    * (b1's complement, the blocklist shape): rows whose key the bloom
    * proves ABSENT bypass the join inside the scan's codegen; only the
    * maybe-present sliver runs the exact anti-join that clears the fpp
    * false positives. Oracle is the plain `NOT IN` — the bloom must
    * change shuffle traffic, never the answer. */
  def b2BloomAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    BloomPrune.antiJoin(Tables(s, dir, "lineitem"), urgent,
        "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Conventions.decSum(col("l_quantity"), "total_qty"))
      .orderBy("l_returnflag")
  }

  private val b2Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** p2: sort-based exact percentiles — value-identical to q24's
    * `percentile()` per the shared interpolation formula, but computed
    * with a spillable window sort + 2-row-per-(group,p) fetch instead of
    * buffering whole groups in aggregation state (the q24 approach OOMs
    * on hot groups at data scale). */
  def p2PercentileDist(s: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedPercentile.groupPercentiles(
      Tables(s, dir, "lineitem"), "l_returnflag", "l_quantity",
      Seq("p50" -> 0.5, "p90" -> 0.9))

  private val p2Sql: String =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.5) AS p50,
      | quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("m1_minhash_neardup", m1MinhashNeardup, m1Sql),
    Query("m2_simhash_neardup", m2SimhashNeardup, m2Sql),
    Query("m3_sketch_calibration", m3SketchCalibration, m3Sql),
    Query("m4_kmv_distinct", m4KmvDistinct, m4Sql),
    Query("m5_kmv_overlap", m5KmvOverlap, m5Sql),
    Query("m6_cms_heavy", m6CmsHeavy, m6Sql),
    Query("a1_ann_topk", a1AnnTopk, a1Sql),
    Query("a2_embedding_neardup", a2EmbeddingNeardup, a2Sql),
    Query("a4_semdedup", a4SemDedup, a4Sql),
    // the at-rest index serve must reproduce a4's sweep exactly
    Query("a8_semdedup_at_rest", a8SemDedupAtRest, a4Sql),
    Query("a9_semdedup_verdicts_at_rest", a9SemDedupVerdictsAtRest, a4Sql),
    Query("a7_semantic_decontam", a7SemanticDecontam, a7Sql),
    Query("a5_rolling_semdedup", a5RollingSemDedup, a5Sql),
    Query("a6_asof_semdedup", a6AsofSemDedup, a6Sql),
    Query("i1_ivf_topk", i1IvfTopk, i1Sql),
    Query("i12_ivf_bq_rerank", i12IvfBqRerank, i12Sql),
    Query("i2_pq_topk", i2PqTopk, i2Sql),
    Query("i3_ivf_pq_rerank", i3IvfPqRerank, i3Sql),
    Query("i4_pq_distortion", i4PqDistortion, i4Sql),
    Query("i5_ann_at_rest", i5AnnAtRest, i3Sql), // same answer, served from artifacts
    Query("i6_ivf_recall", i6IvfRecall, i6Sql),
    Query("i7_filtered_ann", i7FilteredAnn, i7Sql),
    Query("i8_incremental_ivf", i8IncrementalIvf, i8Sql),
    Query("i9_grown_recall", i9GrownRecall, i9Sql),
    Query("i10_retrain_loop", i10RetrainLoop, i10Sql),
    // same answer, baseline audit read from the at-rest artifact
    Query("i10b_retrain_at_rest", i10RetrainAtRest, i10Sql),
    Query("i11_asof_ann", i11AsofAnn, i11Sql),
    Query("i13_ann_deletes", i13AnnDeletes, i13Sql),
    Query("s1_skew_agg", s1SkewAgg, s1Sql),
    Query("s2_skew_join", s2SkewJoin, s2Sql),
    Query("s3_adaptive_skew_join", s3AdaptiveSkewJoin, s3Sql),
    Query("s4_bucketed_join", s4BucketedJoin, s4Sql),
    Query("b1_bloom_join", b1BloomJoin, b1Sql),
    Query("b2_bloom_anti_join", b2BloomAntiJoin, b2Sql),
    Query("p2_percentile_dist", p2PercentileDist, p2Sql))
}
