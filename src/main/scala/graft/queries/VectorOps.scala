package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding-column operators (north-star similarity search, SURVEY §7.2
  * phase 8): brute-force cosine top-k as the exact baseline, plus
  * per-label vector statistics. The LSH-bucketed approximate variant lives
  * in `graft.operators.AnnSearch` and is spec-tested for recall against
  * v1's exact result.
  *
  * All arithmetic is promoted to double *before* the dot product
  * (`array<float>` → `array<double>`) and accumulated in element order, so
  * Spark's `aggregate(zip_with(...))` and DuckDB's `list_dot_product` over
  * `DOUBLE[]` produce bit-identical results.
  */
object VectorOps extends QueryFamily {

  /** Sequential-order dot product — `graft.functions.DotProduct`
    * (codegen'd primitive loop, bit-identical to the aggregate/zip_with
    * fold and to DuckDB's list_dot_product). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** v1: exact brute-force cosine top-5 neighbors for 3 query vectors.
    * The query side is tiny → broadcast; the corpus side streams through
    * one projection+window. At 100 TB the same plan holds with the query
    * batch broadcast against a partitioned corpus; rank ties break on
    * neighbor id so the result is total-ordered. */
  def v1KnnBrute(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("emb"), col("emb")))), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cos"),
        col("rk").cast("long").as("rk"))
      .orderBy("q_id", "rk")
  }

  private val v1Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    ROUND(list_dot_product(q_emb, emb) /
      |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
      |  FROM q CROSS JOIN e WHERE vec_id <> q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, vec_id AS neighbor, cos, rk
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** v2: per-label vector profile — count, dimensionality, exact decimal
    * sum of L2 norms (norms are per-row deterministic; the cross-row sum
    * goes through DECIMAL so aggregation order can't perturb bits). */
  def v2LabelStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    e.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(size(col("emb"))).as("dim"),
        sum(round(col("norm"), 6).cast("decimal(38,6)")).cast("double").as("sum_norm"))
      .orderBy("label")
  }

  private val v2Sql =
    """SELECT label, COUNT(*) AS n_vecs,
      | CAST(MIN(len(embedding)) AS INTEGER) AS dim,
      | CAST(SUM(CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
      |     AS DECIMAL(38,6))) AS DOUBLE) AS sum_norm
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** v3: per-label embedding centroid (class prototypes — the embedding
    * pipeline's nearest-class-mean / few-shot-prototype primitive), one
    * row per (label, dimension) so the oracle compares flat scalars.
    * posexplode runs in-partition and the per-(label, pos) mean partial-
    * aggregates map-side, so the shuffle carries ≤ |labels|·dim rows per
    * partition — never the corpus. Means round to 6 (the engine-
    * portability convention for cross-row double averages). */
  /** Shared centroid convention for v3/v5: per-(label, dimension) mean
    * rounded to 6 dp — the rounding is what pins the doubles bit-identical
    * across engines, so BOTH queries (and both oracle CTEs, see
    * [[centroidCte]]) must move together if it ever changes. */
  private def centroidAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(roundKeepSign(avg(col("col")), 6).as("centroid"), count(lit(1)).as("n_vecs"))

  /** `round(x, scale)` that keeps the sign of a negative value rounding
    * to zero. Spark rounds through BigDecimal, which has no negative
    * zero, so a mean in (−5e−7, 0) rounds to `0.0` at 6 dp; DuckDB's
    * `ROUND` gives `-0.0`. Every other value is `round`'s own. */
  private[graft] def roundKeepSign(x: Column, scale: Int): Column = {
    val r = round(x, scale)
    when(x < 0 && r === 0.0, lit(-0.0)).otherwise(r)
  }

  /** DuckDB replay of [[centroidAgg]] as a CTE body (label, pos,
    * centroid, n_vecs). */
  private val centroidCte: String =
    s"""SELECT label, CAST(j AS INTEGER) AS pos,
       | ROUND(AVG(emb[CAST(j AS INTEGER) + 1]), 6) AS centroid,
       | COUNT(*) AS n_vecs
       |FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings) e
       |CROSS JOIN range(${graft.operators.AnnSearch.Dim}) t(j)
       |GROUP BY label, j""".stripMargin

  def v3LabelCentroid(s: SparkSession, dir: String): DataFrame =
    centroidAgg(s, dir).orderBy("label", "pos")

  private val v3Sql: String =
    s"""WITH cent AS ($centroidCte)
       |SELECT label, pos, centroid, n_vecs FROM cent
       |ORDER BY label, pos""".stripMargin

  /** v4: int8 scalar quantization of the embedding column
    * (`operators.VectorQuant` — the SQ8 storage tier). Per-row only,
    * zero shuffle; codes serialize to a csv string so the oracle
    * compares flat scalars, and the max reconstruction error is emitted
    * per vector (bounded by scale/2, spec-pinned). */
  def v4QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorQuant._
    val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    e.withColumn("scale", sq8Scale(col("emb")))
      .withColumn("codes", sq8Codes(col("emb"), col("scale")))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", transform(col("codes"), c => c.cast("string"))).as("codes_str"),
        array_max(zip_with(col("emb"), col("codes"),
          (x, c) => abs(x - c.cast("double") * col("scale")))).as("max_abs_err"))
      .orderBy("vec_id")
  }

  private val v4Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 50),
       |s AS (SELECT vec_id, emb,
       |  list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e),
       |q AS (SELECT vec_id, emb, scale,
       |  CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
       |       ELSE list_transform(emb, x ->
       |         CAST(GREATEST(-127, LEAST(127, FLOOR(x / scale + 0.5))) AS INTEGER)) END AS codes
       |  FROM s)
       |SELECT vec_id, scale,
       |  array_to_string(codes, ',') AS codes_str,
       |  list_max(list_transform(range(${graft.operators.AnnSearch.Dim}), j ->
       |    abs(emb[CAST(j AS INTEGER) + 1] - codes[CAST(j AS INTEGER) + 1] * scale))) AS max_abs_err
       |FROM q ORDER BY vec_id""".stripMargin

  /** v5: label-centroid cosine similarity matrix — which classes look
    * alike in embedding space (the prototype-confusability report used to
    * spot mislabeled or collapsible classes). Centroids are v3's rounded
    * per-dimension means — the rounding pins them bit-identical across
    * engines, so the downstream cosine (sequential-fold dots, sqrt,
    * divide: all correctly-rounded ops in fixed order) is engine-exact.
    * The corpus is touched once in the centroid aggregate; the pairwise
    * step is a broadcast self-join of the |labels|-row centroid table,
    * never a corpus product. */
  def v5CentroidSim(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val vecs = centroidAgg(s, dir)
      .select(col("label"), col("pos"), col("centroid").as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("v"))
    val a = vecs.select(col("label").as("label_a"), col("v").as("va"))
    val b = vecs.select(col("label").as("label_b"), col("v").as("vb"))
    broadcast(a).join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb")))), 6)
          .as("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  private val v5Sql: String =
    s"""WITH cent AS ($centroidCte),
       |vecs AS (SELECT label, list(centroid ORDER BY pos) AS v FROM cent GROUP BY label)
       |SELECT a.label AS label_a, b.label AS label_b,
       |  ROUND(list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
       |    AS cos_sim
       |FROM vecs a JOIN vecs b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin

  /** v6: label-noise detection — for each probe vector (bounded eval
    * subset, broadcast), its 5 nearest corpus neighbors vote; a majority
    * label disagreeing with the probe's own label flags a suspected
    * mislabel (the classic kNN-disagreement sweep over annotation
    * batches). Same cosine convention as v1 (rounded 6dp, vec_id
    * tiebreak); majority ties break to the smallest label. The probe
    * side is the bounded one — at corpus scale the exact scan is the
    * eval-subset path, with a1/i1 as the approximate full-corpus path. */
  def v6LabelNoise(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("emb"), col("emb")))), 6))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val top5 = scored.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 5)
    val cnt = top5.groupBy(col("q_id"), col("q_label"), col("label"))
      .agg(count(lit(1)).as("n"))
    val agree = cnt.groupBy(col("q_id"))
      .agg(sum(when(col("label") === col("q_label"), col("n")).otherwise(0L))
        .as("n_agree"))
    val wWin = Window.partitionBy(col("q_id")).orderBy(col("n").desc, col("label"))
    val win = cnt.withColumn("wrk", row_number().over(wWin)).filter(col("wrk") === 1)
      .select(col("q_id"), col("q_label"), col("label").as("majority_label"),
        col("n").as("n_major"))
    win.join(agree, Seq("q_id"))
      .select(col("q_id"), col("q_label"), col("majority_label"),
        col("n_major"), col("n_agree"),
        (col("majority_label") =!= col("q_label")).as("flagged"))
      .orderBy("q_id")
  }

  private val v6Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
      |      FROM e WHERE vec_id < 50),
      |sc AS (
      |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
      |    ROUND(list_dot_product(q.q_emb, e.emb) /
      |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
      |       sqrt(list_dot_product(e.emb, e.emb))), 6) AS cos
      |  FROM q JOIN e ON e.vec_id <> q.q_id),
      |top AS (
      |  SELECT * FROM (SELECT *, row_number() OVER
      |      (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sc)
      |  WHERE rk <= 5),
      |cnt AS (SELECT q_id, q_label, label, COUNT(*) AS n
      |        FROM top GROUP BY q_id, q_label, label),
      |agree AS (
      |  SELECT q_id,
      |    CAST(COALESCE(SUM(CASE WHEN label = q_label THEN n END), 0) AS BIGINT)
      |      AS n_agree
      |  FROM cnt GROUP BY q_id),
      |win AS (
      |  SELECT q_id, q_label, label AS majority_label, n AS n_major FROM
      |    (SELECT *, row_number() OVER
      |       (PARTITION BY q_id ORDER BY n DESC, label) AS wrk FROM cnt)
      |  WHERE wrk = 1)
      |SELECT win.q_id, q_label, majority_label, n_major, n_agree,
      |  majority_label <> q_label AS flagged
      |FROM win JOIN agree ON win.q_id = agree.q_id
      |ORDER BY win.q_id""".stripMargin

  // v7 constants shared by the Spark query and its SQL replay
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambdaNum = 7
  private val MmrLambdaDen = 10

  /** v7: MMR-diversified top-5 (`operators.MmrRerank`) for the same 3
    * query vectors as v1 — relevance discounted by similarity to the
    * already-selected set, λ = 7/10 over a 20-candidate pool. The oracle
    * unrolls all five greedy steps into CTEs over the SAME integer-lifted
    * relevance/similarity tables, so the selection chain itself is
    * hash-verified against an independent statement of the recurrence
    * (`7·rel_ppm − 3·max sim_ppm-to-selected`, ties to the smaller id),
    * not just the final ids. */
  def v7MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    graft.operators.MmrRerank.diversifiedTopK(
        e.filter(col("vec_id") < 3), e, "vec_id", "emb",
        poolSize = MmrPool, k = MmrK,
        lambdaNum = MmrLambdaNum, lambdaDen = MmrLambdaDen)
      .orderBy("q_id", "rk")
  }

  private val v7Sql: String = {
    // integer scoring: λ = 7/10 as a rational, cosines lifted to exact
    // micro-units — `score = 7·relppm − 3·max(simppm)` is pure BIGINT
    // arithmetic, no FP rounding boundary can diverge between engines.
    // The greedy CTEs come from the shared generator so the recurrence
    // text cannot drift between the MMR oracles (v7, h8)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
       |sc AS (
       |  SELECT q.q_id, e.vec_id, e.emb,
       |    ROUND(list_dot_product(q.q_emb, e.emb) /
       |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
       |       sqrt(list_dot_product(e.emb, e.emb))), 6) AS rel
       |  FROM q JOIN e ON e.vec_id <> q.q_id),
       |pool AS (
       |  SELECT q_id, nid, emb,
       |    CAST(ROUND(rel * 1000000.0) AS BIGINT) AS relppm FROM (
       |    SELECT q_id, vec_id AS nid, emb, rel,
       |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rk
       |    FROM sc) z
       |  WHERE rk <= $MmrPool),
       |sims AS (
       |  SELECT a.q_id, a.nid AS id_a, b.nid AS id_b,
       |    CAST(ROUND(ROUND(list_dot_product(a.emb, b.emb) /
       |      (sqrt(list_dot_product(a.emb, a.emb)) *
       |       sqrt(list_dot_product(b.emb, b.emb))), 6) * 1000000.0) AS BIGINT) AS simppm
       |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.nid <> b.nid),
       |${graft.operators.MmrRerank.greedySelSql(MmrK, MmrLambdaNum, MmrLambdaDen)}
       |SELECT q_id, rk, nid AS neighbor, CAST(mmr_e7 AS BIGINT) AS mmr_e7
       |FROM (${(1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY q_id, rk""".stripMargin
  }

  // v11 constants shared by the Spark query and its SQL replay
  private val V11Dims = 16
  private val V11K = 5

  /** v11: MATRYOSHKA truncation audit — recall@[[V11K]] of cosine
    * retrieval over the FIRST [[V11Dims]] of 64 dimensions against the
    * full-dimension ranking (Kusupati et al. 2022: MRL-style prefix
    * truncation is the production storage/latency lever — 4× fewer
    * bytes scanned per candidate — and this table is the evidence for
    * choosing the truncation point, exactly as i6's recall table is
    * for nprobe). Both rankings are exact brute-force windows with id
    * tie-breaks; recall is an integer ppm floor — fully deterministic,
    * so the oracle replays both rankings rather than tolerating
    * approximation. */
  def v11MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("temb", slice(col("emb"), 1, V11Dims))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("temb").as("q_temb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cf",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6))
      .withColumn("ct",
        round(dot(col("q_temb"), col("temb")) /
          (sqrt(dot(col("q_temb"), col("q_temb"))) *
            sqrt(dot(col("temb"), col("temb")))), 6))
    def win(c: String) = Window.partitionBy(col("q_id"))
      .orderBy(col(c).desc, col("vec_id"))
    val full = scored.withColumn("rk", row_number().over(win("cf")))
      .filter(col("rk") <= V11K).select(col("q_id"), col("vec_id"))
    val trunc = scored.withColumn("rk", row_number().over(win("ct")))
      .filter(col("rk") <= V11K).select(col("q_id"), col("vec_id"))
    val overlap = full.join(trunc, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("q_id"))
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm",
        expr(s"(1000000 * n_overlap) div $V11K"))
      .orderBy("q_id")
  }

  private val v11Sql: String = {
    def cos(a: String, b: String) =
      s"ROUND(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  (embedding::DOUBLE[])[1:$V11Dims] AS temb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, temb AS q_temb
       |      FROM e WHERE vec_id < 3),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    ${cos("q_emb", "emb")} AS cf, ${cos("q_temb", "temb")} AS ct
       |  FROM q CROSS JOIN e WHERE vec_id <> q_id),
       |fw AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cf DESC, vec_id) AS rk
       |  FROM scored) z WHERE rk <= $V11K),
       |tw AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY ct DESC, vec_id) AS rk
       |  FROM scored) z WHERE rk <= $V11K),
       |ov AS (SELECT fw.q_id, COUNT(*) AS n_overlap
       |       FROM fw JOIN tw ON tw.q_id = fw.q_id AND tw.vec_id = fw.vec_id
       |       GROUP BY fw.q_id)
       |SELECT q.q_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  (1000000 * COALESCE(ov.n_overlap, 0)) // $V11K AS recall_ppm
       |FROM q LEFT JOIN ov ON ov.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin
  }

  // v13 constants shared by the Spark query and its SQL replay
  private val V13K = 5

  /** v13: BINARY-QUANTIZATION recall audit — recall@[[V13K]] of sign-bit
    * retrieval (1 bit/dim: bit_d = emb[d] > 0, Hamming distance ranked
    * ASCENDING with id tie-break) against the full-precision cosine
    * ranking. BQ is the extreme point of the quantization spectrum the
    * tier already covers (v8's SQ8 at 8 bits, i2/i3's PQ at ~4, v11's
    * MRL at fewer dims): 64× fewer bytes scanned per candidate, and
    * this table is the evidence for whether the BQ scan can serve alone
    * or needs a rerank stage — the audit-before-adopting discipline of
    * i6/v11. Both rankings are exact (integer Hamming, 6dp cosine, id
    * tie-breaks), so the oracle replays both rather than tolerating
    * approximation; recall is an integer ppm floor. */
  def v13BqRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cf",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6))
      // Hamming over the sign bits: count of dims whose signs disagree —
      // a row-local codegen'd zip/filter, the 1-bit analogue of v8's
      // integer coarse dot
      .withColumn("ham", size(filter(
        zip_with(col("q_emb"), col("emb"),
          (a, b) => (a > lit(0.0)) =!= (b > lit(0.0))),
        x => x)).cast("long"))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("cf").desc, col("vec_id"))
    val wb = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("vec_id"))
    val full = scored.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= V13K).select(col("q_id"), col("vec_id"))
    val bq = scored.withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= V13K).select(col("q_id"), col("vec_id"))
    val overlap = full.join(bq, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("q_id"))
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm",
        expr(s"(1000000 * n_overlap) div $V13K"))
      .orderBy("q_id")
  }

  private val v13Sql: String = {
    def cos(a: String, b: String) =
      s"ROUND(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
       |scored AS (
       |  SELECT q_id, vec_id, ${cos("q_emb", "emb")} AS cf,
       |    CAST(len(list_filter(range(1, ${graft.operators.AnnSearch.Dim} + 1),
       |      i -> (q_emb[CAST(i AS INTEGER)] > 0) <> (emb[CAST(i AS INTEGER)] > 0)))
       |      AS BIGINT) AS ham
       |  FROM q CROSS JOIN e WHERE vec_id <> q_id),
       |fw AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cf DESC, vec_id) AS rk
       |  FROM scored) z WHERE rk <= $V13K),
       |bw AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY ham ASC, vec_id) AS rk
       |  FROM scored) z WHERE rk <= $V13K),
       |ov AS (SELECT fw.q_id, COUNT(*) AS n_overlap
       |       FROM fw JOIN bw ON bw.q_id = fw.q_id AND bw.vec_id = fw.vec_id
       |       GROUP BY fw.q_id)
       |SELECT q.q_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  (1000000 * COALESCE(ov.n_overlap, 0)) // $V13K AS recall_ppm
       |FROM q LEFT JOIN ov ON ov.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin
  }

  // v8 constants shared by the Spark query and its SQL replay
  private val Sq8Pool = 20
  private val Sq8K = 5

  /** v8: two-stage retrieval over the SQ8 storage tier (the FAISS-style
    * production shape): a COARSE scan ranks the whole corpus by the
    * integer dot product of int8 codes — pure 64-bit-exact arithmetic
    * over the ~3.5×-smaller quantized column, the scan a 100 TB corpus
    * would actually run — then the top-20 pool is re-ranked EXACTLY with
    * full-precision cosine. Each stage is deterministic (integer coarse
    * scores, 6dp-rounded rerank, id tie-breaks), so the oracle replays
    * the full quantize→coarse→rerank chain rather than comparing to
    * brute force; recall vs v1 is spec territory (see IvfSearchSpec for
    * the a1/i1 precedent). */
  def v8Sq8Rerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    import graft.operators.VectorQuant._
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val coded = e
      .withColumn("scale", sq8Scale(col("emb")))
      // codes ride as double arrays so the coarse dot reuses the codegen'd
      // sequential-fold expression; products of ints ≤ 127 stay exact
      .select(col("vec_id"), col("emb"),
        sq8Codes(col("emb"), col("scale")).cast("array<double>").as("dc"))
    val q = coded.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("dc").as("q_dc"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("idot").desc, col("vec_id"))
    val pool = broadcast(q).join(coded, col("vec_id") =!= col("q_id"))
      .withColumn("idot", dot(col("q_dc"), col("dc")).cast("long"))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= Sq8Pool)
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    pool
      .withColumn("cos",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("emb"), col("emb")))), 6))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= Sq8K)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("idot"),
        col("cos"), col("rk").cast("long").as("rk"))
      .orderBy("q_id", "rk")
  }

  private val v8Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |s AS (SELECT vec_id, emb,
       |  list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e),
       |qz AS (SELECT vec_id, emb,
       |  CASE WHEN scale = 0 THEN list_transform(emb, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(emb, x -> CAST(CAST(GREATEST(-127, LEAST(127,
       |         FLOOR(x / scale + 0.5))) AS INTEGER) AS DOUBLE)) END AS dc
       |  FROM s),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, dc AS q_dc FROM qz WHERE vec_id < 3),
       |co AS (
       |  SELECT q.q_id, q.q_emb, z.vec_id, z.emb,
       |    CAST(list_dot_product(q.q_dc, z.dc) AS BIGINT) AS idot
       |  FROM q JOIN qz z ON z.vec_id <> q.q_id),
       |pool AS (
       |  SELECT * FROM (SELECT *, row_number() OVER
       |      (PARTITION BY q_id ORDER BY idot DESC, vec_id) AS crk FROM co) z
       |  WHERE crk <= $Sq8Pool),
       |r AS (
       |  SELECT q_id, vec_id, idot,
       |    ROUND(list_dot_product(q_emb, emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) *
       |       sqrt(list_dot_product(emb, emb))), 6) AS cos
       |  FROM pool)
       |SELECT q_id, vec_id AS neighbor, idot, cos, CAST(rk AS BIGINT) AS rk FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
       |   FROM r) z
       |WHERE rk <= $Sq8K ORDER BY q_id, rk""".stripMargin

  /** v10: embedding-column health audit — vector count, zero-norm count
    * (the rows that poison cosine math and get filtered by v7/a1; here
    * they are COUNTED so the pipeline can alarm), and the p50/p90 norm.
    * Norms are the sequential-fold dot + correctly-rounded sqrt, rounded
    * to the 6dp grid BEFORE the percentiles, so both engines interpolate
    * over identical operands (the p2 quantile_cont parity). The audit a
    * vector tier runs before building any index. */
  def v10NormAudit(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val norms = Tables(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("emb"))
      .select(round(sqrt(dot(col("emb"), col("emb"))), 6).as("norm"),
        lit("all").as("g"))
    val counts = norms.agg(count(lit(1)).as("n_vectors"),
      sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
    val ps = graft.operators.DistributedPercentile
      .groupPercentiles(norms, "g", "norm",
        Seq("p50_norm" -> 0.5, "p90_norm" -> 0.9))
      .drop("g")
    counts.crossJoin(ps) // 1-row × 1-row
  }

  private val v10Sql: String =
    """WITH n AS (
      |  SELECT ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
      |  FROM embeddings)
      |SELECT COUNT(*) AS n_vectors,
      |  CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  quantile_cont(norm, 0.5) AS p50_norm,
      |  quantile_cont(norm, 0.9) AS p90_norm
      |FROM n""".stripMargin

  /** v9: dominant embedding direction — the SPECTRAL diagnostic a
    * vector tier runs before trusting an index layout: the top
    * eigenvector/eigenvalue of the corpus second-moment (Gram/n-free)
    * matrix T = Σ x·xᵀ, via the textbook two-stage shape:
    *
    *   1. DISTRIBUTED: T's dim² entries as one hash aggregate over the
    *      double-posexploded (i, j, xi·xj) stream — map-side partial
    *      sums, shuffle carries dim² groups, never rows. The collect is
    *      bounded by dim² (4096 entries), not the corpus.
    *   2. DRIVER: 3 deterministic power iterations from the normalized
    *      all-ones start on the ROUNDED T (6dp — the v3 precedent that
    *      absorbs double-sum ordering), every step a sequential fold,
    *      so the oracle replays bit-identical doubles via
    *      `list_dot_product` CTE chains.
    *
    * A dominant eigenvalue close to the total second-moment mass means
    * the embeddings collapse onto one axis (bad for IVF/PQ routing);
    * the first components show which axis. At 100 TB stage 1 is the
    * only data-touching pass; stage 2 is O(dim²) anywhere. */
  def v9TopEigen(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.operators.AnnSearch.Dim
    val e = Tables(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("emb"))
    val ex1 = e.select(col("emb"), posexplode(col("emb")).as(Seq("i", "xi")))
    val tEntries = ex1
      .select(col("i"), col("xi"), posexplode(col("emb")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("xi") * col("xj")), 6).as("t"))
      .collect() // bounded: dim² rows of (i, j, t)
    val T = Array.ofDim[Double](dim, dim)
    tEntries.foreach(r => T(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += T(i)(j) * v(j); j += 1 } // sequential fold
        acc
      }
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var j = 0
      while (j < dim) { acc += a(j) * b(j); j += 1 }
      acc
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    (0 until 3).foreach { _ =>
      val w = matvec(v)
      val n = math.sqrt(dotSeq(w, w))
      v = w.map(_ / n)
    }
    val lambda = dotSeq(v, matvec(v)) // Rayleigh quotient
    // HALF_UP (away from zero) matches DuckDB's ROUND on doubles
    def r(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    (0 until 8).map(p => (p.toLong, r(v(p), 6), r(lambda, 4)))
      .toDF("pos", "component", "eigenvalue")
  }

  private val v9Sql: String = {
    val dim = graft.operators.AnnSearch.Dim
    def iter(n: Int): String =
      s"""w$n AS (
         |  SELECT i, list_dot_product(row, (SELECT v FROM v${n - 1})) AS w
         |  FROM trows),
         |v$n AS (
         |  SELECT list(w / sqrt((SELECT list_dot_product(list(w ORDER BY i),
         |    list(w ORDER BY i)) FROM w$n)) ORDER BY i) AS v
         |  FROM w$n)""".stripMargin
    s"""WITH tmat AS (
       |  SELECT CAST(a.i AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
       |    ROUND(SUM(emb[CAST(a.i AS INTEGER) + 1] * emb[CAST(b.j AS INTEGER) + 1]), 6) AS t
       |  FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings) e
       |  CROSS JOIN range($dim) a(i) CROSS JOIN range($dim) b(j)
       |  GROUP BY a.i, b.j),
       |trows AS (SELECT i, list(t ORDER BY j) AS row FROM tmat GROUP BY i),
       |v0 AS (SELECT list_transform(range($dim), x -> 1.0 / sqrt(${dim}.0)) AS v),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |tv AS (
       |  SELECT i, list_dot_product(row, (SELECT v FROM v3)) AS w FROM trows),
       |lam AS (
       |  SELECT list_dot_product((SELECT v FROM v3), list(w ORDER BY i)) AS l
       |  FROM tv)
       |SELECT CAST(p AS BIGINT) AS pos,
       |  ROUND(v[CAST(p AS INTEGER) + 1], 6) AS component,
       |  ROUND((SELECT l FROM lam), 4) AS eigenvalue
       |FROM v3 CROSS JOIN range(8) t(p)
       |ORDER BY pos""".stripMargin
  }

  /** a3: CROSS-MODAL quality↔typicality audit — per-language Pearson
    * correlation between the d3 text-quality score and the document
    * embedding's TYPICALITY (cosine to its label's centroid, v3's
    * derivation; the raw norm is useless here — the corpus is
    * unit-normalized, v10's audit shows every norm is exactly 1.0).
    * This is the alignment check a multimodal corpus build runs before
    * trusting either signal as a filter: strong correlation means one
    * is redundant, negative means they disagree about what "good" is.
    * Exactness follows d37's recipe — both variables live on 1e-6
    * integer grids (quality ppm; the 6dp cosine lifted to ppm), five
    * DECIMAL(38,0) moments, one correctly-rounded double division at
    * the end. Scale shape: the |labels|·dim centroid table broadcasts
    * onto the embeddings scan, one equi-join on the 1:1
    * doc_id↔vec_id key, then a |langs|-row aggregate. */
  def a3QualityTypicalityCorr(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    val d38 = Conventions.Dec38
    val charLen = length(col("text"))
    val tokens = charLen - length(expr("replace(text, ' ', '')")) + 1
    val punct = (charLen - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .cast("double")
    val quality = round(
      least(lit(1.0), tokens.cast("double") / lit(200.0)) *
        (lit(1.0) - least(lit(1.0), punct / charLen.cast("double") * 10)), 6)
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        round(quality * 1e6).cast("long").as("y"))
    val cents = centroidAgg(s, dir)
      .select(col("label"), col("pos"), col("centroid").as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
        .as("cv"))
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .join(broadcast(cents), "label")
      .select(col("doc_id"),
        round(round(dot(col("emb"), col("cv")) /
          (sqrt(dot(col("emb"), col("emb"))) * sqrt(dot(col("cv"), col("cv")))),
          6) * 1e6).cast("long").as("x"))
    val g = docs.join(emb, "doc_id")
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
        (cov / (sqrt(vx) * sqrt(vy))).as("corr_quality_typicality"))
      .orderBy("lang")
  }

  private val a3Sql: String =
    s"""WITH cent AS ($centroidCte),
      |vecs AS (SELECT label, list(centroid ORDER BY pos) AS cv FROM cent GROUP BY label),
      |dx AS (
      |  SELECT e.vec_id AS doc_id,
      |    CAST(ROUND(ROUND(list_dot_product(e.emb, v.cv) /
      |      (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.cv, v.cv))),
      |      6) * 1e6, 0) AS BIGINT) AS x
      |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) e
      |  JOIN vecs v USING (label)),
      |dy AS (
      |  SELECT doc_id, lang,
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
      |  FROM dy JOIN dx USING (doc_id) GROUP BY lang)
      |SELECT lang, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_quality_typicality
      |FROM m ORDER BY lang""".stripMargin

  /** v12: hard-negative mining — for each query vector, the top-5 most
    * cosine-similar vectors with a DIFFERENT label: the contrastive-
    * training pair miner (hard negatives are what make embedding/reranker
    * fine-tunes work; random negatives are too easy to be informative).
    *
    * Shape: v1's broadcast-query scan with the cross-label constraint,
    * but the per-query top-k runs through the [[graft.functions.TopKPairs]]
    * bounded-heap aggregate instead of a row_number window — the corpus
    * rows die at the mappers (≤ k pairs per query survive per mapper),
    * which is the difference between shuffling |corpus| scored rows and
    * shuffling k·|queries| at deployment scale. Oracle replays the
    * window form — same answer, sort-free machine. */
  def v12HardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    graft.functions.SketchFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"))
    broadcast(q)
      .join(e, col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("cos",
        round(dot(col("q_emb"), col("emb")) /
          (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("emb"), col("emb")))), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.SketchFunctions
        .topkPairs(col("cos"), col("vec_id"), 5).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("neighbor"),
        col("col.score").as("cos"), (col("pos") + 1).cast("long").as("rk"))
      .orderBy("q_id", "rk")
  }

  private val v12Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb FROM e WHERE vec_id < 3),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    ROUND(list_dot_product(q_emb, emb) /
      |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))), 6) AS cos
      |  FROM q CROSS JOIN e WHERE vec_id <> q_id AND label <> q_label),
      |ranked AS (
      |  SELECT q_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, vec_id AS neighbor, cos, rk
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("v12_hard_negatives", v12HardNegatives, v12Sql),
    Query("v8_sq8_rerank", v8Sq8Rerank, v8Sql),
    Query("v9_top_eigen", v9TopEigen, v9Sql),
    Query("v11_matryoshka_recall", v11MatryoshkaRecall, v11Sql),
    Query("v13_bq_recall", v13BqRecall, v13Sql),
    Query("v10_norm_audit", v10NormAudit, v10Sql),
    Query("a3_quality_typicality_corr", a3QualityTypicalityCorr, a3Sql),
    Query("v7_mmr_rerank", v7MmrRerank, v7Sql),
    Query("v1_knn_brute", v1KnnBrute, v1Sql),
    Query("v2_label_stats", v2LabelStats, v2Sql),
    Query("v3_label_centroid", v3LabelCentroid, v3Sql),
    Query("v4_quantize_int8", v4QuantizeInt8, v4Sql),
    Query("v5_centroid_sim", v5CentroidSim, v5Sql),
    Query("v6_label_noise", v6LabelNoise, v6Sql))
}
