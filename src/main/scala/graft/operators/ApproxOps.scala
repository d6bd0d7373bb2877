package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate aggregation surface — the sketches a 100 TB deployment
  * actually runs when exactness is negotiable (SURVEY §2.4 statistics
  * surface, scale tier):
  *
  *   - `approx_count_distinct` (HyperLogLog++): O(1) state per group vs
  *     the exact two-phase expand whose shuffle carries every distinct
  *     (group, value) pair — the difference between a metrics query that
  *     runs in seconds and one that reshuffles the corpus;
  *   - `approx_percentile` (quantile sketch): bounded state vs
  *     `percentile()`'s whole-group buffer (see
  *     [[DistributedPercentile]] for the exact-but-scalable middle
  *     ground).
  *
  * These are deliberately NOT oracle-checked: sketch internals are
  * engine-private, so DuckDB cannot replay them value-for-value (NOTES
  * "approx sketches do NOT match"). Their contract is accuracy-bounded
  * instead, and ApproxOpsSpec pins the error envelope against the exact
  * answers on testdata.
  */
object ApproxOps {

  /** Per-group approximate distinct count next to the exact one the
    * caller can cross-check on samples. `rsd` is HLL++'s target relative
    * standard deviation (default 5%). */
  def approxDistinct(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(s"approx_${valueCol}"))

  /** Per-group approximate percentiles; `accuracy` trades state size for
    * rank error (err <= 1/accuracy of the rank). */
  def approxPercentiles(df: DataFrame, keyCols: Seq[String], valueCol: String,
                        ps: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        array(ps.map(lit): _*), lit(accuracy)).as("approx_ps"))

  /** Heavy hitters via Count-Min Sketch (Cormode & Muthukrishnan 2005):
    * items whose frequency is at least `minShare` of the stream, found
    * with O(1/eps · ln(1/δ)) sketch state instead of the exact
    * groupBy-count whose shuffle carries every distinct item — the
    * hot-key detector that feeds [[SkewAgg]]/[[SkewJoin]] salting
    * decisions without a full pre-aggregation pass.
    *
    * Two bounded passes over the column: the built-in `count_min_sketch`
    * aggregate (mergeable map-side partial state, one tiny binary to the
    * driver) plus a content-hash row sample whose per-item counts
    * nominate candidates (any true `minShare` hitter appears in a 5%
    * sample with overwhelming probability for the stream sizes where a
    * sketch matters; the candidate cap bounds driver memory). Candidate
    * counts are then read from the sketch, which never underestimates —
    * so the result can contain false positives near the threshold but no
    * false negatives among sampled candidates (CMS one-sided error).
    *
    * Nomination is DETERMINISTIC in row CONTENT, not partition layout:
    * rows are kept when `xxhash64(idCol | whole row) % sampleRate == 0`,
    * so the same multiset of rows nominates the same candidates however
    * the data is partitioned (DataFrame.sample is seeded per-partition
    * and would not). Pass `idCol` (a unique row id) when available — with
    * it the sample is a true independent row sample. Without it the hash
    * falls back to the full row struct, so rows that are byte-identical
    * across EVERY column sample as a block (all kept or all dropped); a
    * hot value whose rows are fully identical can then be missed, which
    * is the price of layout-independence on id-less data.
    *
    * String-typed column only (the common hot-key case); `eps` bounds the
    * overestimate at eps·N with confidence `confidence`. */
  def heavyHitters(df: DataFrame, valueCol: String, minShare: Double = 0.01,
                   eps: Double = 0.001, confidence: Double = 0.99,
                   sampleRate: Int = 20, maxCandidates: Int = 10000,
                   idCol: Option[String] = None): DataFrame = {
    require(minShare > 0 && minShare <= 1, s"minShare out of (0,1]: $minShare")
    require(df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"heavyHitters supports string columns only; $valueCol is " +
        df.schema(valueCol).dataType.simpleString)
    val spark = df.sparkSession
    import org.apache.spark.util.sketch.CountMinSketch
    val agg = df.agg(
      count(col(valueCol)).as("n"),
      count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(42)).as("cms"))
      .head()
    import spark.implicits._
    val total = agg.getLong(0)
    if (total == 0L)
      return Seq.empty[(String, Long)].toDF("item", "est_count")
    val cms = CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]](1)))
    // content-hash 1/sampleRate ROW sample -> candidate list (sampling by
    // value hash alone would drop entire items; hashing the row id — or
    // the whole row when no id exists — keeps the sample a ROW sample
    // while staying independent of partition layout), capped so the
    // driver collect stays bounded even on adversarial data
    val rowKey = idCol.map(col).getOrElse(struct(df.columns.map(col): _*))
    val candidates = df
      .filter(col(valueCol).isNotNull) // sketch + count skip nulls; a null
      .filter(pmod(xxhash64(rowKey, lit(42)), lit(sampleRate)) === 0) // candidate would crash estimateCount
      .groupBy(col(valueCol)).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col(valueCol))
      .limit(maxCandidates)
      .collect().map(_.getString(0))
    val thresh = (minShare * total).toLong
    val hits = candidates
      .map(v => (v, cms.estimateCount(v)))
      .filter(_._2 >= thresh)
      .sortBy { case (v, c) => (-c, v) }
    spark.createDataFrame(hits.toSeq).toDF("item", "est_count")
  }
}
