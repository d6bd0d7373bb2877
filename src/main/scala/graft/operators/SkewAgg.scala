package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resilient aggregation: salted two-phase aggregate for hot keys
  * (the 100 TB lever the SURVEY §7.2 phase-8 design calls for alongside
  * AQE's automatic skew-join splitting).
  *
  * A plain `groupBy(key).agg(...)` sends every row of a hot key to one
  * reducer. Salting splits each key into `salt` sub-groups: phase 1
  * aggregates (key, salt) — spreading a hot key over `salt` reducers —
  * and phase 2 merges the partial results, whose cardinality is
  * |keys|·salt regardless of row skew. Correct for any aggregate with a
  * merge function (sum/count/min/max here; avg = sum+count merged).
  *
  * Note Spark's hash aggregate already does map-side partial
  * aggregation, which absorbs most skew when the key count is small;
  * salting matters when hot keys STILL overflow single reducers after
  * partial agg (high-cardinality keys with heavy tails, e.g. per-user
  * event aggregation where one bot user has 10⁹ events).
  */
object SkewAgg {

  /** Salted sum/count per key. */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     salt: Int = 16): DataFrame = {
    val keys = keyCols.map(col)
    val phase1 = df
      .withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
      .groupBy(keys :+ col("_salt"): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    phase1.groupBy(keys: _*)
      .agg(sum(col("_psum")).as(s"sum_$valueCol"), sum(col("_pcnt")).as("n_rows"))
  }

  /** Salted average (merged from partial sum+count — averaging partial
    * averages would be wrong for uneven salt groups). */
  def saltedAvg(df: DataFrame, keyCols: Seq[String], valueCol: String,
                salt: Int = 16): DataFrame = {
    val keys = keyCols.map(col)
    saltedSumCount(df, keyCols, valueCol, salt)
      .select(keys :+
        (col(s"sum_$valueCol") / col("n_rows")).as(s"avg_$valueCol"): _*)
  }

  /** Top-frequency keys — the skew diagnostic that decides whether
    * salting is warranted (run on a sample at scale). */
  def keyHistogram(df: DataFrame, keyCols: Seq[String], topN: Int = 20): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc)
      .limit(topN)
}
