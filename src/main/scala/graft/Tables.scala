package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * One parquet directory per scale factor; tables are the TPC-H-ish star
  * schema plus `events` (stream-shaped), `documents` and `embeddings`
  * (LLM-data-prep extensions). At 100 TB these would be partitioned /
  * bucketed tables in a catalog; the `DataFrame`-returning accessor keeps
  * every downstream plan declarative so Catalyst can push filters and
  * prune columns into the scan regardless of physical layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any realistic scale
    * (region 5 rows, nation 25 — fixed-cardinality in TPC-H-like data). */
  val broadcastable: Set[String] = Set("region", "nation")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, s"$dir/events.parquet", stream = false)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The events parquet at `path` (a streaming source over it when
    * `stream`, schema pinned from the files), with `ts` as a session-tz
    * TimestampType. events.parquet's ts physical layout has varied
    * across driver testdata generations — TIMESTAMP(NANOS) through
    * round 8, TIMESTAMP(MICROS, isAdjustedToUTC=false) from round 9 —
    * so the loader adapts to what the footer declares instead of
    * assuming:
    *  - NANOS (with nanosAsLong): physical INT64 nanos-since-epoch,
    *    converted by integer division — nanos epochs (~1.7e18) exceed
    *    double's 2^53 exact-integer range, so a floating-point `/ 1000`
    *    would corrupt the microsecond value;
    *  - MICROS (unadjusted → TIMESTAMP_NTZ): cast to session-tz
    *    TimestampType under the UTC session convention — the same
    *    instants the nanos path produced, so every downstream window /
    *    date_format / unix_timestamp behavior is unchanged;
    *  - native timestamps pass through. */
  private[graft] def events(spark: SparkSession, path: String,
      stream: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(path)
    val raw = if (stream) spark.readStream.schema(batch.schema).parquet(path)
      else batch
    batch.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          expr("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
