package graft.operators

import org.apache.spark.sql.DataFrame

/** The one rule for planning small inputs: a frame whose optimizer size
  * estimate is at or below a cutoff runs on one partition, so its
  * aggregates, distincts and sorts plan with no `Exchange` and no AQE
  * query stage. The NL engine applies it to its domain tables and the
  * rolling fuzzy index to each wave and each probe. */
object SizeRule {

  /** The largest frame, by the optimizer's size estimate, that is planned
    * as one partition. For parquet the estimate is the bytes of the
    * compressed files: the ERA5 shape takes about 6 bytes a row, so 8 MiB
    * is about 1.4M rows. Measured on 4 cores (`local[4]`, 4 files, ERA5
    * questions, median of 80 each, one partition vs the parallel scan):
    * 6.4 MB 219 vs 237 ms, 8.5 MB 250 vs 267 ms, 10.6 MB 223 vs 224 ms,
    * 12.9 MB 259 vs 241 ms, 17.0 MB 290 vs 243 ms (README "NL engine").
    * The cutoff sits below the ~11 MB crossing because more cores make
    * the parallel scan faster and move the crossing down. */
  val SinglePartitionMaxBytes: Long = 8L << 20

  /** Whether the optimizer's size estimate for `df` is at or below
    * `maxBytes`. The estimate reads metadata only and runs no job. */
  def isSmall(df: DataFrame, maxBytes: Long = SinglePartitionMaxBytes): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes

  /** `df.coalesce(1)` when `df` [[isSmall]], else `df` unchanged. Filters
    * and column pruning still push below the coalesce. */
  def singlePartitionIfSmall(df: DataFrame,
                             maxBytes: Long = SinglePartitionMaxBytes): DataFrame =
    if (isSmall(df, maxBytes)) df.coalesce(1) else df
}
