package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fixtures
import graft.operators.SizeRule
import graft.query._

/** The shared single-partition size rule, on the table shape the NL
  * engine plans with it. */
class SizeRuleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("size rule: a table over the single-partition cutoff keeps its partitioning") {
    // the rule reads the estimate of the table as the engine is given it:
    // for parquet that is the bytes of its (compressed) files, not a
    // row-width estimate
    val dir = java.nio.file.Files.createTempDirectory("size_rule").toFile
    try {
      val path = new java.io.File(dir, "era5")
      Fixtures.era5(spark).repartition(2).write.parquet(path.getPath)
      val era5 = spark.read.parquet(path.getPath)
      val files = path.listFiles().filter(_.getName.endsWith(".parquet"))
      val est = era5.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(files.length == 2 && est == BigInt(files.map(_.length).sum))
      val spec = QuerySpec("era5", where = Seq(Predicate.In("metric", Seq("wind_speed"))),
        groupBy = Seq("City", "metric"),
        aggregations = Seq(Aggregation(AggFn.Avg, "value", "value")),
        orderBy = Seq(Sort("City"), Sort("metric")))
      // plan-only from here: the physical plan before any execution (AQE
      // wraps a global sort even when no exchange is planned)
      def plan(df: org.apache.spark.sql.DataFrame) =
        SpecCompiler.compile(spec, Map("era5" -> df)).queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }

      val over = SizeRule.singlePartitionIfSmall(era5, est.toLong - 1)
      assert(over eq era5)
      val overPlan = plan(over)
      assert(overPlan.toString.contains("Exchange"), overPlan.toString)
      assert(!overPlan.toString.contains("Coalesce"), overPlan.toString)

      val atPlan = plan(SizeRule.singlePartitionIfSmall(era5, est.toLong))
      assert(!atPlan.toString.contains("Exchange"), atPlan.toString)
      assert(atPlan.outputPartitioning.numPartitions == 1, atPlan.toString)

      // the shared cutoff, by default
      assert(est <= SizeRule.SinglePartitionMaxBytes)
      assert(!(SizeRule.singlePartitionIfSmall(era5) eq era5))
    } finally graft.sources.Sources.deleteRecursively(dir)
  }
}
