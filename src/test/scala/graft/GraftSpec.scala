package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all specs (one JVM-wide session; suites are run
  * in the forked test JVM). sf0.001 keeps every suite sub-second-ish. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with a [[JobCounter]] for job groups starting with
    * `prefix` attached, waits until the listener bus has delivered every
    * event of `body`'s jobs, and returns the counter. */
  def countJobs(prefix: String)(body: => Unit): JobCounter = {
    val counter = new JobCounter(prefix)
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(counter)
    counter
  }

  /** Runs `body` with its jobs in job group `group`. The group sets no job
    * description, so each SQL execution keeps its action's call site as
    * its description ([[JobCounter.executions]]). */
  def inJobGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, null)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

class GraftSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a callable plan and nonempty schema on sf0.001", SlowTier) {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.schema.nonEmpty, s"$name has empty schema")
      // force execution
      df.count()
    }
  }

  test("registry names are unique across the families and every oracle SQL is non-blank") {
    // the name-keyed views keep one of two same-named entries silently
    val dup = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dup.isEmpty, s"query names registered twice: $dup")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
    // a blank oracle would silently downgrade its query to a weaker
    // rows-only check
    val blank = SparkEntry.registry.filter(_.oracleSql.isBlank).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle SQL: $blank")
  }

  test("q1_agg groups are the lineitem flag/status domain") {
    val rows = SparkEntry.queries("q1_agg")(spark, sfDir).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(0)).toSet == Set("A", "N", "R"))
  }

  test("q2_topn returns at most 100 rows in descending price order") {
    val prices = SparkEntry.queries("q2_topn")(spark, sfDir)
      .collect().map(_.getDouble(3))
    assert(prices.length <= 100)
    assert(prices.sameElements(prices.sortBy(-_)), "not sorted desc")
  }

  test("q9_window_topk keeps at most 3 rows per segment") {
    val byseg = SparkEntry.queries("q9_window_topk")(spark, sfDir)
      .collect().groupBy(_.getString(0))
    assert(byseg.values.forall(_.length <= 3))
  }

  test("q19_fuzzy_match resolves misspelled region names") {
    val m = SparkEntry.queries("q19_fuzzy_match")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("AMERIC") == "AMERICA")
    assert(m("EUROP") == "EUROPE")
    assert(m("MIDLE EAST") == "MIDDLE EAST")
    assert(!m.contains("ATLANTIS"), "no match should survive the 0.6 cutoff")
  }
}
