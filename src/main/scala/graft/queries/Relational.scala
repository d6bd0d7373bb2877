package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core relational operator inventory (SURVEY.md §2.1–§2.8), expressed
  * Spark-first over the driver's TPC-H-ish tables.
  *
  * Conventions shared with the DuckDB oracle (`oracles`):
  *   - money/quantity sums go through `DECIMAL(38,4)` so results are exact
  *     and engine/order independent (double sums are not associative);
  *   - averages are rounded to 4 decimals;
  *   - every result is totally ordered by a unique key set, and every
  *     computed column carries the same alias in Spark and SQL (the driver
  *     sorts columns by name before hashing).
  *
  * Scale notes are on each query: the shapes are chosen so the same plan
  * holds at 100 TB (partial aggregation before shuffle, broadcast joins for
  * fixed-cardinality dims, TakeOrderedAndProject for top-n, no driver-side
  * loops).
  */
object Relational extends QueryFamily {

  private def decSum(c: Column, name: String): Column = Conventions.decSum(c, name)

  /** q1: TPC-H Q1-style full-scan aggregate (SURVEY A1/A3; reference scalar
    * SUM queries e.g. `Billion_Dollar/.../noaa_disaster_db.ipynb` cell 9).
    * Hash aggregate with map-side partial agg: the shuffle carries only
    * |returnflag×linestatus| ≤ 6 groups regardless of input size. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity"), "sum_qty"),
        decSum(col("l_extendedprice"), "sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), "sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
      | ROUND(AVG(l_quantity), 4) AS avg_qty,
      | ROUND(AVG(l_extendedprice), 4) AS avg_price,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q2: projected scan + predicate + order + limit (SURVEY S1/P1/P8/W1/W2;
    * reference pushed WHERE/ORDER/LIMIT, `Billion_Dollar/server.py:41-43`).
    * Compiles to TakeOrderedAndProject: each partition keeps a 100-row heap,
    * only 100×P rows reach the driver — safe at any scale. */
  def q2TopN(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity") >= 48.0)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  private val q2Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity >= 48.0
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** q3: star join fact→dim with broadcast (SURVEY §2.3 J1/J2; replaces the
    * reference's per-entity query fan-out, `EDGARclient.py:228-303`).
    * customer is shuffle-joined on the key; nation/region are fixed-size
    * dims → broadcast hash join, no shuffle of the fact side for them. */
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(decSum(col("o_totalprice"), "revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q3Sql =
    """SELECT r_name, n_name,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q4: left-semi join = EXISTS (SURVEY J3, existence probe
    * `era5client.py:63-82`). Semi join keeps only the probe side's columns
    * and short-circuits per key. */
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  private val q4Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** q5: left-anti join = NOT EXISTS (SURVEY §2.3 surface). Filtered to
    * 'P' orders so the result is nonempty at every scale factor. */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private val q5Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** q6: scalar aggregate under composed predicates — BETWEEN + IN + compare
    * (SURVEY P8/P9/P10/P12/A1, filter composition
    * `Disaster dollar/server.py:63-97`). All three predicates push to the
    * parquet scan (visible as PushedFilters). */
  def q6ScalarAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(
        col("l_shipdate").between(to_timestamp(lit("1997-01-01")), to_timestamp(lit("1997-12-31"))) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_discount") > 0.02)
      .agg(
        decSum(col("l_extendedprice") * col("l_discount"), "revenue"),
        count(lit(1)).as("n_rows"))

  private val q6Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
      |  AND l_returnflag IN ('A', 'R') AND l_discount > 0.02""".stripMargin

  /** q7: DISTINCT (SURVEY A4, `SELECT DISTINCT City` etc.). Partial
    * distinct before the shuffle → shuffle carries unique values only. */
  def q7Distinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")

  private val q7Sql =
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"

  /** q8: deterministic dedup — GROUP BY keys keeping min surrogate
    * (SURVEY A5/A6 `drop_duplicates`; min() makes the survivor stable,
    * unlike dropDuplicates' arbitrary-first-row semantics). */
  def q8DedupGroup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderstatus"))
      .agg(min(col("o_orderkey")).as("first_order"), count(lit(1)).as("n_orders"))
      .orderBy("o_custkey", "o_orderstatus")

  private val q8Sql =
    """SELECT o_custkey, o_orderstatus, MIN(o_orderkey) AS first_order,
      | COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey, o_orderstatus
      |ORDER BY o_custkey, o_orderstatus""".stripMargin

  /** q9: ranking window, top-3 per group with deterministic tiebreak
    * (SURVEY W5 top-1 fuzzy match generalized to row_number), computed
    * in TWO phases: top-3 within (segment, salt) shards first, then
    * top-3 of the surviving 3·S rows per segment. A single window
    * partitioned by the 5-value segment column would pull the entire
    * fact table through 5 reducer sorts at scale; the salted phase
    * bounds every sort partition, and phase 2's input is 3·S rows per
    * group regardless of data size. Top-3 of per-shard top-3s is
    * exactly the global top-3, so results are identical. */
  def q9WindowTopK(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    val salted = joined.withColumn("_salt", pmod(col("o_orderkey"), lit(16)))
    val w1 = Window.partitionBy(col("c_mktsegment"), col("_salt"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val phase1 = salted.withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= 3)
    val w2 = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    phase1.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= 3)
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val q9Sql =
    """SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  /** q35: q9's per-segment top-3 computed WITHOUT any window sort — the
    * [[graft.functions.TopKPairs]] bounded-heap aggregate replaces both
    * of q9's row_number phases with ONE partial+final aggregate: each
    * mapper keeps ≤ 3 (price, orderkey) pairs per segment and the
    * shuffle carries those pairs, not the fact rows. q9 exists to show
    * the salting discipline that makes window top-k survive skew; q35
    * shows the aggregate that makes the problem disappear (state O(k)
    * per group, no sort, map-side combine). Oracle = q9's SQL — same
    * answer, different machine. PlanAuditSpec pins the plan: an
    * ObjectHashAggregate pair, ZERO Window nodes. */
  def q35TopkAgg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.SketchFunctions
        .topkPairs(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"),
        col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  /** q10: analytic window over a time series — lag + moving average
    * (SURVEY §2.5: the reference's advertised year-over-year trend
    * analysis). The monthly pre-aggregation shrinks the windowed input to
    * |months| rows, so the single-partition global window is safe. */
  def q10WindowLag(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val monthly = o
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(decSum(col("o_totalprice"), "rev"))
    val w = Window.orderBy(col("month"))
    monthly.select(
      col("month"), col("rev"),
      lag(col("rev"), 1).over(w).as("prev_rev"),
      round(avg(col("rev").cast("double")).over(w.rowsBetween(-2, 0)), 4).as("ma3"))
      .orderBy("month")
  }

  private val q10Sql =
    """WITH m AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT month, rev,
      |  LAG(rev, 1) OVER (ORDER BY month) AS prev_rev,
      |  ROUND(AVG(CAST(rev AS DOUBLE)) OVER (ORDER BY month
      |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
      |FROM m ORDER BY month""".stripMargin

  /** q11/q12/q13: set operations (SURVEY §2.6 — engine surface subsuming the
    * reference's per-table loops over `{country}_df{0,1}`). */
  def q11Union(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val hi = c.filter(col("c_acctbal") > 4500).select("c_custkey")
    val bld = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    hi.union(bld).distinct().orderBy("c_custkey")
  }

  private val q11Sql =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 4500
      |UNION
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  def q12Intersect(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val hi = c.filter(col("c_acctbal") > 4500).select("c_custkey")
    val bld = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    hi.intersect(bld).orderBy("c_custkey")
  }

  private val q12Sql =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 4500
      |INTERSECT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  def q13Except(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val hi = c.filter(col("c_acctbal") > 4500).select("c_custkey")
    val bld = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    hi.except(bld).orderBy("c_custkey")
  }

  private val q13Sql =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 4500
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  /** q37: BAG-semantics set operations — `UNION ALL` / `INTERSECT ALL` /
    * `EXCEPT ALL` over two overlapping lineitem part-key multisets
    * (q11–q13 cover the DISTINCT variants; the ALL variants keep
    * multiplicities: intersect = per-key MIN of the two counts, except =
    * truncated difference). Each result is reported as (rows, distinct
    * keys, key checksum) so the oracle pins the multiset itself, not
    * just its support. Scale note: Spark plans INTERSECT/EXCEPT ALL as
    * a count-aggregate + generate per side — one shuffle each on the
    * key, no pairwise machinery. */
  def q37BagSetops(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") < 25).select(col("l_partkey").as("k"))
    val b = li.filter(col("l_returnflag") === "R").select(col("l_partkey").as("k"))
    def stats(name: String, d: DataFrame) =
      d.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum(col("k")).as("key_sum"))
        .select(lit(name).as("op"), col("n_rows"), col("n_keys"), col("key_sum"))
    stats("except_all", a.exceptAll(b))
      .unionByName(stats("intersect_all", a.intersectAll(b)))
      .unionByName(stats("union_all", a.unionAll(b)))
      .orderBy("op")
  }

  private val q37Sql =
    """WITH a AS (SELECT l_partkey AS k FROM lineitem WHERE l_quantity < 25),
      |b AS (SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      |ea AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
      |ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
      |ua AS (SELECT k FROM a UNION ALL SELECT k FROM b)
      |SELECT 'except_all' AS op, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT k) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum FROM ea
      |UNION ALL
      |SELECT 'intersect_all', COUNT(*), COUNT(DISTINCT k),
      |  CAST(SUM(k) AS BIGINT) FROM ia
      |UNION ALL
      |SELECT 'union_all', COUNT(*), COUNT(DISTINCT k),
      |  CAST(SUM(k) AS BIGINT) FROM ua
      |ORDER BY op""".stripMargin

  /** q14: pivot to wide layout (SURVEY §2.8 — NOAA/EDGAR wide layouts are
    * pivots of the canonical long form). Explicit value list keeps the plan
    * single-pass (no extra distinct job to discover pivot values). */
  def q14Pivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_year")

  private val q14Sql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin

  /** q15: unpivot wide→long (SURVEY §2.8 — the EDGAR year-columns and NOAA
    * type-pairs normalization, `Dataset.unpivot`). */
  def q15Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(decSum(col("l_quantity"), "qty"), decSum(col("l_extendedprice"), "price"))
    wide.unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")), "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  private val q15Sql =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS price
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
      |UNION ALL
      |SELECT l_returnflag, 'price' AS measure, price AS value FROM w
      |ORDER BY l_returnflag, measure""".stripMargin

  /** q16: ROLLUP hierarchy totals (SURVEY §2.4 engine surface; grouping-set
    * nulls made explicit for oracle determinism). */
  def q16Rollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), decSum(col("l_quantity"), "sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q16Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      | COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q22: CUBE — all grouping-set combinations (SURVEY §2.4 engine
    * surface next to q16's ROLLUP). */
  def q22Cube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice"), "revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("revenue"))
      .orderBy("o_orderstatus", "o_orderpriority")

  /** q26: explicit GROUPING SETS — two independent one-dimension
    * summaries computed in ONE pass over the fact table (the general
    * form q16's ROLLUP and q22's CUBE are sugar for; at scale one
    * Expand+shuffle replaces N separate scans+aggregates). */
  def q26GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice"), "revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("revenue"))
      .orderBy("o_orderstatus", "o_orderpriority")

  private val q26Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      | COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  private val q22Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      | COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** q17: string scalar functions + LIKE-prefix and case-insensitive
    * equality predicates (SURVEY P7/P11/F1-F4). */
  def q17Strings(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .filter(col("p_type").like("STAND%") || upper(col("p_brand")) === lit("BRAND#13"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        concat_ws(" ", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 5).as("prefix"),
        length(col("p_name")).as("name_len"))
      .orderBy("p_partkey")

  private val q17Sql =
    """SELECT p_partkey, upper(p_name) AS uname,
      | concat_ws(' ', p_brand, p_type) AS brand_type,
      | substring(p_name, 1, 5) AS prefix,
      | CAST(length(p_name) AS INTEGER) AS name_len
      |FROM part
      |WHERE p_type LIKE 'STAND%' OR upper(p_brand) = 'BRAND#13'
      |ORDER BY p_partkey""".stripMargin

  /** q18: date part extraction + C-style formatting (SURVEY F7/F11/F13 —
    * `to_date`/`year()`/currency strings). Timestamps leave the engine as
    * formatted strings so the oracle compare is representation-stable. */
  def q18Dates(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        format_string("$%.2f", col("o_totalprice")).as("price_fmt"))
      .orderBy("o_orderkey")

  private val q18Sql =
    """SELECT o_orderkey,
      | CAST(year(o_orderdate) AS INTEGER) AS o_year,
      | CAST(month(o_orderdate) AS INTEGER) AS o_month,
      | CAST(day(o_orderdate) AS INTEGER) AS o_day,
      | strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      | printf('$%.2f', o_totalprice) AS price_fmt
      |FROM orders WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** q19: fuzzy top-1 entity resolution as a similarity join (SURVEY J4/F9
    * — `difflib.get_close_matches` behavior: best match above a cutoff).
    * Candidates × dim is a broadcast cross join (dim is tiny); ranking by
    * (similarity, name) makes the winner deterministic. */
  def q19FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cands = Seq("AMERIC", "EUROP", "ASIAA", "AFRICCA", "MIDLE EAST", "ATLANTIS")
      .toDF("cand")
    val r = Tables(s, dir, "region")
    val scored = cands.crossJoin(broadcast(r))
      .withColumn("sim",
        lit(1.0) - levenshtein(upper(col("cand")), col("r_name")).cast("double") /
          greatest(length(col("cand")), length(col("r_name"))).cast("double"))
    val w = Window.partitionBy(col("cand")).orderBy(col("sim").desc, col("r_name"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("sim") >= 0.6)
      .select(col("cand"), col("r_name").as("matched"), round(col("sim"), 4).as("sim"))
      .orderBy("cand")
  }

  private val q19Sql =
    """WITH cands(cand) AS (VALUES ('AMERIC'), ('EUROP'), ('ASIAA'),
      |                            ('AFRICCA'), ('MIDLE EAST'), ('ATLANTIS')),
      |scored AS (
      |  SELECT cand, r_name,
      |    1.0 - CAST(levenshtein(upper(cand), r_name) AS DOUBLE) /
      |          CAST(greatest(length(cand), length(r_name)) AS DOUBLE) AS sim
      |  FROM cands CROSS JOIN region),
      |ranked AS (
      |  SELECT cand, r_name, sim,
      |    ROW_NUMBER() OVER (PARTITION BY cand ORDER BY sim DESC, r_name) AS rk
      |  FROM scored)
      |SELECT cand, r_name AS matched, ROUND(sim, 4) AS sim
      |FROM ranked WHERE rk = 1 AND sim >= 0.6
      |ORDER BY cand""".stripMargin

  /** q20: null-count profiling (SURVEY A8 — ETL QA `df.isna().sum()`). */
  def q20NullProfile(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val nullCount: String => Column =
      name => sum(when(col(name).isNull, 1L).otherwise(0L)).as(s"nulls_$name")
    c.agg(
      count(lit(1)).as("n_rows"),
      nullCount("c_custkey"), nullCount("c_name"), nullCount("c_nationkey"),
      nullCount("c_acctbal"), nullCount("c_mktsegment"))
  }

  private val q20Sql =
    """SELECT COUNT(*) AS n_rows,
      | CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_custkey,
      | CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_name,
      | CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_nationkey,
      | CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_acctbal,
      | CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_mktsegment
      |FROM customer""".stripMargin

  /** q21: dimension fan-out as a cross join (SURVEY J1 — the reference's
    * cities × metrics × months loop becomes one cross join of small
    * literal/dim frames, then a single left join against facts). */
  def q21CrossFanout(s: SparkSession, dir: String): DataFrame = {
    val r = Tables(s, dir, "region").select("r_name")
    val statuses = Tables(s, dir, "orders").select(col("o_orderstatus")).distinct()
    r.crossJoin(statuses).orderBy("r_name", "o_orderstatus")
  }

  private val q21Sql =
    """SELECT r_name, o_orderstatus
      |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
      |ORDER BY r_name, o_orderstatus""".stripMargin

  /** q23: correlated subquery surface (not in the reference, SURVEY
    * §2.4 "not present" list — engine capability for the harness):
    * customers whose account balance exceeds their nation's average.
    * Spark plans the decorrelation as an aggregate + join; expressed
    * through the SQL surface (SqlGate-compatible) to exercise the
    * parser path too. */
  def q23CorrelatedSub(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("q23_customer")
    s.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal FROM q23_customer o
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM q23_customer i
        |                   WHERE i.c_nationkey = o.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  private val q23Sql =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer o
      |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer i
      |                   WHERE i.c_nationkey = o.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** q24: exact percentiles per group (statistics surface; Spark's
    * `percentile` and DuckDB's `quantile_cont` share the linear-
    * interpolation definition, so values are engine-portable —
    * approx_percentile/HLL sketches are NOT and stay out of the oracle
    * set). */
  def q24Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("price_p95"))
      .orderBy("l_returnflag")

  private val q24Sql =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.5) AS p50,
      | quantile_cont(l_quantity, 0.9) AS p90,
      | ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q25: TPC-H Q5-shape fact-fact multi-join — revenue per nation for one
    * region and date window, with the local-supplier constraint
    * (`c_nationkey = s_nationkey`). This is the one join family the rest of
    * the inventory doesn't exercise: lineitem ⋈ orders is LARGE ⋈ LARGE, so
    * no side can broadcast and the plan must shuffle both facts on
    * `orderkey` (sort-merge or shuffled-hash — AQE's call, including
    * runtime skew-split). Everything else stays cheap by construction:
    *   - the date filter pushes to the `orders` scan and the quantity
    *     filter to the `lineitem` scan (both visible as PushedFilters), so
    *     the shuffled fact volume is cut before the exchange;
    *   - customer/supplier shuffle-join on their keys (at 100 TB these are
    *     the natural bucketing columns);
    *   - nation/region are fixed-cardinality dims → explicit broadcast;
    *   - the final aggregate carries ≤ |nation| groups.
    * Reference analog: none — SURVEY §2.3 records the reference has no
    * multi-table joins; this is the engine surface the harness's TPC-H-ish
    * tables exist to prove at scale. */
  def q25FactJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").filter(col("l_quantity") >= 5.0)
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val c = Tables(s, dir, "customer")
    val su = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  private val q25Sql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_quantity >= 5.0
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q27: analytic rank family — ntile quartiles, percent_rank, cume_dist
    * over account balance within market segment (ref `Disaster dollar/
    * client.py` ranks disaster spend client-side; this is the in-engine
    * form). percent_rank and cume_dist are single correctly-rounded IEEE
    * divisions of integer counts, so the doubles are engine-exact. One
    * shuffle on the partition key; the per-partition sort is the window's
    * price and spills rather than buffering whole groups. */
  def q27RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(s, dir, "customer")
      .select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }

  private val q27Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      | ROUND(percent_rank() OVER w, 6) AS pct_rank,
      | ROUND(cume_dist() OVER w, 6) AS cum_dist
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin

  /** q33: the VALUE-window family (§2.5's remaining corner next to
    * q27's rank family): first_value / last_value / nth_value over an
    * explicit unbounded ROWS frame, reported once per supplier (the
    * row_number()=1 representative, so the output is |suppliers| rows,
    * not |lineitem|). last_value needs the UNBOUNDED FOLLOWING frame on
    * BOTH engines — the default frame stops at CURRENT ROW and would
    * return each row's own value; nth_value(_, 3) is NULL for 2-row
    * partitions identically on both. Values are selections (no FP
    * arithmetic), so doubles compare bit-exactly. The order key carries
    * l_extendedprice as a tiebreaker: the synthetic lineitem is NOT
    * (orderkey, linenumber)-unique (sf0.1 has a supplier with two rows
    * at the same key), and value windows need a TOTAL order to be
    * engine-portable. */
  def q33ValueWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "lineitem")
      .select(col("l_suppkey"),
        first(col("l_extendedprice")).over(wf).as("first_price"),
        last(col("l_extendedprice")).over(wf).as("last_price"),
        nth_value(col("l_extendedprice"), 3).over(wf).as("third_price"),
        count(lit(1)).over(wf).as("n_items"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("l_suppkey"), col("first_price"), col("last_price"),
        col("third_price"), col("n_items"))
      .orderBy("l_suppkey")
  }

  private val q33Sql =
    """SELECT l_suppkey, first_price, last_price, third_price, n_items
      |FROM (
      |  SELECT l_suppkey,
      |    FIRST_VALUE(l_extendedprice) OVER wf AS first_price,
      |    LAST_VALUE(l_extendedprice) OVER wf AS last_price,
      |    NTH_VALUE(l_extendedprice, 3) OVER wf AS third_price,
      |    COUNT(*) OVER wf AS n_items,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_orderkey, l_linenumber, l_extendedprice) AS rn
      |  FROM lineitem
      |  WINDOW wf AS (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber, l_extendedprice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) z
      |WHERE rn = 1 ORDER BY l_suppkey""".stripMargin

  /** The q34 recursive-CTE body, shared verbatim by both engines (only
    * the lineitem view name differs): BFS hop profile over the
    * co-purchase graph (parts sharing an order), seeds = parts 0-4,
    * bounded at 2 hops. The hop guard (`r.hop < 2`) is what makes
    * UNION ALL recursion cycle-safe — Spark 4's recursive CTEs
    * (UnionLoop) don't support UNION-distinct recursion yet, and an
    * unguarded UNION ALL walk diverges on any cycle. The per-(seed, id)
    * MIN(hop) collapse turns enumerated walks into BFS distance. */
  private def q34Body(lineitem: String): String =
    s"""WITH RECURSIVE
       |pairs AS (
       |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM $lineitem a JOIN $lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT p1 AS a, p2 AS b FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
       |seeds AS (SELECT DISTINCT l_partkey AS seed FROM $lineitem WHERE l_partkey < 5),
       |reach(seed, id, hop) AS (
       |  SELECT seed, seed AS id, 0 AS hop FROM seeds
       |  UNION ALL
       |  SELECT r.seed, e.b AS id, r.hop + 1 AS hop
       |  FROM reach r JOIN edges e ON e.a = r.id WHERE r.hop < 2)
       |SELECT seed, hop, COUNT(*) AS n_parts FROM (
       |  SELECT seed, id, MIN(hop) AS hop FROM reach GROUP BY seed, id) z
       |WHERE hop > 0 GROUP BY seed, hop ORDER BY seed, hop""".stripMargin

  /** q34: recursive CTE (WITH RECURSIVE → UnionLoop, new SQL surface in
    * Spark 4) — bounded k-hop reachability over the co-purchase graph,
    * reported as a BFS frontier profile per seed part. The declarative
    * twin of the iterative graph queries (c1/c4/c5 drive their loops
    * from Scala with localCheckpoint; q34 lets the engine drive). Scale
    * note: hop-bounded walk enumeration is the right recursive-CTE
    * shape (each level is one distributed join), but UNBOUNDED closure
    * at 100 TB still belongs to c1's checkpointed iteration — this is
    * the neighborhood-query surface, not the components algorithm. */
  /** The Spark-side q34 body — two measured transforms over the
    * recursive form the oracle still replays verbatim ([[q34Sql]],
    * unchanged; results proven equal by the oracle compare):
    *
    * 1. SEMI-JOIN PRE-FILTER (guide §3.2 — reduce the big side before
    *    the expensive join): the walk only ever expands edges whose
    *    source is a seed (hop 0→1) or a hop-1 id (hop 1→2), and every
    *    hop-≤1 id lies in `hop1_parts` (parts sharing an order with a
    *    seed; each seed shares its own orders, so seeds ⊆ hop1_parts).
    *    An edge (a, b) with a ∈ hop1_parts is witnessed by an order
    *    containing a, and every order containing a hop1 part is kept in
    *    `rel` — so the restricted `edges` contains EVERY edge the walk
    *    can touch. The quadratic DISTINCT pair join runs over the
    *    seeds' order neighborhood (13% of lineitem at sf0.1; measured
    *    1.72 → 1.02 s alone) instead of the whole fact table — at
    *    100 TB the difference between a neighborhood query and an
    *    all-orders self-join.
    *
    * 2. CONSTANT-DEPTH UNROLL: the recursion is statically bounded
    *    (`r.hop < 2` with hop starting at 0 — exactly two expansion
    *    levels), so the UnionLoop's per-iteration materialize/replan
    *    cycle buys nothing a fixed two-join cascade doesn't: h1 is the
    *    recursion's first expansion (same join, same bag), h2 its
    *    second, and the guard admits no third. Measured: the UnionLoop
    *    machinery alone cost ~2.0 s of q34's 3.8 s at sf0.1 (probe:
    *    recursive 3.39 s vs unrolled 1.39 s, same prefilter, same
    *    result). The BFS collapse (MIN(hop) per (seed, id)) and the
    *    final profile are untouched. */
  private def q34SparkBody(lineitem: String): String =
    s"""WITH
       |seed_orders AS (
       |  SELECT DISTINCT l_orderkey FROM $lineitem WHERE l_partkey < 5),
       |hop1_parts AS (
       |  SELECT DISTINCT l.l_partkey
       |  FROM $lineitem l JOIN seed_orders o ON l.l_orderkey = o.l_orderkey),
       |rel AS (
       |  SELECT l_orderkey, l_partkey FROM $lineitem
       |  WHERE l_orderkey IN (
       |    SELECT l.l_orderkey
       |    FROM $lineitem l JOIN hop1_parts p ON l.l_partkey = p.l_partkey)),
       |pairs AS (
       |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM rel a JOIN rel b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT p1 AS a, p2 AS b FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
       |seeds AS (SELECT DISTINCT l_partkey AS seed FROM $lineitem WHERE l_partkey < 5),
       |h1 AS (SELECT s.seed, e.b AS id, 1 AS hop
       |       FROM seeds s JOIN edges e ON e.a = s.seed),
       |h2 AS (SELECT h.seed, e.b AS id, 2 AS hop
       |       FROM h1 h JOIN edges e ON e.a = h.id),
       |reach AS (
       |  SELECT seed, seed AS id, 0 AS hop FROM seeds
       |  UNION ALL SELECT * FROM h1
       |  UNION ALL SELECT * FROM h2)
       |SELECT seed, hop, COUNT(*) AS n_parts FROM (
       |  SELECT seed, id, MIN(hop) AS hop FROM reach GROUP BY seed, id) z
       |WHERE hop > 0 GROUP BY seed, hop ORDER BY seed, hop""".stripMargin

  def q34RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q34_lineitem")
    s.sql(q34SparkBody("q34_lineitem"))
  }

  private val q34Sql = q34Body("lineitem")

  /** The q36 LATERAL body, shared verbatim by both engines (only the
    * view names differ): per region, the top-2 nations by customer
    * count — an aggregate + ORDER BY + LIMIT subquery correlated on the
    * outer row. */
  private def q36Body(region: String, nation: String, customer: String): String =
    s"""SELECT r.r_name AS region, t.n_name AS nation, t.n_cust
       |FROM $region r, LATERAL (
       |  SELECT n.n_name, COUNT(*) AS n_cust
       |  FROM $nation n JOIN $customer c ON c.c_nationkey = n.n_nationkey
       |  WHERE n.n_regionkey = r.r_regionkey
       |  GROUP BY n.n_name
       |  ORDER BY n_cust DESC, n.n_name
       |  LIMIT 2) t
       |ORDER BY region, n_cust DESC, nation""".stripMargin

  /** q36: LATERAL correlated subquery (new join surface; Spark 4 parses
    * `, LATERAL (...)` and DECORRELATES it) — the declarative form of
    * the reference's per-candidate point-query loop (one small SELECT
    * re-run per outer row, `Billion_Dollar/new_disaster_c.py`'s per-year
    * lookups): written as N point queries it is N scans; written
    * LATERAL, Catalyst's DecorrelateInnerQuery rewrites the aggregate +
    * ORDER + LIMIT inner block into ONE distributed join + per-group
    * top-k over the whole outer set, so the plan scales with the data,
    * not with |outer rows|. Same answer as a window formulation; the
    * point here is that the correlated SURFACE compiles to the scalable
    * plan. */
  def q36Lateral(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "region").createOrReplaceTempView("q36_region")
    Tables(s, dir, "nation").createOrReplaceTempView("q36_nation")
    Tables(s, dir, "customer").createOrReplaceTempView("q36_customer")
    s.sql(q36Body("q36_region", "q36_nation", "q36_customer"))
  }

  private val q36Sql = q36Body("region", "nation", "customer")

  /** q28: conditional (FILTER-clause) aggregation — several differently-
    * filtered measures off ONE scan (the "count matching X, sum matching
    * Y, all per group" report that would otherwise take N scans or a
    * pivot). Spark's `sum(when(...))`/`count(when(...))` compile to the
    * same partial-aggregating single pass as SQL's `FILTER (WHERE ...)`;
    * all measures ride the one |groups|-row shuffle. */
  def q28ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
        Conventions.decSum(when(col("l_discount") > 0.05, col("l_extendedprice")),
          "discounted_price"),
        count(when(col("l_tax") === 0.0, 1)).as("n_taxfree"),
        Conventions.decSum(when(col("l_quantity") >= 25.0, col("l_quantity")),
          "bulk_qty"))
      .orderBy("l_returnflag")

  private val q28Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      | COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)))
      |   FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS discounted_price,
      | COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_taxfree,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,4)))
      |   FILTER (WHERE l_quantity >= 25.0) AS DOUBLE) AS bulk_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q29: Pearson correlation per group, oracle-exact. The trick: sqrt is
    * one of the five correctly-rounded IEEE-754 operations (+, −, ×, ÷,
    * sqrt), so a correlation composed of exact integer moments and a fixed
    * double expression hash-matches across engines with no decimal detour
    * and no rounding. Inputs are lifted to integer grids (quantity is
    * integral; price × 100), the six moments accumulate exactly
    * (DECIMAL(38,0) ↔ DuckDB HUGEINT), and
    * r = (n·Sqp − Sq·Sp) / (√(n·Sqq − Sq²) · √(n·Spp − Sp²))
    * is five correctly-rounded double ops on identical operands. One
    * partial-agg shuffle to |groups| rows — the textbook 100 TB shape. */
  def q29Correlation(s: SparkSession, dir: String): DataFrame = {
    val d38 = Conventions.Dec38
    val li = Tables(s, dir, "lineitem").select(
      col("l_returnflag"),
      round(col("l_quantity"), 0).cast("long").as("q"),
      round(col("l_extendedprice") * lit(100.0), 0).cast("long").as("p"))
    val m = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(col("q").cast(d38)).as("sq"),
      sum(col("q").cast(d38) * col("q")).as("sqq"),
      sum(col("p").cast(d38)).as("sp"),
      sum(col("p").cast(d38) * col("p")).as("spp"),
      sum(col("q").cast(d38) * col("p")).as("sqp"))
    val n38 = col("n").cast(d38)
    val cov = (n38 * col("sqp") - col("sq") * col("sp")).cast("double")
    val varQ = (n38 * col("sqq") - col("sq") * col("sq")).cast("double")
    val varP = (n38 * col("spp") - col("sp") * col("sp")).cast("double")
    m.select(col("l_returnflag"), col("n"),
        (cov / (sqrt(varQ) * sqrt(varP))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val q29Sql =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity) AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100.0) AS BIGINT) AS p
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(q) AS sq, SUM(q * q) AS sqq,
      |    SUM(p) AS sp, SUM(p * p) AS spp, SUM(q * p) AS sqp
      |  FROM g GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(n * sqp - sq * sp AS DOUBLE)
      |    / (sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
      |       * sqrt(CAST(n * spp - sp * sp AS DOUBLE))) AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q30: Benford first-digit profile of the price column — the classic
    * fabricated-data screen (Benford 1938; naturally occurring multi-
    * magnitude amounts put ~30.1% of first digits at 1). Prices lift to
    * the exact cent grid, the first significant digit is the first
    * character of the integer's decimal rendering (identical across
    * engines — no float formatting involved), and the share is one
    * correctly-rounded division. One partial-agg shuffle to ≤9 rows. */
  def q30Benford(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "lineitem")
      .select(expr(
        "cast(substr(cast(cast(round(l_extendedprice * 100.0) as bigint) as string), 1, 1) as int)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("share",
        col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double"))
      .orderBy("digit")
  }

  private val q30Sql =
    """WITH counts AS (
      |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY 1)
      |SELECT digit, n,
      |  CAST(n AS DOUBLE)
      |    / CAST(CAST(SUM(n) OVER () AS BIGINT) AS DOUBLE) AS share
      |FROM counts ORDER BY digit""".stripMargin

  /** q31: sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * record-linkage candidate generator that complements LSH blocking
    * (m1/m2): sort by the match key, compare each record only to its w
    * nearest neighbors in sort order. Here w = 2 via `lead(1)`/`lead(2)`
    * windows partitioned by first letter — the partition bound makes the
    * windows parallel (the standard composite-key form of the technique;
    * a pure global sort would serialize). Candidates within Levenshtein
    * distance 1–3 survive (0 = exact dup, d1's job). Levenshtein is
    * integer DP — engine-exact. */
  def q31SortedBlocking(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("p_name"), col("p_partkey"))
    val parts = Tables(s, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        substring(col("p_name"), 1, 1).as("blk"))
    val led = parts
      .withColumn("n1", lead(col("p_name"), 1).over(w))
      .withColumn("k1", lead(col("p_partkey"), 1).over(w))
      .withColumn("n2", lead(col("p_name"), 2).over(w))
      .withColumn("k2", lead(col("p_partkey"), 2).over(w))
    val cand = led.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        col("k1").as("key_b"), col("n1").as("name_b"))
      .union(led.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        col("k2").as("key_b"), col("n2").as("name_b")))
      .filter(col("name_b").isNotNull)
    cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist").between(1, 3))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
      .orderBy("key_a", "key_b")
  }

  private val q31Sql =
    """WITH p AS (
      |  SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk FROM part),
      |led AS (
      |  SELECT p_partkey, p_name,
      |    LEAD(p_name, 1) OVER w AS n1, LEAD(p_partkey, 1) OVER w AS k1,
      |    LEAD(p_name, 2) OVER w AS n2, LEAD(p_partkey, 2) OVER w AS k2
      |  FROM p
      |  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)),
      |cand AS (
      |  SELECT p_partkey AS key_a, p_name AS name_a, k1 AS key_b, n1 AS name_b
      |  FROM led WHERE n1 IS NOT NULL
      |  UNION ALL
      |  SELECT p_partkey, p_name, k2, n2 FROM led WHERE n2 IS NOT NULL)
      |SELECT key_a, key_b, name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
      |FROM cand
      |WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 3
      |ORDER BY key_a, key_b""".stripMargin

  /** q32: ANALYZE-style column statistics profiler — per numeric column
    * the null count, exact distinct count, and min/max off ONE scan (the
    * stats block a cost-based optimizer or a data-catalog crawler
    * collects). The four exact `countDistinct`s compile to one Expand
    * (×4 row amplification) feeding a single shuffle — the deliberate
    * exact-tier price; `ApproxOps.approxDistinct` is the O(1)-state scale
    * tier of the same report. The wide 1-row aggregate unpivots to long
    * rows via `stack`, which is projection-only. */
  def q32ColumnStats(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_ndv"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    val stackExpr = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_ndv, ${c}_min, ${c}_max").mkString(", ")
    Tables(s, dir, "lineitem")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackExpr) " +
        "as (col_name, n_nulls, ndv, min_val, max_val)")
      .orderBy("col_name")
  }

  private val q32Sql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS ndv,
         |  MIN($c) AS min_val, MAX($c) AS max_val
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** geo1 (SURVEY J5): REVERSE GEOCODE through the grid-bucketed
    * broadcast join ([[graft.ingest.Geo.reverseGeocodeBucketed]] — the
    * 10⁵-gazetteer scale path, previously spec-only): points synthesize
    * deterministically from customer keys, the gazetteer from
    * nation⋈region, both on exact decimal grids; each point joins its
    * 45°-cell ring's broadcast candidate array and the codegen'd
    * `nearest_entry` argmin picks the city (ties on city, country).
    * Points whose ring holds no city report '(none)' — the documented
    * null contract. The oracle replays the WHOLE bucketed chain in
    * DuckDB: cell assignment, 3×3 ring replication with longitude wrap,
    * the ring join, and the haversine argmin as a window rank. Output
    * aggregates to per-city point counts, so the float surface is the
    * argmin ordering only (identical libm-level winners on the
    * synthetic grid — a flip needs two cities equidistant to ~1e-12
    * relative). */
  /** geo1's synthetic point cloud — customers scattered on a 0.1°
    * grid (+0.05° off cell edges so floor() is FP-stable on both
    * engines). Shared by geo1 and geo1s. */
  private def geo1Points(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(
      col("c_custkey"),
      (((col("c_custkey") * 7919) % 1800).cast("double") / 10.0 - 90.0 + 0.05)
        .as("latitude"),
      (((col("c_custkey") * 104729) % 3600).cast("double") / 10.0 - 180.0 + 0.05)
        .as("longitude"))

  /** geo1's synthetic gazetteer over nation⋈region (25 cities; +0.5/
    * +0.25 keeps haversine ties impossible on the 0.1° point grid). */
  private def geo1Gazetteer(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation")
      .join(Tables(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("city"), col("r_name").as("country"),
        (((col("n_nationkey") * 131) % 160 - 80).cast("double") + 0.5).as("lat"),
        (((col("n_nationkey") * 37) % 344 - 172).cast("double") + 0.25).as("lon"))

  /** The per-city rollup both geo rows report. */
  private def geo1Rollup(geocoded: DataFrame): DataFrame =
    geocoded
      .groupBy(col("City"), col("Country"))
      .agg(count(lit(1)).as("n_points"))
      .select(coalesce(col("City"), lit("(none)")).as("city"),
        coalesce(col("Country"), lit("(none)")).as("country"),
        col("n_points"))
      .orderBy("city", "country")

  def geo1ReverseGeocode(s: SparkSession, dir: String): DataFrame =
    geo1Rollup(graft.ingest.Geo.reverseGeocodeBucketed(
      geo1Points(s, dir), geo1Gazetteer(s, dir), cellDeg = 45.0))

  /** geo1s: geo1's exact answer (same oracle) with the cell-ring
    * candidate table SERVED from an at-rest artifact — the gazetteer is
    * static by nature, so a deployment lands the ring table once per
    * gazetteer fingerprint (the k6/i5/c12 marker-last discipline) and
    * every probe broadcasts the landed table; the per-query cost is the
    * points-side scan + the row-local argmin, never the ring build. */
  def geo1sReverseGeocodeServed(s: SparkSession, dir: String): DataFrame = {
    val root = ScaleOps.artifactRoot("geo1s",
      ScaleOps.dataFingerprint(dir, Seq("nation", "region")))
    val table = root.resolve("cells").toString
    ScaleOps.buildOnce("geo1s", root) {
      graft.ingest.Geo
        .gazetteerCells(geo1Gazetteer(s.newSession(), dir), cellDeg = 45.0)
        .write.mode("overwrite").parquet(table)
    }
    geo1Rollup(graft.ingest.Geo.probeGazetteerCells(
      geo1Points(s, dir), s.read.parquet(table), cellDeg = 45.0))
  }

  private val geo1Sql: String =
    """WITH pts AS (
      |  SELECT c_custkey,
      |    CAST((c_custkey * 7919) % 1800 AS DOUBLE) / 10.0 - 90.0 + 0.05 AS plat,
      |    CAST((c_custkey * 104729) % 3600 AS DOUBLE) / 10.0 - 180.0 + 0.05 AS plon
      |  FROM customer),
      |gaz AS (
      |  SELECT n_name AS city, r_name AS country,
      |    CAST((n_nationkey * 131) % 160 - 80 AS DOUBLE) + 0.5 AS glat,
      |    CAST((n_nationkey * 37) % 344 - 172 AS DOUBLE) + 0.25 AS glon
      |  FROM nation JOIN region ON n_regionkey = r_regionkey),
      |offs AS (
      |  SELECT a.dla, b.dlo
      |  FROM (VALUES (-1), (0), (1)) a(dla), (VALUES (-1), (0), (1)) b(dlo)),
      |cells AS (
      |  SELECT g.city, g.country, g.glat, g.glon,
      |    (CAST(floor((g.glat + 90.0) / 45.0) AS BIGINT) + o.dla) * 8
      |      + (((CAST(floor((g.glon + 180.0) / 45.0) AS BIGINT) % 8 + 8) % 8
      |          + o.dlo) % 8 + 8) % 8 AS cell
      |  FROM gaz g CROSS JOIN offs o),
      |cand AS (
      |  SELECT p.c_custkey, c.city, c.country,
      |    12742.0 * asin(sqrt(
      |      pow(sin(radians(c.glat - p.plat) / 2), 2)
      |      + cos(radians(p.plat)) * cos(radians(c.glat))
      |        * pow(sin(radians(c.glon - p.plon) / 2), 2))) AS d
      |  FROM pts p
      |  LEFT JOIN cells c
      |    ON CAST(floor((p.plat + 90.0) / 45.0) AS BIGINT) * 8
      |       + (CAST(floor((p.plon + 180.0) / 45.0) AS BIGINT) % 8 + 8) % 8
      |       = c.cell),
      |ranked AS (
      |  SELECT c_custkey, city, country,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey
      |      ORDER BY d, city, country) AS rk
      |  FROM cand)
      |SELECT COALESCE(city, '(none)') AS city,
      |  COALESCE(country, '(none)') AS country,
      |  COUNT(*) AS n_points
      |FROM ranked WHERE rk = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("geo1_reverse_geocode", geo1ReverseGeocode, geo1Sql),
    // the at-rest ring-table serve must reproduce geo1 exactly
    Query("geo1s_reverse_geocode_served", geo1sReverseGeocodeServed, geo1Sql),
    Query("q32_column_stats", q32ColumnStats, q32Sql),
    Query("q30_benford", q30Benford, q30Sql),
    Query("q31_sorted_blocking", q31SortedBlocking, q31Sql),
    Query("q29_correlation", q29Correlation, q29Sql),
    Query("q28_conditional_agg", q28ConditionalAgg, q28Sql),
    Query("q1_agg", q1Agg, q1Sql),
    Query("q2_topn", q2TopN, q2Sql),
    Query("q3_join_agg", q3JoinAgg, q3Sql),
    Query("q4_semi_join", q4SemiJoin, q4Sql),
    Query("q5_anti_join", q5AntiJoin, q5Sql),
    Query("q6_scalar_agg", q6ScalarAgg, q6Sql),
    Query("q7_distinct", q7Distinct, q7Sql),
    Query("q8_dedup_group", q8DedupGroup, q8Sql),
    Query("q9_window_topk", q9WindowTopK, q9Sql),
    Query("q10_window_lag", q10WindowLag, q10Sql),
    Query("q11_union", q11Union, q11Sql),
    Query("q12_intersect", q12Intersect, q12Sql),
    Query("q13_except", q13Except, q13Sql),
    Query("q14_pivot", q14Pivot, q14Sql),
    Query("q15_unpivot", q15Unpivot, q15Sql),
    Query("q16_rollup", q16Rollup, q16Sql),
    Query("q17_strings", q17Strings, q17Sql),
    Query("q18_dates", q18Dates, q18Sql),
    Query("q19_fuzzy_match", q19FuzzyMatch, q19Sql),
    Query("q20_null_profile", q20NullProfile, q20Sql),
    Query("q21_cross_fanout", q21CrossFanout, q21Sql),
    Query("q22_cube", q22Cube, q22Sql),
    Query("q23_correlated_sub", q23CorrelatedSub, q23Sql),
    Query("q24_percentiles", q24Percentiles, q24Sql),
    Query("q25_fact_join", q25FactJoin, q25Sql),
    Query("q26_grouping_sets", q26GroupingSets, q26Sql),
    Query("q27_rank_family", q27RankFamily, q27Sql),
    Query("q33_value_windows", q33ValueWindows, q33Sql),
    Query("q34_recursive_cte", q34RecursiveCte, q34Sql),
    Query("q35_topk_agg", q35TopkAgg, q9Sql), // same answer as q9, via the bounded-heap aggregate
    Query("q36_lateral", q36Lateral, q36Sql),
    Query("q37_bag_setops", q37BagSetops, q37Sql))
}
