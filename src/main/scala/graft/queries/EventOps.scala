package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-table operators: the batch twins of the Structured Streaming path
  * (SURVEY §2.9). Every query here has the same shape as its streaming
  * counterpart in `graft.streaming` — tumbling/sliding windows,
  * sessionization, dedup — so the semantics are pinned by the DuckDB oracle
  * in batch and reused by the stream.
  *
  * Timestamps are compared in epoch microseconds (`unix_micros` ↔ DuckDB
  * `epoch_us`) and leave the engine as formatted strings, so results are
  * representation-stable across engines.
  */
object EventOps extends QueryFamily {

  private def decSum(c: org.apache.spark.sql.Column, name: String): org.apache.spark.sql.Column =
    Conventions.decSum(c, name)

  /** e1: tumbling 1-hour window aggregate (streaming-equivalent:
    * `groupBy(window($"ts", "1 hour"))`). Epoch-aligned buckets match
    * DuckDB's `time_bucket`. Partial agg keeps the shuffle at
    * |buckets × types| rows. */
  def e1WindowHourly(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), "total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("bucket", "event_type")

  private val e1Sql =
    """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** e2: sliding window (1 hour every 30 min) — each event lands in
    * size/slide = 2 windows. The oracle replays Spark's epoch-aligned
    * window-start arithmetic with an explicit 2-offset cross join. */
  def e2WindowSliding(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), "total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("total_value"))
      .orderBy("w_start")

  private val e2Sql =
    """SELECT strftime(to_timestamp(floor((epoch_us(ts)/1000000.0 - k*1800)/3600)*3600 + k*1800),
      |                '%Y-%m-%d %H:%M:%S') AS w_start,
      | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
      |FROM events CROSS JOIN (VALUES (0), (1)) o(k)
      |GROUP BY 1 ORDER BY w_start""".stripMargin

  /** e3: gap-based sessionization (30-min inactivity), the batch analog of
    * `session_window`/`flatMapGroupsWithState`. Window keys = user_id, so
    * the shuffle partitions by user and each session is computed within one
    * partition — the standard scale-out shape for per-entity state. */
  def e3Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        decSum(col("value"), "sess_value"))
      .orderBy("user_id", "sess_id")
  }

  private val e3Sql =
    """WITH x AS (
      |  SELECT user_id, event_id, ts, value,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |y AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |z AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM y)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
      |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sess_value
      |FROM z GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  /** e4: JSON field extraction from the string `props` column (semantic
    * extension of SURVEY F14 — structured access instead of tuple-text
    * parsing). */
  def e4JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") >= 90)
      .orderBy("event_id")

  private val e4Sql =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
      |ORDER BY event_id""".stripMargin

  /** e5: per-type event profile (SURVEY A1/A2 over the stream table). */
  def e5TypeStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        decSum(col("value"), "total_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy("event_type")

  private val e5Sql =
    """SELECT event_type, COUNT(*) AS n,
      | COUNT(DISTINCT user_id) AS n_users,
      | CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value,
      | ROUND(AVG(value), 4) AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e6: exact event dedup keeping the earliest occurrence per
    * (user, type) — deterministic `dropDuplicates` (SURVEY A5/A6; streaming
    * twin: `dropDuplicatesWithinWatermark`). */
  def e6DedupFirst(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        min(col("event_id")).as("first_event"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        count(lit(1)).as("n_dups"))
      .orderBy("user_id", "event_type")

  private val e6Sql =
    """SELECT user_id, event_type, MIN(event_id) AS first_event,
      | strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
      | COUNT(*) AS n_dups
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** e7: left-outer interval join — every click paired with each purchase
    * by the same user inside (click.ts, click.ts + 30 min]; unconverted
    * clicks surface with NULL right columns. The batch twin of
    * `StreamOps.correlate(joinType = "leftOuter")`, same condition shape.
    * Plans as a shuffle equi-join on user_id with the range bound as a
    * post-join filter — the equality key keeps it SMJ/SHJ (never a
    * cartesian), and per-user event counts bound the pair fan-out. */
  def e7IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("left_event"), col("ts").as("lts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("event_id").as("right_event"),
        col("ts").as("rts"))
    c.join(p, col("user_id") === col("r_user") &&
        col("rts") >= col("lts") &&
        unix_micros(col("rts")) <= unix_micros(col("lts")) + 1800000000L,
      "left")
      .select(col("user_id"), col("left_event"), col("right_event"),
        date_format(col("lts"), "yyyy-MM-dd HH:mm:ss").as("left_ts"),
        date_format(col("rts"), "yyyy-MM-dd HH:mm:ss").as("right_ts"))
      .orderBy("left_event", "right_event")
  }

  private val e7Sql =
    """SELECT c.user_id, c.event_id AS left_event, p.event_id AS right_event,
      | strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS left_ts,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS right_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.ts >= c.ts
      |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
      |ORDER BY left_event, right_event""".stripMargin

  /** e8: backward as-of join — each click matched to the same user's most
    * recent purchase at or before it (`operators.AsofJoin`: union +
    * running window, ONE shuffle, no pair explosion). The oracle is
    * DuckDB's native ASOF JOIN — an independent implementation of the
    * semantics, not a replay of this algorithm. */
  def e8AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsofJoin
      .asofBackward(clicks, purchases, "user_id", "ts", Seq("event_id"))
      .select(col("user_id"), col("click_event"),
        col("asof_event_id").as("last_purchase"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("us_since_purchase"))
      .orderBy("click_event")
  }

  private val e8Sql =
    """SELECT c.user_id, c.event_id AS click_event, p.event_id AS last_purchase,
      | epoch_us(c.ts) - epoch_us(p.ts) AS us_since_purchase
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.ts <= c.ts
      |ORDER BY click_event""".stripMargin

  /** e9: FORWARD as-of join — each click matched to the same user's
    * earliest purchase at or after it (conversion attribution). Same
    * one-shuffle union+window operator as e8 in its forward direction;
    * the oracle is again DuckDB's native ASOF JOIN with the inequality
    * flipped — an independent implementation of forward semantics, which
    * until this query were pinned only by the in-process brute-force
    * spec. */
  def e9AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsofJoin
      .asofForward(clicks, purchases, "user_id", "ts", Seq("event_id"))
      .select(col("user_id"), col("click_event"),
        col("asof_event_id").as("next_purchase"),
        (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("us_until_purchase"))
      .orderBy("click_event")
  }

  private val e9Sql =
    """SELECT c.user_id, c.event_id AS click_event, p.event_id AS next_purchase,
      | epoch_us(p.ts) - epoch_us(c.ts) AS us_until_purchase
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts <= p.ts
      |ORDER BY click_event""".stripMargin

  /** e10: NEAREST as-of join — each click matched to the same user's
    * closest purchase in either direction (backward wins exact-distance
    * ties). Both carries share ONE exchange in the operator; the oracle
    * computes DuckDB's two native ASOF directions and picks per row by
    * the same distance rule — the nearest semantics stated independently
    * of the union+window algorithm. */
  def e10AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsofJoin
      .asofNearest(clicks, purchases, "user_id", "ts", Seq("event_id"))
      .select(col("user_id"), col("click_event"),
        col("asof_event_id").as("near_purchase"),
        abs(unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("us_distance"))
      .orderBy("click_event")
  }

  private val e10Sql =
    """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |b AS (
      |  SELECT c.user_id, c.event_id AS click_event, c.ts,
      |    p.event_id AS pid, p.ts AS pts
      |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts),
      |f AS (
      |  SELECT c.event_id AS click_event, p.event_id AS pid, p.ts AS pts
      |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
      |SELECT b.user_id, b.click_event,
      |  CASE WHEN b.pid IS NOT NULL AND (f.pid IS NULL
      |         OR epoch_us(b.ts) - epoch_us(b.pts) <= epoch_us(f.pts) - epoch_us(b.ts))
      |       THEN b.pid ELSE f.pid END AS near_purchase,
      |  CASE WHEN b.pid IS NOT NULL AND (f.pid IS NULL
      |         OR epoch_us(b.ts) - epoch_us(b.pts) <= epoch_us(f.pts) - epoch_us(b.ts))
      |       THEN epoch_us(b.ts) - epoch_us(b.pts)
      |       ELSE epoch_us(f.pts) - epoch_us(b.ts) END AS us_distance
      |FROM b JOIN f USING (click_event)
      |ORDER BY click_event""".stripMargin

  /** r1: global session-concurrency via `operators.RangeJoin` — every
    * event joined to every session (ANY user's, no equality key) whose
    * [first-event, last-event] interval contains it, then profiled per
    * event type. The no-equality-key shape is exactly what Spark plans as
    * a BroadcastNestedLoopJoin; the bin decomposition (30-min bins, ≈
    * session length) turns it into a hash equi-join on bin id whose cost
    * tracks collisions, not |events|×|sessions|. The oracle states the
    * same join as the naive BETWEEN predicate — independent semantics,
    * not an algorithm replay. */
  def r1RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(unix_micros(col("ts"))).as("s_lo"),
        max(unix_micros(col("ts"))).as("s_hi"))
      .select("s_lo", "s_hi")
    val points = ev.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    graft.operators.RangeJoin
      .pointInInterval(points, sessions, "ts_us", "s_lo", "s_hi",
        binWidth = 1800000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(count(lit(1)).cast("double") /
          countDistinct(col("event_id")).cast("double"), 4).as("avg_concurrency"))
      .orderBy("event_type")
  }

  private val r1Sql =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |y AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |z AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM y),
      |sess AS (
      |  SELECT user_id, sess_id, epoch_us(MIN(ts)) AS s_lo, epoch_us(MAX(ts)) AS s_hi
      |  FROM z GROUP BY user_id, sess_id)
      |SELECT e.event_type, COUNT(*) AS n_pairs,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT e.event_id) AS DOUBLE), 4)
      |    AS avg_concurrency
      |FROM events e JOIN sess s
      |  ON epoch_us(e.ts) >= s.s_lo AND epoch_us(e.ts) <= s.s_hi
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  /** r2: error pressure around clicks — every click paired with every
    * error (ANY user's) within ±2 minutes, profiled per day. Written as
    * the NAIVE band join `abs(cm - em) <= 2` with no equality key — the
    * shape Catalyst can only plan as a nested-loop/cartesian join — and
    * rescued by the injected [[graft.plans.BandJoinRewrite]] optimizer
    * rule into a bucketed hash equi-join (left tagged with its bucket,
    * right exploded to 3 candidate buckets, band kept as the residual).
    * PlanAuditSpec pins zero BNLJ/CartesianProduct in the final plan.
    * `spark.graft.bandJoinRewrite.force` pins the rewrite at test scale,
    * where the ~2 MB events scans sit under the broadcast threshold and
    * the cost guard would (correctly, for that size) keep the broadcast
    * loop; at fact-fact scale the guard fires on its own. The oracle
    * states the same naive band join in DuckDB — independent semantics,
    * not an algorithm replay. Contrast with r1, which buckets by hand
    * via `operators.RangeJoin`: r2 is the user who writes the naive
    * predicate and gets the same plan automatically. */
  def r2BandJoin(s: SparkSession, dir: String): DataFrame = {
    if (!s.experimental.extraOptimizations.contains(graft.plans.BandJoinRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.BandJoinRewrite
    s.conf.set("spark.graft.bandJoinRewrite.force", "true")
    val ev = Tables(s, dir, "events")
    // `div` (integral divide), not `/`: exact minute ids on longs
    val clicks = ev.filter(col("event_type") === "click")
      .selectExpr("ts AS cts", "unix_micros(ts) div 60000000 AS cm")
    val errors = ev.filter(col("event_type") === "error")
      .selectExpr("event_id AS err_id", "unix_micros(ts) div 60000000 AS em")
    clicks.join(errors, abs(col("cm") - col("em")) <= lit(2L))
      .groupBy(date_format(col("cts"), "yyyy-MM-dd").as("click_date"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("err_id")).as("n_errors"))
      .orderBy("click_date")
  }

  private val r2Sql =
    """WITH c AS (
      |  SELECT ts AS cts, epoch_us(ts) // 60000000 AS cm
      |  FROM events WHERE event_type = 'click'),
      |e AS (
      |  SELECT event_id AS err_id, epoch_us(ts) // 60000000 AS em
      |  FROM events WHERE event_type = 'error')
      |SELECT strftime(c.cts, '%Y-%m-%d') AS click_date, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT e.err_id) AS n_errors
      |FROM c JOIN e ON abs(c.cm - e.em) <= 2
      |GROUP BY 1 ORDER BY click_date""".stripMargin

  /** e11: fixed-width value histogram per event type — the profiling /
    * drift-detection sweep (bin counts compared across time slices flag
    * distribution shift). Bin id is `floor(value / width)`: one correctly-
    * rounded division + an exact floor, engine-identical; bin mass uses the
    * shared decimal-sum convention. Map-side partial agg collapses each
    * input partition to |types × bins| rows before the one small shuffle —
    * the 100 TB shape (histogram cardinality is data-independent). */
  def e11ValueHist(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(
        col("event_type"),
        floor(col("value") / lit(5.0)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), "bin_mass"))
      .orderBy("event_type", "bin")

  private val e11Sql =
    """SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS bin_mass
      |FROM events GROUP BY event_type, bin
      |ORDER BY event_type, bin""".stripMargin

  /** z1: z-order address arithmetic — per-z-prefix-cell stats over the
    * (user, value) plane. The z-address is [[graft.operators.ZOrder]]'s
    * Morton interleave (pure shift/mask/or — engine-exact); bucketing by
    * the address's high bits groups rows into the 2-D cells a z-ordered
    * layout would co-locate, so the oracle pins exactly the arithmetic
    * `ZOrder.writeZOrdered` clusters files by. Row-local address + one
    * |cells|-group aggregate. */
  def z1ZorderStats(s: SparkSession, dir: String): DataFrame = {
    val a = col("user_id").bitwiseAND(lit(255L))
    val b = floor(col("value")).cast("long").bitwiseAND(lit(255L))
    Tables(s, dir, "events")
      .select(graft.operators.ZOrder.zAddress(a, b, 8).as("z"), col("value"))
      .groupBy(shiftright(col("z"), 6).as("z_bucket"))
      .agg(count(lit(1)).as("n"), decSum(col("value"), "mass"))
      .orderBy("z_bucket")
  }

  private val z1Sql: String = {
    val z = graft.operators.ZOrder.zAddressSql(
      "(user_id & 255)", "(CAST(floor(value) AS BIGINT) & 255)", 8)
    s"""WITH z AS (SELECT $z AS z, value FROM events)
       |SELECT z >> 6 AS z_bucket, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS mass
       |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
  }

  private val MicrosPerHour = 3600000000L

  /** e12: time-series gap filling — the climate-series completion step
    * (ERA5-style monthly/hourly grids must be dense before resampling or
    * model input): build the full hour × type skeleton from the observed
    * span, left-join the hourly aggregate onto it, zero-fill counts, and
    * carry the last observed mass forward (LOCF) per type. Hours before
    * a type's first observation stay NULL (nothing to carry).
    *
    * Scale shape: the skeleton is |hours × types| rows generated from a
    * 1-row span aggregate — data-independent cardinality, never a scan
    * product; the join is a hash equi-join on (hour, type); LOCF is one
    * window per type over the skeleton (spillable sort, bounded by the
    * series length, not the event count). */
  def e12GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val hoursOf = expr(s"unix_micros(ts) div $MicrosPerHour")
    // ONE corpus scan: the span and the type set both derive from the
    // |hours × types|-bounded hourly aggregate, not from fresh event
    // scans. The aggregate is persisted eagerly (count()) because three
    // plan branches read it — left lazy, their tasks would race-compute
    // it (see the CC edge-derivation note); released by the caller's
    // clearCache like every query-held cache.
    val agg = ev.groupBy(hoursOf.as("h"), col("event_type"))
      .agg(count(lit(1)).as("n_raw"), decSum(col("value"), "mass_raw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    agg.count()
    val span = agg.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val hours = span.select(explode(expr("sequence(lo, hi)")).as("h"))
    val types = agg.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hours.crossJoin(types)
      .join(agg, Seq("h", "event_type"), "left")
      .select(
        date_format(timestamp_micros(col("h") * MicrosPerHour),
          "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"),
        coalesce(col("n_raw"), lit(0L)).as("n"),
        coalesce(col("mass_raw"), lit(0.0)).as("hour_mass"),
        last(col("mass_raw"), ignoreNulls = true).over(w).as("locf_mass"))
      .orderBy("event_type", "bucket")
  }

  private val e12Sql =
    s"""WITH h AS (
       |  SELECT epoch_us(ts) // $MicrosPerHour AS h, event_type, value FROM events),
       |span AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
       |hours AS (SELECT unnest(range(lo, hi + 1)) AS h FROM span),
       |types AS (SELECT DISTINCT event_type FROM h),
       |agg AS (
       |  SELECT h, event_type, COUNT(*) AS n_raw,
       |    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS mass_raw
       |  FROM h GROUP BY h, event_type),
       |j AS (
       |  SELECT hours.h, types.event_type, n_raw, mass_raw
       |  FROM hours CROSS JOIN types
       |  LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = types.event_type)
       |SELECT strftime(make_timestamp(h * $MicrosPerHour), '%Y-%m-%d %H:%M:%S') AS bucket,
       |  event_type, COALESCE(n_raw, 0) AS n, COALESCE(mass_raw, 0.0) AS hour_mass,
       |  last_value(mass_raw IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
       |    ROWS UNBOUNDED PRECEDING) AS locf_mass
       |FROM j ORDER BY event_type, bucket""".stripMargin

  /** e13: rolling 3-hour aggregate per event — time-based, not row-based
    * (sparse stretches shrink the frame, bursts widen it), computed as a
    * TWO-PHASE BUCKETED rolling aggregate rather than one RANGE window
    * partitioned by `event_type` alone (5 distinct values — at corpus
    * scale one task would sort 1/5 of all events). Because the frame
    * length equals the bucket width (3 h), a row's frame spans at most
    * its own bucket and the previous one:
    *
    *   - phase 1: within-(type, bucket) cumulative count/sum, RANGE frame
    *     so `es` ties stay peers — exactly the frame's own-bucket half
    *     (every own-bucket row with es <= t is inside [t-3h, t]);
    *   - phase 2: the previous bucket's contribution (rows with
    *     es >= t − 3 h) via a probe/data union: each event posts a probe
    *     row at its cutoff into the PREVIOUS bucket, one descending ROWS
    *     window accumulates data-row sums (probes carry nulls, so they
    *     never perturb the sums), and each probe reads the suffix at its
    *     cutoff — the same union-window shape as d18's two-phase global
    *     prefix sum.
    *
    * Every window (and the union sort) partitions on (event_type, bucket)
    * — ~3 h of one type per task — and the recombining join shuffles on
    * unique event_id; no stage sorts a whole event_type. Bucket ids are
    * exact integer FLOOR division — `(es - pmod(es, width)) div width`,
    * not `floor(es / width)` (epoch micros ~1.7e18 overflow double's
    * 2^53 exact range) and not bare `div` (which truncates toward zero,
    * misbucketing pre-epoch negative micros so a frame near t=0 would
    * pull in rows older than t−3h). Interior sums stay DECIMAL, so
    * partial + partial is bit-identical to the oracle's single-window
    * SUM. */
  def e13RollingRange(s: SparkSession, dir: String): DataFrame = {
    val threeHours = 3L * MicrosPerHour
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("es"))
      .withColumn("bkt",
        expr(s"(es - pmod(es, ${threeHours}L)) div ${threeHours}L"))
    val wf = Window.partitionBy(col("event_type"), col("bkt")).orderBy(col("es"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ev.select(col("event_id"), col("event_type"),
      count(lit(1)).over(wf).as("n_fwd"),
      sum(col("value").cast(Conventions.Dec)).over(wf).as("m_fwd"))
    val data = ev.select(col("event_type"), col("bkt"), col("es"),
      col("value").cast(Conventions.Dec).as("v"), lit(1L).as("one"),
      lit(null).cast("long").as("probe_id"), lit(0).as("is_probe"))
    val probes = ev.select(col("event_type"), (col("bkt") - 1).as("bkt"),
      (col("es") - threeHours).as("es"),
      lit(null).cast(Conventions.Dec).as("v"), lit(null).cast("long").as("one"),
      col("event_id").as("probe_id"), lit(1).as("is_probe"))
    // descending suffix accumulation; at equal es, data sorts before its
    // probes (the 3 h frame is closed on both ends, so a data row exactly
    // at a probe's cutoff belongs in that probe's frame)
    val wb = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("es").desc, col("is_probe").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = data.unionByName(probes)
      .select(col("probe_id"), col("is_probe"),
        sum(col("v")).over(wb).as("m_sfx"), sum(col("one")).over(wb).as("n_sfx"))
      .filter(col("is_probe") === 1)
      .select(col("probe_id").as("event_id"),
        coalesce(col("m_sfx"), lit(0).cast(Conventions.Dec)).as("m_prev"),
        coalesce(col("n_sfx"), lit(0L)).as("n_prev"))
    fwd.join(prev, "event_id")
      .select(col("event_id"), col("event_type"),
        (col("n_fwd") + col("n_prev")).as("n_3h"),
        (col("m_fwd") + col("m_prev")).cast("double").as("mass_3h"))
      .orderBy("event_id")
  }

  private val e13Sql =
    s"""SELECT event_id, event_type,
       |  COUNT(*) OVER w AS n_3h,
       |  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS mass_3h
       |FROM events
       |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
       |  RANGE BETWEEN ${3L * MicrosPerHour} PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  /** e14: view→click conversion funnel — per user: earliest view, then
    * the earliest click within 30 minutes of it; conversion reported per
    * hour-of-first-view (the "when do users convert" slice). Conversion
    * rate is integer basis points (`div`) — no FP anywhere. Two
    * per-user aggregates + one hash join on user_id; every row group is
    * per-user bounded. */
  def e14Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("v_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val perUser = views.join(clicks, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("v_us"))
      .agg(min(when(col("c_us") >= col("v_us") &&
          col("c_us") <= col("v_us") + lit(1800000000L), col("c_us"))).as("first_c"))
    perUser
      .groupBy(expr(s"(v_us div $MicrosPerHour) % 24").as("view_hour"))
      .agg(count(lit(1)).as("n_viewers"), count(col("first_c")).as("n_converted"))
      .select(col("view_hour"), col("n_viewers"), col("n_converted"),
        expr("(n_converted * 10000) div n_viewers").as("conv_bp"))
      .orderBy("view_hour")
  }

  private val e14Sql =
    s"""WITH v AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
       |  WHERE event_type = 'view' GROUP BY user_id),
       |c AS (
       |  SELECT user_id, epoch_us(ts) AS c_us FROM events
       |  WHERE event_type = 'click'),
       |f AS (
       |  SELECT v.user_id, v.v_us,
       |    MIN(CASE WHEN c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000
       |        THEN c.c_us END) AS first_c
       |  FROM v LEFT JOIN c ON v.user_id = c.user_id
       |  GROUP BY v.user_id, v.v_us)
       |SELECT (v_us // $MicrosPerHour) % 24 AS view_hour,
       |  COUNT(*) AS n_viewers, COUNT(first_c) AS n_converted,
       |  (COUNT(first_c) * 10000) // COUNT(*) AS conv_bp
       |FROM f GROUP BY view_hour ORDER BY view_hour""".stripMargin

  private val MicrosPerDay = 86400000000L

  /** e15: day-cohort retention triangle — users grouped by first-active
    * day, counted again on each of the following 6 days (the standard
    * activation/retention report). Distinct (user, day) first, so a
    * user's burst of events collapses before any join; cohort join is a
    * hash equi-join on user_id; output cardinality is |days × 7|. */
  def e15Retention(s: SparkSession, dir: String): DataFrame = {
    val act = Tables(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $MicrosPerDay").as("d"))
      .distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    first.join(act, Seq("user_id"))
      .select(col("user_id"), col("cohort"), (col("d") - col("cohort")).as("offset"))
      .filter(col("offset") <= 6)
      .groupBy(col("cohort"), col("offset"))
      // plain count, not countDistinct: act is distinct on (user, day) and
      // offset is a function of day given the cohort, so each user appears
      // at most once per group — a distinct-aggregate phase would be
      // redundant work for identical results
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "offset")
  }

  private val e15Sql =
    s"""WITH act AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $MicrosPerDay AS d FROM events),
       |f AS (SELECT user_id, MIN(d) AS cohort FROM act GROUP BY user_id)
       |SELECT f.cohort, act.d - f.cohort AS "offset",
       |  COUNT(DISTINCT act.user_id) AS n_active
       |FROM f JOIN act ON f.user_id = act.user_id
       |WHERE act.d - f.cohort <= 6
       |GROUP BY f.cohort, act.d - f.cohort
       |ORDER BY cohort, "offset"""".stripMargin

  /** e16: z-score outlier sweep — values beyond 3σ of their event type
    * (drift/anomaly profiling, the alarm side of the e11 histogram).
    * Moments accumulate through DECIMAL(38,4) (order-independent), and
    * every downstream FP step (mean, variance, ±3σ thresholds) is a
    * correctly-rounded op on identical operands in identical order, so
    * the flag decisions are engine-exact; variance is clamped at 0 on
    * BOTH sides (cancellation can produce a tiny negative, and engines
    * disagree on sqrt(-ε)). Per-type stats broadcast back — the corpus
    * is scanned for moments and once more for flagging, nothing else. */
  def e16Outliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast(Conventions.Dec)).cast("double").as("s1"),
      sum((col("value") * col("value")).cast(Conventions.Dec)).cast("double").as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1") / nD
    val varr = greatest(col("s2") / nD - mean * mean, lit(0.0))
    val dev = lit(3.0) * sqrt(varr)
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(col("value") > mean + dev || col("value") < mean - dev)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_outliers"),
        min(col("event_id")).as("first_outlier"),
        decSum(col("value"), "outlier_mass"))
      .orderBy("event_type")
  }

  private val e16Sql =
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value * value AS DECIMAL(38,4))) AS DOUBLE) AS s2
      |  FROM events GROUP BY event_type),
      |j AS (
      |  SELECT e.event_type, e.event_id, e.value,
      |    (st.s1 / CAST(st.n AS DOUBLE)) AS mean,
      |    3.0 * sqrt(greatest(
      |      st.s2 / CAST(st.n AS DOUBLE)
      |        - (st.s1 / CAST(st.n AS DOUBLE)) * (st.s1 / CAST(st.n AS DOUBLE)),
      |      0.0)) AS dev
      |  FROM events e JOIN st ON e.event_type = st.event_type)
      |SELECT event_type, COUNT(*) AS n_outliers,
      |  MIN(event_id) AS first_outlier,
      |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS outlier_mass
      |FROM j WHERE value > mean + dev OR value < mean - dev
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e17: SCD Type-2 history build — collapse the per-user event stream
    * into state-change validity intervals (the changelog→dimension-history
    * transform a warehouse MERGE pipeline runs): keep only rows where the
    * state differs from the previous row, stamp each surviving row's
    * interval as [its ts, next change's ts), leave the current state
    * open-ended. Two windows over the SAME (user, ts, event_id) order —
    * one shuffle, one sort, the lag-filter and lead run in the same
    * partition pass; per-user state is bounded by that user's change
    * count, never the event count. */
  def e17Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(timestamp_micros(col("valid_to_us")),
          "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "state")
  }

  private val e17Sql =
    """WITH x AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id, ts, event_type FROM x
      |  WHERE prev_state IS NULL OR prev_state <> event_type),
      |v AS (
      |  SELECT user_id, event_type AS state, ts,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
      |  FROM c)
      |SELECT user_id, state,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  CASE WHEN valid_to_us IS NOT NULL
      |       THEN strftime(make_timestamp(valid_to_us), '%Y-%m-%d %H:%M:%S') END AS valid_to,
      |  valid_to_us IS NULL AS is_current
      |FROM v ORDER BY user_id, valid_from, state""".stripMargin

  /** e18: time-weighted average value per user (TWAP — the irregular-
    * series summary where each observation holds until the next one, so a
    * value's weight is its holding time, not its row count). Interval
    * weights come from a lead() over the per-user order; the weighted sum
    * runs as DECIMAL(18,4) × micros — exact integer arithmetic in both
    * engines — and only the final ratio goes through FP (identical
    * operands, identical order, round 6). Zero-length intervals carry
    * zero weight and are dropped on both sides (also keeps an all-
    * duplicate-timestamp user from producing a 0/0). One window shuffle +
    * one per-user aggregate. */
  def e18Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt") > 0L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("observed_us"),
        round(
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) *
            col("dt")).cast("double") /
            sum(col("dt")).cast("double"), 6).as("twap"))
      .orderBy("user_id")
  }

  private val e18Sql =
    """WITH x AS (
      |  SELECT user_id, value, epoch_us(ts) AS us,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - epoch_us(ts) AS dt
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_intervals,
      |  CAST(SUM(dt) AS BIGINT) AS observed_us,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4)) * dt) AS DOUBLE)
      |    / CAST(SUM(dt) AS DOUBLE), 6) AS twap
      |FROM x WHERE dt > 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** e19: per-type OLS trend (value vs hours-since-corpus-start) — the
    * drift-TREND detector next to e16's point outliers: a metric whose
    * hourly slope moves is shifting even while every point stays inside
    * 3σ. Engine-exact recipe: x is an hour index offset to the corpus
    * minimum (keeps every integer moment inside BIGINT — absolute epoch
    * hours squared would overflow), x-moments accumulate as exact longs,
    * y-moments through the shared decimal convention, and the closed-form
    * slope/intercept then run in DOUBLE on identical operands in
    * identical order on both sides (multiply, multiply, subtract — no
    * fused ops), so round(…,6) agrees bit-for-bit. One partial-agg
    * shuffle of |types| rows plus the 1-row min-hour scalar. */
  def e19TrendSlope(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val hourCol = expr(s"unix_micros(ts) div $MicrosPerHour")
    val minH = ev.agg(min(hourCol)).head.getLong(0)
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 4)
    val m = ev
      .select(col("event_type"), (hourCol - lit(minH)).as("x"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("value").cast(dec18)).cast("double").as("sy"),
        sum(col("value").cast(dec18) * col("x")).cast("double").as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val slope = round(
      (nD * col("sxy") - sxD * col("sy")) /
        (nD * col("sxx").cast("double") - sxD * sxD), 6)
    m.select(col("event_type"), col("n"),
        slope.as("slope_per_hour"),
        round((col("sy") - slope * sxD) / nD, 6).as("intercept"))
      .orderBy("event_type")
  }

  private val e19Sql =
    s"""WITH x AS (
       |  SELECT event_type, value,
       |    epoch_us(ts) // $MicrosPerHour
       |      - (SELECT MIN(epoch_us(ts) // $MicrosPerHour) FROM events) AS x
       |  FROM events),
       |m AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * x) AS DOUBLE) AS sxy
       |  FROM x GROUP BY event_type)
       |SELECT event_type, n,
       |  ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_per_hour,
       |  ROUND((sy - ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) * CAST(sx AS DOUBLE))
       |    / CAST(n AS DOUBLE), 6) AS intercept
       |FROM m ORDER BY event_type""".stripMargin

  /** e20: MAD-robust outlier sweep — flags values whose absolute deviation
    * from the per-type MEDIAN exceeds 5× the median absolute deviation.
    * e16's 3σ rule breaks down exactly when outliers matter most (the
    * outliers inflate σ and mask themselves); median/MAD have a 50%
    * breakdown point. Composes `DistributedPercentile` TWICE (median, then
    * median of deviations) — each pass the spillable window sort, never
    * whole-group buffers — with |types|-row broadcast joins carrying the
    * stats back. The integer threshold factor (5) avoids the 1.4826
    * normal-consistency constant: deviation comparisons stay IEEE ops on
    * identical operands. */
  def e20MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
    val med = graft.operators.DistributedPercentile
      .groupPercentiles(ev, "event_type", "value", Seq("med" -> 0.5))
    // persisted: the deviation table feeds the MAD percentile pass AND
    // the final outlier filter — unpersisted, the events scan + median
    // broadcast join re-ran per consumer (released by the caller's
    // clearCache, the groupPercentiles convention)
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = graft.operators.DistributedPercentile
      .groupPercentiles(dev, "event_type", "ad", Seq("mad" -> 0.5))
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("ad") > lit(5.0) * col("mad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_outliers"),
        min(col("event_id")).as("first_outlier"),
        decSum(col("value"), "outlier_mass"))
      .orderBy("event_type")
  }

  private val e20Sql =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.event_id, e.value, abs(e.value - m.med) AS ad
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(ad, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*) AS n_outliers,
      |  MIN(d.event_id) AS first_outlier,
      |  CAST(SUM(CAST(d.value AS DECIMAL(38,4))) AS DOUBLE) AS outlier_mass
      |FROM dev d JOIN mad USING (event_type)
      |WHERE d.ad > 5.0 * mad.mad
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  /** e21: CUSUM changepoint detection — per event type, the timestamp
    * where the cumulative sum of deviations from the series mean peaks in
    * magnitude (the classic offline CUSUM statistic; Page 1954 is the
    * published root of the technique). All arithmetic is exact: values are
    * lifted to the 1e-4 integer grid, and the statistic is multiplied out
    * as T_k = n·S_k − k·S_n (S = running grid sum) so no division or FP
    * addition happens until the final cast — running DOUBLE sums would be
    * association-order-dependent and diverge between engines (DuckDB's
    * windowed SUM uses a segment tree). One window sort per type plus a
    * |types|-row broadcast back — the 100 TB shape is one shuffle by
    * event_type and a per-partition scan. */
  def e21CusumChange(s: SparkSession, dir: String): DataFrame = {
    val d38 = Conventions.Dec38
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("ts"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000)
          .cast("long").as("w"))
    val tot = ev.groupBy(col("event_type"))
      .agg(sum(col("w").cast(d38)).as("sv"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val scanned = ev
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk",
        sum(col("w").cast(d38)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val stat = scanned.join(broadcast(tot), Seq("event_type"))
      .withColumn("t_stat",
        col("n").cast(d38) * col("sk") - col("k").cast(d38) * col("sv"))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("t_stat")).desc, col("ts"), col("event_id"))
    stat.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("change_ts"),
        col("k").as("k_at_max"),
        (col("t_stat").cast("double") / col("n").cast("double") / lit(10000.0))
          .as("cusum_stat"))
      .orderBy("event_type")
  }

  private val e21Sql =
    """WITH ev AS (
      |  SELECT event_type, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS w
      |  FROM events),
      |tot AS (
      |  SELECT event_type, SUM(w) AS sv, COUNT(*) AS n
      |  FROM ev GROUP BY event_type),
      |scanned AS (
      |  SELECT event_type, event_id, ts,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS k,
      |    SUM(w) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS sk
      |  FROM ev),
      |stat AS (
      |  SELECT s.event_type, s.event_id, s.ts, s.k,
      |    t.n * s.sk - s.k * t.sv AS t_stat, t.n
      |  FROM scanned s JOIN tot t USING (event_type)),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY abs(t_stat) DESC, ts, event_id) AS rk
      |  FROM stat)
      |SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS change_ts,
      |  k AS k_at_max,
      |  CAST(t_stat AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS cusum_stat
      |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** e22: event-type transition matrix — per (src, dst) pair the count of
    * consecutive occurrences within a user's timeline plus the row-
    * normalized transition probability (a first-order Markov chain over
    * the event stream). One shuffle by user_id for the `lead`, one
    * |types²|-row aggregate; the probability is a single correctly-rounded
    * division so the oracle replays it bit-for-bit. */
  def e22Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables(s, dir, "events")
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
    val counts = tr.groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p_next",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"))
      .orderBy("src", "dst")
  }

  private val e22Sql =
    """WITH tr AS (
      |  SELECT event_type AS src,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events),
      |counts AS (
      |  SELECT src, dst, COUNT(*) AS n
      |  FROM tr WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, n,
      |  CAST(n AS DOUBLE)
      |    / CAST(CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS DOUBLE) AS p_next
      |FROM counts ORDER BY src, dst""".stripMargin

  /** e23: seasonal-baseline anomaly census — per (event_type, hour-of-day)
    * bucket, how many values sit more than 2 population-σ from their
    * bucket's mean. The 2σ test is algebraically cleared of all division
    * and sqrt: |v − μ| > 2σ  ⇔  (n·w − Sw)² > 4·(n·Sww − Sw²) on the 1e-4
    * integer grid, so the entire query is exact integer arithmetic in both
    * engines (Spark DECIMAL(38,0) ↔ DuckDB HUGEINT) — no FP comparison at
    * the flag boundary. Shape: one partial-agg shuffle to |types×24| stat
    * rows, broadcast back over the scan. */
  def e23SeasonalAnom(s: SparkSession, dir: String): DataFrame = {
    val d38 = Conventions.Dec38
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        expr(s"(unix_micros(ts) div $MicrosPerHour) % 24").as("hr"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000)
          .cast("long").as("w"))
    val stats = ev.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast(d38)).as("sw"),
        sum(col("w").cast(d38) * col("w")).as("sww"))
    val dev = col("n").cast(d38) * col("w") - col("sw")
    val varNum = col("n").cast(d38) * col("sww") - col("sw") * col("sw")
    ev.join(broadcast(stats), Seq("event_type", "hr"))
      .withColumn("is_anom", (dev * dev > lit(4).cast(d38) * varNum).cast("int"))
      .groupBy(col("event_type"), col("hr"))
      .agg(max(col("n")).as("n"), sum(col("is_anom")).as("n_anom"))
      .orderBy("event_type", "hr")
  }

  private val e23Sql =
    """WITH ev AS (
      |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS w
      |  FROM events),
      |stats AS (
      |  SELECT event_type, hr, COUNT(*) AS n, SUM(w) AS sw, SUM(w * w) AS sww
      |  FROM ev GROUP BY event_type, hr)
      |SELECT e.event_type, e.hr, CAST(MAX(s.n) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN (s.n * e.w - s.sw) * (s.n * e.w - s.sw)
      |                     > 4 * (s.n * s.sww - s.sw * s.sw)
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
      |FROM ev e JOIN stats s USING (event_type, hr)
      |GROUP BY e.event_type, e.hr ORDER BY event_type, hr""".stripMargin

  /** e24: per-user behavioral diversity via the Simpson index
    * 1 − Σ(n_i²)/N² — the no-logarithm diversity measure (Shannon entropy
    * needs ln, which is NOT correctly rounded and never oracle-safe; see
    * d24's Gini for the same dodge on token concentration). Integer
    * numerators, then two multiplies, one divide, one subtract — all
    * correctly rounded on identical operands. Two partial-agg shuffles:
    * |users×types| then |users|. */
  def e24SimpsonDiversity(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("user_id"))
      .agg(sum(col("n") * col("n")).as("ssq"),
        sum(col("n")).as("n_events"),
        count(lit(1)).as("n_types"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (lit(1.0) - col("ssq").cast("double") /
          (col("n_events").cast("double") * col("n_events").cast("double")))
          .as("simpson"))
      .orderBy("user_id")
  }

  private val e24Sql =
    """WITH counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY user_id, event_type),
      |agg AS (
      |  SELECT user_id,
      |    CAST(SUM(n * n) AS BIGINT) AS ssq,
      |    CAST(SUM(n) AS BIGINT) AS n_events,
      |    COUNT(*) AS n_types
      |  FROM counts GROUP BY user_id)
      |SELECT user_id, n_events, n_types,
      |  1.0 - CAST(ssq AS DOUBLE)
      |      / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS simpson
      |FROM agg ORDER BY user_id""".stripMargin

  /** e25: event-type co-occurrence lift — for each unordered type pair,
    * how many users exhibit both and the association-rule lift
    * n_both·N / (n_a·n_b) (Agrawal et al.'s market-basket measure; lift
    * > 1 means the types co-occur more than independence predicts). The
    * user×type incidence deduplicates first (|users×types| rows), the
    * pair join explodes per-user type SETS (≤ |types| each, never raw
    * events), and the lift is integer multiplies + one correctly-rounded
    * division. Shuffles: one dedup, one self-join keyed by user, one
    * |types²| aggregate. */
  def e25CooccurrenceLift(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUsers = ut.select(col("user_id")).distinct().count()
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val both = ut.as("x")
      .join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(perType.as("pa")), col("type_a") === col("pa.event_type"))
      .join(broadcast(perType.as("pb")), col("type_b") === col("pb.event_type"))
      .select(col("type_a"), col("type_b"), col("n_both"),
        ((col("n_both") * lit(nUsers)).cast("double") /
          (col("pa.n_t") * col("pb.n_t")).cast("double")).as("lift"))
      .orderBy("type_a", "type_b")
  }

  private val e25Sql =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM ut),
      |per_type AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type),
      |co AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS n_both
      |  FROM ut x JOIN ut y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both,
      |  CAST(n_both * nu.n AS DOUBLE)
      |    / CAST(pa.n_t * pb.n_t AS DOUBLE) AS lift
      |FROM co
      |JOIN per_type pa ON type_a = pa.event_type
      |JOIN per_type pb ON type_b = pb.event_type
      |CROSS JOIN nu
      |ORDER BY type_a, type_b""".stripMargin

  /** e26: longest consecutive-day activity streak per user — the classic
    * gaps-and-islands technique: over each user's DISTINCT active days,
    * `day − row_number()` is constant exactly within a consecutive run,
    * so grouping by that difference materializes the islands without any
    * self-join. All integer arithmetic (epoch-day indices). Two shuffles,
    * both keyed by user: the distinct and the island window; the
    * per-user argmax is a second window on the same key. The engagement
    * metric behind retention products' "streak" feature. */
  def e26Streaks(s: SparkSession, dir: String): DataFrame = {
    val days = Tables(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val best = Window.partitionBy(col("user_id"))
      .orderBy(col("len").desc, col("start_day"))
    islands
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("len").as("best_streak"),
        col("start_day").as("streak_start_day"))
      .orderBy("user_id")
  }

  private val e26Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |islands AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island,
      |    day
      |  FROM days),
      |runs AS (
      |  SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
      |  FROM islands GROUP BY user_id, island),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY len DESC, start_day) AS rk
      |  FROM runs)
      |SELECT user_id, len AS best_streak, start_day AS streak_start_day
      |FROM best WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** e27: time-to-convert distribution — p50/p90 of the click→purchase
    * delay, per hour-of-day of the click, composing the e7 interval-join
    * shape (equi-join on user, range residual, 30-min cap, FIRST
    * conversion per click via min) with [[graft.operators.DistributedPercentile]]
    * (spillable window sort, no whole-group buffers). Deltas are exact
    * epoch-microsecond integers; the percentile lerp matches DuckDB's
    * `quantile_cont` bit-for-bit (the p2-pinned convention). The
    * conversion-latency SLO report, computed the 100 TB-safe way. */
  def e27ConvertTime(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    // persisted: the count aggregate reads it once and the percentile
    // operator twice (ranks + group counts) — without this the interval
    // join recomputes three times (cache released by Verify/Bench
    // clearCache, the session-wide persist convention)
    val firstConv = clicks.join(purchases, Seq("user_id"))
      .filter(col("p_us") > col("c_us") &&
        col("p_us") <= col("c_us") + lit(1800000000L))
      .groupBy(col("click_id"), col("c_us"))
      .agg(min(col("p_us")).as("first_p_us"))
      .select(expr(s"(c_us div $MicrosPerHour) % 24").as("click_hour"),
        (col("first_p_us") - col("c_us")).as("delta_us"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = graft.operators.DistributedPercentile
      .groupPercentiles(firstConv, "click_hour", "delta_us",
        Seq("p50_us" -> 0.5, "p90_us" -> 0.9))
    firstConv.groupBy(col("click_hour")).agg(count(lit(1)).as("n"))
      .join(broadcast(stats), Seq("click_hour"))
      .orderBy("click_hour")
  }

  private val e27Sql =
    s"""WITH clicks AS (
       |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
       |  FROM events WHERE event_type = 'click'),
       |purchases AS (
       |  SELECT user_id, epoch_us(ts) AS p_us
       |  FROM events WHERE event_type = 'purchase'),
       |conv AS (
       |  SELECT c.click_id, c.c_us, MIN(p.p_us) AS first_p_us
       |  FROM clicks c JOIN purchases p ON c.user_id = p.user_id
       |  WHERE p.p_us > c.c_us AND p.p_us <= c.c_us + 1800000000
       |  GROUP BY c.click_id, c.c_us),
       |d AS (
       |  SELECT (c_us // $MicrosPerHour) % 24 AS click_hour,
       |    first_p_us - c_us AS delta_us
       |  FROM conv)
       |SELECT click_hour, COUNT(*) AS n,
       |  quantile_cont(CAST(delta_us AS DOUBLE), 0.5) AS p50_us,
       |  quantile_cont(CAST(delta_us AS DOUBLE), 0.9) AS p90_us
       |FROM d GROUP BY click_hour ORDER BY click_hour""".stripMargin

  /** e28: target encoding with additive smoothing — the categorical
    * feature-engineering staple (Micci-Barreca 2001): replace a category
    * by its smoothed target mean (n·μ_cat + a·μ_global)/(n + a), which
    * shrinks rare categories toward the prior. Everything is cleared to
    * one division: on the 1e-4 grid the smoothed mean equals
    * (Sw_cat·N + a·Sw_all) / (N·(n_cat + a)) with integer numerator and
    * denominator, so both engines compute the identical double. Shape:
    * one |types|-row aggregate plus a 1-row global broadcast — at 100 TB
    * the encoder table is still broadcast-joined back onto the corpus. */
  def e28TargetEncode(s: SparkSession, dir: String): DataFrame = {
    val a = 10L // smoothing pseudo-count
    val d38 = Conventions.Dec38
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        (col("value").cast(Conventions.Dec) * 10000).cast("long").as("w"))
    val per = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("w").cast(d38)).as("sw"))
    val glob = ev.agg(count(lit(1)).as("gn"), sum(col("w").cast(d38)).as("gsw"))
    per.crossJoin(broadcast(glob))
      .select(col("event_type"), col("n"),
        ((col("sw") * col("gn") + lit(a).cast(d38) * col("gsw")).cast("double") /
          (col("gn").cast(d38) * (col("n") + lit(a)).cast(d38)).cast("double") /
          lit(10000.0)).as("encoded"))
      .orderBy("event_type")
  }

  private val e28Sql =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(38,4)) * 10000 AS BIGINT) AS w
      |  FROM events),
      |per AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(w) AS sw
      |  FROM ev GROUP BY event_type),
      |tot AS (SELECT COUNT(*) AS gn, SUM(w) AS gsw FROM ev)
      |SELECT event_type, n,
      |  CAST(sw * gn + 10 * gsw AS DOUBLE)
      |    / CAST(gn * (n + 10) AS DOUBLE) / 10000.0 AS encoded
      |FROM per CROSS JOIN tot ORDER BY event_type""".stripMargin

  /** e30: inter-arrival time distribution — p50/p90 of the gap between a
    * user's consecutive events of each type (lag over (user, type)
    * streams, tie-broken on event_id so the lag is total-ordered), fed
    * into [[graft.operators.DistributedPercentile]]. The burstiness /
    * session-cadence profile that sizes watermarks and session gaps
    * (e3's 30-min gap is exactly a quantile of this distribution).
    * Gaps are exact epoch-microsecond integers; the lerp is the
    * p2-pinned quantile_cont parity. Fine-grained (user, type) window
    * partitions — no task ever sorts a whole type. */
  /** e31: ordered funnel conversion — how many users performed
    * view → click → purchase IN TIMESTAMP ORDER (each stage strictly
    * after the user's earliest previous-stage event). The classic
    * product-analytics computation that neither plain aggregation nor
    * sessionization covers: stage N's earliest qualifying time depends
    * on stage N-1's.
    *
    * Scale shape: one filtered aggregate per stage (map-side combined
    * min per user) and one user_id equi-join per stage transition — all
    * three stages co-partition on user_id, no window over the event
    * stream, no per-user event sorting. Strict `>` at every transition:
    * a click at exactly the view's timestamp is not "after" it, on
    * either engine. */
  def e31Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(no: Int, name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_users"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"), col("n_users"))
    stage(1, "view", v)
      .unionByName(stage(2, "view>click", c))
      .unionByName(stage(3, "view>click>purchase", p))
      .orderBy("stage_no")
  }

  private val e31Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS stage_no, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      |  UNION ALL
      |  SELECT 2, 'view>click', (SELECT COUNT(*) FROM c)
      |  UNION ALL
      |  SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM p)) z
      |ORDER BY stage_no""".stripMargin

  def e30InterArrival(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("es"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("es"), col("event_id"))
    // persisted: the count aggregate reads it once, the percentile
    // operator twice (the e27 convention; released by clearCache)
    val gaps = ev.withColumn("prev", lag(col("es"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("es") - col("prev")).as("gap_us"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = graft.operators.DistributedPercentile
      .groupPercentiles(gaps, "event_type", "gap_us",
        Seq("p50_us" -> 0.5, "p90_us" -> 0.9))
    gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
      .join(broadcast(stats), Seq("event_type"))
      .orderBy("event_type")
  }

  private val e30Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS es FROM events),
      |g AS (
      |  SELECT event_type,
      |    es - LAG(es) OVER (PARTITION BY user_id, event_type
      |      ORDER BY es, event_id) AS gap_us
      |  FROM e),
      |f AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n_gaps,
      |  quantile_cont(gap_us, 0.5) AS p50_us,
      |  quantile_cont(gap_us, 0.9) AS p90_us
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e29: week-over-week growth — epoch-week totals per event type with
    * the lag-ratio growth rate (t − prev)/prev. Totals are exact via the
    * DECIMAL interior sum; the growth is two correctly-rounded double ops
    * on identical operands, NULL on each type's first week (no fake 0%).
    * One |weeks×types| aggregate and one lag window over those few rows. */
  def e29WowGrowth(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(s, dir, "events")
      .groupBy(expr("unix_micros(ts) div 604800000000").as("week"),
        col("event_type"))
      .agg(decSum(col("value"), "total"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev", lag(col("total"), 1).over(w))
      // zero-prev guard: a 0-total base week must yield NULL, not
      // Infinity/NaN (which would diverge from the oracle's CASE NULL)
      .withColumn("wow_growth",
        when(col("prev") =!= 0.0, (col("total") - col("prev")) / col("prev")))
      .select(col("week"), col("event_type"), col("total"), col("wow_growth"))
      .orderBy("week", "event_type")
  }

  private val e29Sql =
    """WITH weekly AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total
      |  FROM events GROUP BY 1, 2),
      |lagd AS (
      |  SELECT week, event_type, total,
      |    LAG(total) OVER (PARTITION BY event_type ORDER BY week) AS prev
      |  FROM weekly)
      |SELECT week, event_type, total,
      |  CASE WHEN prev <> 0 THEN (total - prev) / prev END AS wow_growth
      |FROM lagd ORDER BY week, event_type""".stripMargin

  /** e32: windowed heavy hitters — per-hour top-3 event types by count
    * (deterministic count-desc/type-asc rank). The exact batch face of
    * the bounded-state streaming space-saving summary
    * ([[graft.streaming.StreamOps.heavyHittersPerWindow]], spec-pinned
    * equal when its capacity covers the per-window type universe). Pure
    * two-level shape: hash aggregate, then a rank window over the
    * (|hours|·|types|) AGGREGATED rows — the window input is already
    * reduced, never the raw stream. */
  def e32HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("n").desc, col("event_type"))
    Tables(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("rk").cast("long").as("rk"))
      .orderBy("bucket", "rk")
  }

  private val e32Sql =
    """WITH c AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket, event_type, n,
      |  CAST(rk AS BIGINT) AS rk
      |FROM (
      |  SELECT h, event_type, n,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY n DESC, event_type) AS rk
      |  FROM c) z
      |WHERE rk <= 3 ORDER BY bucket, rk""".stripMargin

  /** e33: OHLC candle resample — per (event_type, hour): first/max/min/
    * last value, the classic time-series downsampling shape (TSDB
    * `resample` / financial candlesticks). Deliberately built as a PURE
    * HASH AGGREGATE via min_by/max_by over a composite total-order key
    * (epoch-µs ⋅ 10¹⁰ + event_id, exact in DECIMAL(38,0) — no window, no
    * per-group sort: at 100 TB the naive row_number-per-frame
    * formulation sorts every partition, while this shape map-side
    * combines and shuffles only one partial row per (type, hour, task).
    * The oracle replays the same argmin/argmax over the same key in
    * HUGEINT. */
  def e33Ohlc(s: SparkSession, dir: String): DataFrame = {
    val ord = unix_micros(col("ts")).cast(Conventions.Dec38) * lit(10000000000L) +
      col("event_id")
    Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
      .orderBy("event_type", "bucket")
  }

  private val e33Sql =
    """SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
      |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id) AS close,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  /** e34: incremental aggregate maintenance — the MATERIALIZED-VIEW
    * pattern every 100 TB pipeline runs on arrival: per-key sufficient
    * statistics (n, Σv, Σv², min, max) are computed separately over the
    * already-landed base (ts < cutoff) and the newly-arrived delta
    * (ts ≥ cutoff), then MERGED key-by-key (counts/sums add, extrema
    * combine) without ever re-reading base rows — and the merged mean /
    * variance derived from the merged statistics must equal the
    * full-recompute answer, which is exactly what the oracle computes
    * over the whole table. Interior sums ride DECIMAL (order-independent,
    * engine-exact: Σv at (38,4), Σv² at value² exact in (37,8)), so the
    * merge is bit-identical to the recompute, not approximately so. */
  def e34IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val v4 = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(Conventions.Dec)).as("s"),
        sum(v4 * v4).as("s2"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
    val ev = Tables(s, dir, "events").select(col("event_type"), col("ts"), col("value"))
    val base = partials(ev.filter(col("ts") < cutoff))
    val delta = partials(ev.filter(col("ts") >= cutoff))
    val b = base.select(col("event_type"), col("n").as("bn"), col("s").as("bs"),
      col("s2").as("bs2"), col("mn").as("bmn"), col("mx").as("bmx"))
    val d = delta.select(col("event_type"), col("n").as("dn"), col("s").as("ds"),
      col("s2").as("ds2"), col("mn").as("dmn"), col("mx").as("dmx"))
    val zero = lit(java.math.BigDecimal.ZERO)
    val merged = b.join(d, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
        (coalesce(col("bs"), zero.cast(Conventions.Dec)) +
          coalesce(col("ds"), zero.cast(Conventions.Dec))).as("s"),
        (coalesce(col("bs2"), zero) + coalesce(col("ds2"), zero)).as("s2"),
        least(col("bmn"), col("dmn")).as("min_value"),   // least/greatest skip NULLs
        greatest(col("bmx"), col("dmx")).as("max_value"))
    merged.select(col("event_type"), col("n_rows"),
        col("s").cast("double").as("total_value"),
        col("min_value"), col("max_value"),
        round((col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n_rows").cast("double")) /
          col("n_rows").cast("double"), 6).as("var_value"))
      .orderBy("event_type")
  }

  private val e34Sql =
    """WITH p AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(38,4))) AS s,
      |    SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS s2,
      |    MIN(value) AS min_value, MAX(value) AS max_value
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n AS n_rows,
      |  CAST(s AS DOUBLE) AS total_value, min_value, max_value,
      |  ROUND((CAST(s2 AS DOUBLE)
      |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |    / CAST(n AS DOUBLE), 6) AS var_value
      |FROM p ORDER BY event_type""".stripMargin

  /** KMV sketch size shared by e35/e36 — the Spark aggregates AND the
    * oracle SQL texts interpolate from this one val, so changing k can
    * never silently diverge the estimator constant `(k-1)·2⁶⁰`. */
  private val KmvK = 64

  /** e35: KMV distinct-user estimate per event type — m4's
    * [[graft.functions.KMinValues]] sketch on the events stream's
    * cardinality question ("how many distinct users did X", the query
    * behind every DAU/MAU tile). Same scale contract as m4: ONE hash
    * aggregate whose map-side combine ships ≤ k longs per (mapper,
    * type); the exact countDistinct rides alongside as the audit column
    * you'd drop at deployment scale. Hashes come from the user id's
    * decimal string (both engines render a BIGINT identically), so the
    * DuckDB replay is the same order statistic. */
  def e35KmvUsers(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val k = KmvK
    val hashed = Tables(s, dir, "events")
      .select(col("event_type"),
        graft.operators.PortableHash.hex60(col("user_id")).as("gh"))
    val sk = hashed.groupBy(col("event_type"))
      .agg(graft.functions.SketchFunctions.kminValues(col("gh"), k).as("kmins"))
      .select(col("event_type"), size(col("kmins")).as("kc"),
        element_at(col("kmins"), size(col("kmins"))).as("kth_hash"))
    val ex = hashed.groupBy(col("event_type"))
      .agg(countDistinct(col("gh")).as("exact_users"))
    val exd = col("exact_users").cast("double")
    val est = when(col("kc") < k, col("kc").cast("double"))
      .otherwise(round(lit((k - 1).toDouble * 1152921504606846976.0) / col("kth_hash").cast("double"), 4))
    sk.join(ex, "event_type")
      .withColumn("kmv_estimate", est)
      .withColumn("err_ppm",
        round((col("kmv_estimate") - exd) / exd * lit(1e6)).cast("long"))
      .select(col("event_type"), col("exact_users"), col("kth_hash"),
        col("kmv_estimate"), col("err_ppm"))
      .orderBy("event_type")
  }

  private val e35Sql =
    s"""WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS gh
      |  FROM events),
      |rk AS (
      |  SELECT event_type, gh,
      |    row_number() OVER (PARTITION BY event_type ORDER BY gh) AS rk
      |  FROM h),
      |sk AS (
      |  SELECT event_type, MAX(gh) AS kth_hash, COUNT(*) AS kc
      |  FROM rk WHERE rk <= $KmvK GROUP BY event_type),
      |ex AS (SELECT event_type, COUNT(*) AS exact_users FROM h GROUP BY event_type),
      |j AS (
      |  SELECT sk.event_type, ex.exact_users, sk.kth_hash,
      |    CASE WHEN sk.kc < $KmvK THEN CAST(sk.kc AS DOUBLE)
      |         ELSE ROUND((${KmvK - 1}.0 * 1152921504606846976.0) / CAST(sk.kth_hash AS DOUBLE), 4)
      |    END AS kmv_estimate
      |  FROM sk JOIN ex USING (event_type))
      |SELECT event_type, exact_users, kth_hash, kmv_estimate,
      |  CAST(ROUND((kmv_estimate - CAST(exact_users AS DOUBLE))
      |    / CAST(exact_users AS DOUBLE) * 1e6, 0) AS BIGINT) AS err_ppm
      |FROM j ORDER BY event_type""".stripMargin

  /** e36: windowed KMV cardinality tiles — e35's distinct-user sketch
    * per (event_type, hour) window, the actual DAU-dashboard grain: one
    * sketch per tile, each ≤ k longs of state. This is the query shape
    * where the bounded-state aggregate beats `countDistinct` hardest at
    * scale: exact per-tile distinct needs a full (tile, user) dedup
    * shuffle, while the sketch-only form is one hash aggregate whose
    * map-side combine ships ≤ k longs per (mapper, tile) — capped by
    * tiles·k regardless of event volume. THIS audit query carries the
    * exact count alongside, so its own plan does pay the (tile, user)
    * shuffle (the sketch riding through it — plan-verified); at
    * deployment you drop the audit column and keep the capped shape,
    * the m4 convention. Per-tile error in ppm. */
  def e36WindowedKmv(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SketchFunctions.register(s)
    val k = KmvK
    val hashed = Tables(s, dir, "events")
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        graft.operators.PortableHash.hex60(col("user_id")).as("gh"))
    val sk = hashed.groupBy(col("event_type"), col("hour"))
      .agg(graft.functions.SketchFunctions.kminValues(col("gh"), k).as("kmins"),
        countDistinct(col("gh")).as("exact_users"))
      .select(col("event_type"), col("hour"), col("exact_users"),
        size(col("kmins")).as("kc"),
        element_at(col("kmins"), size(col("kmins"))).as("kth_hash"))
    val est = when(col("kc") < k, col("kc").cast("double"))
      .otherwise(round(lit((k - 1).toDouble * 1152921504606846976.0) / col("kth_hash").cast("double"), 4))
    sk.withColumn("kmv_estimate", est)
      .withColumn("err_ppm",
        round((col("kmv_estimate") - col("exact_users").cast("double"))
          / col("exact_users").cast("double") * lit(1e6)).cast("long"))
      .select(col("event_type"), col("hour"), col("exact_users"),
        col("kmv_estimate"), col("err_ppm"))
      .orderBy("event_type", "hour")
  }

  private val e36Sql =
    s"""WITH h AS (
      |  SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS gh
      |  FROM events),
      |rk AS (
      |  SELECT event_type, hour, gh,
      |    row_number() OVER (PARTITION BY event_type, hour ORDER BY gh) AS rk
      |  FROM h),
      |sk AS (
      |  SELECT event_type, hour, MAX(gh) AS kth_hash, COUNT(*) AS kc
      |  FROM rk WHERE rk <= $KmvK GROUP BY event_type, hour),
      |ex AS (SELECT event_type, hour, COUNT(*) AS exact_users
      |       FROM h GROUP BY event_type, hour),
      |j AS (
      |  SELECT sk.event_type, sk.hour, ex.exact_users,
      |    CASE WHEN sk.kc < $KmvK THEN CAST(sk.kc AS DOUBLE)
      |         ELSE ROUND((${KmvK - 1}.0 * 1152921504606846976.0) / CAST(sk.kth_hash AS DOUBLE), 4)
      |    END AS kmv_estimate
      |  FROM sk JOIN ex USING (event_type, hour))
      |SELECT event_type, hour, exact_users, kmv_estimate,
      |  CAST(ROUND((kmv_estimate - CAST(exact_users AS DOUBLE))
      |    / CAST(exact_users AS DOUBLE) * 1e6, 0) AS BIGINT) AS err_ppm
      |FROM j ORDER BY event_type, hour""".stripMargin

  /** e37: discrete churn hazard by tenure — for each tenure week t
    * (weeks since the user's first activity, e29's epoch-week grid),
    * the share of then-active users whose LAST activity falls at t:
    * h(t) = churned_here(t) / active(t), the retention curve read as a
    * per-step exit rate (where e15's triangle shows survival mass, the
    * hazard localizes WHEN users leave). NAIVE right-censoring: users
    * whose last week is the dataset's final observed week are counted
    * as churned like any other — fine for an audit over a closed
    * window, stated so nobody reads the tail row as real churn.
    *
    * Scale shape: the (user, week) activity table dedups once, per-user
    * min/max fold to one row per user, tenures aggregate to |weeks|
    * rows — no window over raw events, all integer arithmetic, hazard
    * on the ppm grid. */
  def e37ChurnHazard(s: SparkSession, dir: String): DataFrame = {
    val act = Tables(s, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val users = act.groupBy(col("user_id"))
      .agg(min(col("week")).as("w0"), max(col("week")).as("wlast"))
    val tenures = act.join(users, "user_id")
      .select(col("user_id"), (col("week") - col("w0")).as("t"),
        (col("wlast") - col("w0")).as("tlast"))
    tenures.groupBy(col("t"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("t") === col("tlast"), 1L).otherwise(0L)).as("n_churned"))
      .withColumn("hazard_ppm", expr("(1000000 * n_churned) div n_active"))
      .orderBy("t")
  }

  private val e37Sql =
    """WITH act AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      |u AS (SELECT user_id, MIN(week) AS w0, MAX(week) AS wlast
      |      FROM act GROUP BY user_id),
      |t AS (
      |  SELECT a.user_id, a.week - u.w0 AS t, u.wlast - u.w0 AS tlast
      |  FROM act a JOIN u USING (user_id))
      |SELECT t, COUNT(*) AS n_active,
      |  CAST(SUM(CASE WHEN t = tlast THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |  CAST((1000000 * SUM(CASE WHEN t = tlast THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
      |    AS hazard_ppm
      |FROM t GROUP BY t ORDER BY t""".stripMargin

  /** e38: A/A SPLIT-SANITY check — the calibration every experimentation
    * pipeline runs before trusting its assignment hash: purchasing users
    * split into two arms by the portable hash of their id, per-user
    * total purchase value compared across arms with the two-sample
    * (Welch) z statistic. On observational data with a sound hash the
    * arms are exchangeable, so |z| should sit inside ±1.96 — a
    * significant difference means the ASSIGNMENT is biased (hash
    * correlated with behavior), the failure this audit exists to catch
    * before any real A/B test launches on the same split. (A
    * conversion-RATE z is degenerate here — every synthetic user
    * purchases — so the value metric is also the non-trivial one.)
    *
    * Scale shape: one per-user aggregate, one 2-row arm rollup of
    * sufficient statistics (n, Σ, Σ²) with DECIMAL interior sums (the
    * e34 convention — the shuffle cannot perturb them), driver-free
    * arithmetic on a 1-row frame. The z expression tree is identical on
    * both engines (every FP op correctly rounded on identical exact
    * operands → identical doubles), rounded to 6 dp; zero pooled
    * variance yields NULL on both sides (never a divide). */
  def e38AbSplitCheck(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 4)))
        .as("tv"))
      .withColumn("arm",
        pmod(graft.operators.PortableHash.hex60(col("user_id")), lit(2L)))
    val tv18 = col("tv").cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("tv")).as("s"),
        sum(tv18 * tv18).as("s2"))
    val a = arms.filter(col("arm") === 0L)
      .select(col("n").as("n_a"), col("s").as("s_a"), col("s2").as("s2_a"))
    val b = arms.filter(col("arm") === 1L)
      .select(col("n").as("n_b"), col("s").as("s_b"), col("s2").as("s2_b"))
    def stats(n: String, sc: String, s2: String)
        : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
           org.apache.spark.sql.Column) = {
      val nd = col(n).cast("double")
      val mean = col(sc).cast("double") / nd
      val variance = (col(s2).cast("double") -
        col(sc).cast("double") * col(sc).cast("double") / nd) / nd
      (nd, mean, variance)
    }
    val (na, ma, va) = stats("n_a", "s_a", "s2_a")
    val (nb, mb, vb) = stats("n_b", "s_b", "s2_b")
    val pooled = va / na + vb / nb
    a.crossJoin(b)
      .withColumn("mean_a", round(ma, 4))
      .withColumn("mean_b", round(mb, 4))
      .withColumn("z",
        when(pooled > 0, round((ma - mb) / sqrt(pooled), 6)))
      .withColumn("balanced", abs(col("z")) <= 1.96)
      .select(col("n_a"), col("mean_a"), col("n_b"), col("mean_b"),
        col("z"), col("balanced"))
  }

  private val e38Sql = {
    def stats(p: String) = (
      s"CAST(n_$p AS DOUBLE)",
      s"CAST(s_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)",
      s"(CAST(s2_$p AS DOUBLE) - CAST(s_$p AS DOUBLE) * CAST(s_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)) / CAST(n_$p AS DOUBLE)")
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val pooled = s"$va / $na + $vb / $nb"
    s"""WITH pu AS (
       |  SELECT user_id, SUM(CAST(value AS DECIMAL(38,4))) AS tv
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |arms AS (
       |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) % 2
       |      AS arm, tv, CAST(tv AS DECIMAL(18,4)) AS tv18
       |  FROM pu),
       |s AS (SELECT arm, COUNT(*) AS n, SUM(tv) AS s, SUM(tv18 * tv18) AS s2
       |      FROM arms GROUP BY arm),
       |a AS (SELECT n AS n_a, s AS s_a, s2 AS s2_a FROM s WHERE arm = 0),
       |b AS (SELECT n AS n_b, s AS s_b, s2 AS s2_b FROM s WHERE arm = 1),
       |j AS (
       |  SELECT n_a, ROUND($ma, 4) AS mean_a, n_b, ROUND($mb, 4) AS mean_b,
       |    CASE WHEN $pooled > 0
       |         THEN ROUND(($ma - $mb) / sqrt($pooled), 6) END AS z
       |  FROM a, b)
       |SELECT n_a, mean_a, n_b, mean_b, z, abs(z) <= 1.96 AS balanced
       |FROM j""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("e35_kmv_users", e35KmvUsers, e35Sql),
    Query("e38_ab_splitcheck", e38AbSplitCheck, e38Sql),
    Query("e36_windowed_kmv", e36WindowedKmv, e36Sql),
    Query("e37_churn_hazard", e37ChurnHazard, e37Sql),
    Query("e1_window_hourly", e1WindowHourly, e1Sql),
    Query("e2_window_sliding", e2WindowSliding, e2Sql),
    Query("e3_sessionize", e3Sessionize, e3Sql),
    Query("e4_json_extract", e4JsonExtract, e4Sql),
    Query("e5_type_stats", e5TypeStats, e5Sql),
    Query("e6_dedup_first", e6DedupFirst, e6Sql),
    Query("e7_interval_join", e7IntervalJoin, e7Sql),
    Query("e8_asof_join", e8AsofJoin, e8Sql),
    Query("e9_asof_forward", e9AsofForward, e9Sql),
    Query("e10_asof_nearest", e10AsofNearest, e10Sql),
    Query("e11_value_hist", e11ValueHist, e11Sql),
    Query("e12_gap_fill", e12GapFill, e12Sql),
    Query("e13_rolling_range", e13RollingRange, e13Sql),
    Query("e14_funnel", e14Funnel, e14Sql),
    Query("e15_retention", e15Retention, e15Sql),
    Query("e16_outliers", e16Outliers, e16Sql),
    Query("e17_scd2_intervals", e17Scd2, e17Sql),
    Query("e18_twap", e18Twap, e18Sql),
    Query("e19_trend_slope", e19TrendSlope, e19Sql),
    Query("e20_mad_outliers", e20MadOutliers, e20Sql),
    Query("e21_cusum_change", e21CusumChange, e21Sql),
    Query("e22_transitions", e22Transitions, e22Sql),
    Query("e23_seasonal_anom", e23SeasonalAnom, e23Sql),
    Query("e24_simpson_diversity", e24SimpsonDiversity, e24Sql),
    Query("e25_cooccurrence_lift", e25CooccurrenceLift, e25Sql),
    Query("e26_streaks", e26Streaks, e26Sql),
    Query("e27_convert_time", e27ConvertTime, e27Sql),
    Query("e28_target_encode", e28TargetEncode, e28Sql),
    Query("e29_wow_growth", e29WowGrowth, e29Sql),
    Query("e30_inter_arrival", e30InterArrival, e30Sql),
    Query("e31_funnel", e31Funnel, e31Sql),
    Query("e32_heavy_hitters", e32HeavyHitters, e32Sql),
    Query("e33_ohlc", e33Ohlc, e33Sql),
    Query("e34_incremental_agg", e34IncrementalAgg, e34Sql),
    Query("r1_range_join", r1RangeJoin, r1Sql),
    Query("r2_band_join", r2BandJoin, r2Sql),
    Query("z1_zorder_stats", z1ZorderStats, z1Sql))
}
