package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Streaming semantics pinned with MemoryStream micro-batches; where a
  * batch twin exists (EventOps e1/e3/e6) the streaming result must agree
  * with the batch computation over the same rows. */
class StreamOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")

  private val batch1 = Seq(
    Event(1L, ts(0), 1L, "click", 1.0, "{}"),
    Event(2L, ts(5), 1L, "click", 2.0, "{}"),
    Event(3L, ts(10), 2L, "view", 3.0, "{}"))
  private val batch2 = Seq(
    Event(4L, ts(65), 1L, "click", 4.0, "{}"),   // next hour, new session for u1 (gap 60m)
    Event(5L, ts(70), 2L, "view", 5.0, "{}"),    // u2 gap 60m -> new session
    Event(2L, ts(5), 1L, "click", 2.0, "{}"))    // duplicate event_id within watermark

  test("hourlyByType matches batch groupBy over the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1); ms.addData(batch2)
    StreamOps.runToMemory(StreamOps.hourlyByType(ms.toDF()), "hourly", OutputMode.Complete())
    val got = spark.table("hourly")
      .select(date_format(col("bucket"), "HH:mm").as("b"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // batch2 re-delivers event_id 2 at 10:05 — a windowed aggregate
    // without dedup counts it again, so hour-10 clicks = 3
    assert(got == Set(("10:00", "click", 3L), ("10:00", "view", 1L),
      ("11:00", "click", 1L), ("11:00", "view", 1L)))
  }

  test("sessionize produces one session per 30-min activity gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1 ++ batch2.take(2))
    StreamOps.runToMemory(StreamOps.sessionize(ms.toDF()), "sessions", OutputMode.Complete())
    val got = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(identity)
    // u1: (events 1,2)=2 then (4)=1; u2: (3)=1 then (5)=1
    assert(got.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("dedupEvents drops the duplicate event_id inside the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1); ms.addData(batch2)
    StreamOps.runToMemory(StreamOps.dedupEvents(ms.toDF()), "dedup", OutputMode.Append())
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"got ${ids.toSeq}")
  }

  test("ohlcBars (e33 twin) maintains open/close through the composite order key") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1); ms.addData(batch2)
    StreamOps.runToMemory(StreamOps.ohlcBars(ms.toDF()), "ohlc", OutputMode.Complete())
    val got = spark.table("ohlc")
      .select(date_format(col("bucket"), "HH:mm").as("b"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    // batch2 re-delivers event_id 2 (2.0 @10:05): n=3 for hour-10 clicks,
    // open/close unchanged (same composite key, same value); close follows
    // the LAST key, not the largest value
    assert(got == Set(
      ("10:00", "click", 1.0, 2.0, 1.0, 2.0, 3L),
      ("10:00", "view", 3.0, 3.0, 3.0, 3.0, 1L),
      ("11:00", "click", 4.0, 4.0, 4.0, 4.0, 1L),
      ("11:00", "view", 5.0, 5.0, 5.0, 5.0, 1L)))
  }

  test("incrementalTypeStats (e34 twin): state after EACH batch equals a full recompute") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.incrementalTypeStats(ms.toDF())
      .writeStream.format("memory").queryName("e34stats")
      .outputMode(OutputMode.Complete()).start()
    def rows(t: org.apache.spark.sql.DataFrame) = t.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    // the same declarative aggregate over a STATIC frame is the one-shot
    // recompute; the streaming side must merge its way to the same bits
    ms.addData(batch1); q.processAllAvailable()
    assert(rows(spark.table("e34stats")) ==
      rows(StreamOps.incrementalTypeStats(batch1.toDF())))
    ms.addData(batch2); q.processAllAvailable()
    assert(rows(spark.table("e34stats")) ==
      rows(StreamOps.incrementalTypeStats((batch1 ++ batch2).toDF())))
    q.stop()
  }

  test("runningUserTotals accumulates state across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1)
    val q = StreamOps.runningUserTotals(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("totals").outputMode(OutputMode.Update()).start()
    q.processAllAvailable()
    ms.addData(batch2.take(2))
    q.processAllAvailable()
    q.stop()
    // last update per user wins
    val last = spark.table("totals").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    assert(last(1L) == ((3L, 7.0)))
    assert(last(2L) == ((2L, 8.0)))
  }

  test("native session_window agrees with e3's manual gap sessionization on testdata") {
    import org.apache.spark.sql.functions._
    // batch-mode session_window over the full events table
    val native = Tables(spark, sfDir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"))
      .select("user_id", "sess_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val manual = queries.EventOps.e3Sessionize(spark, sfDir)
      .select("user_id", "sess_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == manual,
      s"diff: native-only=${(native -- manual).take(3)}, manual-only=${(manual -- native).take(3)}")
  }

  test("watermark drops events later than the delay, keeps late-but-in-window ones") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.hourlyByType(ms.toDF())
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Append())
      .start()
    // batch 1 advances event time to 14:00 → watermark = 12:00 (2h delay)
    ms.addData(Seq(Event(10L, Timestamp.valueOf("2024-01-01 14:00:00"), 1L, "click", 1.0, "{}")))
    q.processAllAvailable()
    // batch 2: 12:30 is late but within the watermark (counted);
    // 09:00 is beyond it (dropped with its expired window)
    ms.addData(Seq(
      Event(11L, Timestamp.valueOf("2024-01-01 12:30:00"), 1L, "click", 1.0, "{}"),
      Event(12L, Timestamp.valueOf("2024-01-01 09:00:00"), 1L, "click", 1.0, "{}")))
    q.processAllAvailable()
    // batch 3 advances the watermark far enough to emit all live windows
    ms.addData(Seq(Event(13L, Timestamp.valueOf("2024-01-01 20:00:00"), 1L, "click", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val buckets = spark.table("late")
      .select(date_format(col("bucket"), "HH:mm").as("b"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(buckets.get("12:00").contains(1L), s"late-but-valid event lost: $buckets")
    assert(!buckets.contains("09:00"), s"expired event leaked: $buckets")
  }

  test("flatMapGroupsWithState emits closed sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.completedSessions(ms.toDS())
      .writeStream.format("memory").queryName("closed").outputMode(OutputMode.Append())
      .start()
    // session A: u1 at 10:00 + 10:05
    ms.addData(Seq(
      Event(1L, ts(0), 1L, "click", 1.0, "{}"),
      Event(2L, ts(5), 1L, "click", 2.0, "{}")))
    q.processAllAvailable()
    // u1 again at 11:05 (gap 60m > 30m) -> closes session A in-batch and
    // opens session B; u2's lone event opens session C
    ms.addData(Seq(
      Event(3L, ts(65), 1L, "click", 4.0, "{}"),
      Event(4L, ts(70), 2L, "view", 8.0, "{}")))
    q.processAllAvailable()
    // far-future event advances the watermark (2h delay) past B and C's
    // timeout timestamps -> both flush via the event-time timeout path
    ms.addData(Seq(Event(9L, Timestamp.valueOf("2024-01-02 09:00:00"), 3L, "click", 0.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("closed")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    assert(got.contains((1L, 2L, 3.0)), s"gap-closed session A missing: $got")
    assert(got.contains((1L, 1L, 4.0)), s"timeout-closed session B missing: $got")
    assert(got.contains((2L, 1L, 8.0)), s"timeout-closed session C missing: $got")
  }

  test("heavyHittersPerWindow equals the batch per-hour top-k when capacity covers the types") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.heavyHittersPerWindow(ms.toDS(), capacity = 8, k = 3)
      .toDF().writeStream.format("memory").queryName("hh_exact")
      .outputMode(OutputMode.Append()).start()
    // hour 10: click x3, view x2, buy x1; hour 11: view x2, click x1
    ms.addData(Seq(
      Event(1L, ts(0), 1L, "click", 0, "{}"),
      Event(2L, ts(5), 1L, "view", 0, "{}"),
      Event(3L, ts(10), 2L, "click", 0, "{}")))
    ms.addData(Seq(
      Event(4L, ts(15), 2L, "buy", 0, "{}"),
      Event(5L, ts(20), 1L, "click", 0, "{}"),
      Event(6L, ts(25), 2L, "view", 0, "{}"),
      Event(7L, ts(65), 1L, "view", 0, "{}"),
      Event(8L, ts(70), 2L, "view", 0, "{}"),
      Event(9L, ts(75), 1L, "click", 0, "{}")))
    q.processAllAvailable()
    // far-future row pushes the watermark past both windows' close
    ms.addData(Seq(Event(99L, Timestamp.valueOf("2024-01-02 09:00:00"), 9L, "x", 0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hh_exact")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("event_type"), col("est_count"), col("max_err"), col("rk"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    // capacity 8 > 3 distinct types: exact counts, zero error — the
    // batch e32 ranking over the same rows
    assert(got == Set(
      ("10:00", "click", 3L, 0L, 1), ("10:00", "view", 2L, 0L, 2),
      ("10:00", "buy", 1L, 0L, 3),
      ("11:00", "view", 2L, 0L, 1), ("11:00", "click", 1L, 0L, 2)), got)
  }

  test("heavyHittersPerWindow under capacity: deterministic eviction, bounded overestimate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.heavyHittersPerWindow(ms.toDS(), capacity = 2, k = 2)
      .toDF().writeStream.format("memory").queryName("hh_tight")
      .outputMode(OutputMode.Append()).start()
    // arrival order a,a,b,a,c,b: c evicts b(1) -> c:(2,1); the late b
    // evicts c(2) -> b:(3,2). True counts: a=3, b=2, c=1.
    ms.addData(Seq(
      Event(1L, ts(0), 1L, "a", 0, "{}"),
      Event(2L, ts(1), 1L, "a", 0, "{}"),
      Event(3L, ts(2), 1L, "b", 0, "{}"),
      Event(4L, ts(3), 1L, "a", 0, "{}"),
      Event(5L, ts(4), 1L, "c", 0, "{}"),
      Event(6L, ts(5), 1L, "b", 0, "{}")))
    q.processAllAvailable()
    ms.addData(Seq(Event(99L, Timestamp.valueOf("2024-01-02 09:00:00"), 9L, "x", 0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hh_tight")
      .select(col("event_type"), col("est_count"), col("max_err"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == Set(("a", 3L, 0L, 1), ("b", 3L, 2L, 2)), got)
    // space-saving guarantee holds for the surviving counters:
    // est >= true >= est - max_err
    val truth = Map("a" -> 3L, "b" -> 2L)
    got.foreach { case (t, est, err, _) =>
      assert(est >= truth(t) && truth(t) >= est - err, s"$t: est=$est err=$err")
    }
  }

  test("kmvUsersPerWindow (e36 twin): emitted tiles equal the batch windowed sketch, kth-hash path exercised") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val k = 3
    // hour 10: 6 distinct users on click (> k: estimator path), 2 on
    // view; hour 11: 4 distinct users on click — split across batches
    // and with repeat visits (distinctness is the sketch's job)
    val evs = Seq(
      Event(1L, ts(0), 11L, "click", 0, "{}"),
      Event(2L, ts(2), 12L, "click", 0, "{}"),
      Event(3L, ts(4), 13L, "click", 0, "{}"),
      Event(4L, ts(6), 14L, "click", 0, "{}"),
      Event(5L, ts(8), 11L, "click", 0, "{}"), // repeat
      Event(6L, ts(10), 21L, "view", 0, "{}"),
      Event(7L, ts(50), 22L, "view", 0, "{}"),
      Event(8L, ts(65), 31L, "click", 0, "{}"),
      Event(9L, ts(70), 32L, "click", 0, "{}"))
    val late = Seq(
      Event(10L, ts(12), 15L, "click", 0, "{}"),
      Event(11L, ts(14), 16L, "click", 0, "{}"),
      Event(12L, ts(75), 33L, "click", 0, "{}"),
      Event(13L, ts(80), 34L, "click", 0, "{}"))
    val ms = MemoryStream[Event]
    val q = StreamOps.kmvUsersPerWindow(ms.toDS(), k)
      .toDF().writeStream.format("memory").queryName("kmv_tiles")
      .outputMode(OutputMode.Append()).start()
    ms.addData(evs); q.processAllAvailable()
    ms.addData(late); q.processAllAvailable()
    // far-future row pushes the watermark past both windows' close
    ms.addData(Seq(Event(99L, Timestamp.valueOf("2024-01-02 09:00:00"), 9L, "x", 0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kmv_tiles")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("kc"), col("kth_hash"), col("estimate"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    // batch e36's sketch columns over the same rows (the aggregate +
    // estimate expression is e36's, at this k)
    graft.functions.SketchFunctions.register(spark)
    val hashed = (evs ++ late).toDF()
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        graft.operators.PortableHash.hex60(col("user_id")).as("gh"))
    val want = hashed.groupBy(col("event_type"), col("hour"))
      .agg(graft.functions.SketchFunctions.kminValues(col("gh"), k).as("kmins"))
      .select(col("hour"), col("event_type"),
        size(col("kmins")).as("kc"),
        element_at(col("kmins"), size(col("kmins"))).as("kth_hash"))
      .withColumn("estimate",
        when(col("kc") < k, col("kc").cast("double"))
          .otherwise(round(lit((k - 1).toDouble * 1152921504606846976.0)
            / col("kth_hash").cast("double"), 4)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == want, s"stream $got != batch $want")
    // the saturated tile really took the estimator path (kc == k)
    assert(got.exists(t => t._3 == k), got)
    assert(got.exists(t => t._3 < k), got)
  }

  test("completedSessions extends, never rewinds, on late-but-valid events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.completedSessions(ms.toDS())
      .writeStream.format("memory").queryName("late_sess").outputMode(OutputMode.Append())
      .start()
    ms.addData(Seq(Event(1L, ts(20), 1L, "click", 1.0, "{}")))    // 10:20
    q.processAllAvailable()
    // late event at 10:00 (inside the 2h watermark): must extend the
    // session's start backwards WITHOUT rewinding lastTs/timeout
    ms.addData(Seq(Event(2L, ts(0), 1L, "click", 2.0, "{}")))
    q.processAllAvailable()
    // 10:45 is within 30 min of lastTs=10:20 -> same session (a rewound
    // lastTs=10:00 would wrongly split here)
    ms.addData(Seq(Event(3L, ts(45), 1L, "click", 4.0, "{}")))
    q.processAllAvailable()
    ms.addData(Seq(Event(9L, Timestamp.valueOf("2024-01-02 09:00:00"), 3L, "click", 0.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("late_sess").filter(col("user_id") === 1L)
      .collect().map(r => (r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((ts(0), 3L, 7.0)), s"got $got")
  }

  test("scd2Intervals emits each state change and agrees with the batch e17 shape") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      Event(1L, ts(0), 1L, "view", 1.0, "{}"),
      Event(2L, ts(5), 1L, "click", 1.0, "{}"),
      Event(5L, ts(2), 2L, "view", 1.0, "{}"))
    val rows2 = Seq(
      Event(3L, ts(10), 1L, "click", 1.0, "{}"),     // same state: no emission
      Event(4L, ts(20), 1L, "purchase", 1.0, "{}"))  // closes click
    val ms = MemoryStream[Event]
    ms.addData(rows); ms.addData(rows2)
    StreamOps.runToMemory(StreamOps.scd2Intervals(ms.toDS()).toDF(), "scd2",
      OutputMode.Append())
    val got = spark.table("scd2")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(got == Set(
      (1L, "view", ts(0), ts(5)),
      (1L, "click", ts(5), ts(20))))
    // batch twin over the same rows: e17's window recipe, closed rows only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batchClosed = (rows ++ rows2).toDF()
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("valid_to"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(got == batchClosed, "stream must equal the batch twin's closed rows")
  }

  test("transitions emits cross-batch pairs and totals equal the batch e22 counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows1 = Seq(
      Event(1L, ts(0), 1L, "view", 1.0, "{}"),
      Event(2L, ts(5), 1L, "click", 1.0, "{}"),
      Event(5L, ts(2), 2L, "view", 1.0, "{}"))
    val rows2 = Seq(
      Event(3L, ts(10), 1L, "purchase", 1.0, "{}"), // bridges batch 1's click
      Event(6L, ts(12), 2L, "view", 1.0, "{}"))
    val ms = MemoryStream[Event]
    ms.addData(rows1); ms.addData(rows2)
    StreamOps.runToMemory(StreamOps.transitions(ms.toDS()).toDF(), "trans",
      OutputMode.Append())
    val got = spark.table("trans").groupBy("src", "dst").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // batch twin: e22's lead-window recipe over the union of both batches
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = (rows1 ++ rows2).toDF()
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch, "stream transition counts must equal the batch twin")
    assert(got(("click", "purchase")) === 1L, "cross-batch bridge pair must be emitted")
  }

  test("onlineCusum alarms on a level shift, carries state across batches, resets") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // k=2, h=5: values at the reference level accumulate nothing; the
    // shift to 5 adds +3 per event -> alarm on the 2nd shifted event,
    // even though the shift spans the batch boundary
    val batchA = Seq(
      Event(1L, ts(0), 1L, "m", 2.0, "{}"),
      Event(2L, ts(1), 1L, "m", 2.0, "{}"),
      Event(3L, ts(2), 1L, "m", 5.0, "{}"))   // S = 3
    val batchB = Seq(
      Event(4L, ts(3), 1L, "m", 5.0, "{}"),   // S = 6 > 5 -> alarm, reset
      Event(5L, ts(4), 1L, "m", 5.0, "{}"),   // S = 3
      Event(6L, ts(5), 1L, "m", 5.0, "{}"))   // S = 6 -> alarm again
    val ms = MemoryStream[Event]
    // two REAL micro-batches (addData between processAllAvailable calls),
    // so the S=3 carried out of batch A must survive in state — a
    // state-dropping regression cannot pass
    ms.addData(batchA)
    val q = StreamOps.onlineCusum(ms.toDS(), k = 2.0, h = 5.0).toDF()
      .writeStream.format("memory").queryName("cusum_alarms")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    assert(spark.table("cusum_alarms").count() === 0, "no alarm inside batch A")
    ms.addData(batchB)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cusum_alarms")
      .collect().map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq === Seq((4L, 6.0), (6L, 6.0)),
      s"expected alarms at events 4 and 6, got ${got.toList}")
    // offline replay over the concatenated stream agrees
    var s = 0.0
    val replay = (batchA ++ batchB).sortBy(_.event_id).flatMap { e =>
      s = math.max(0.0, s + (e.value - 2.0))
      if (s > 5.0) { val a = (e.event_id, s); s = 0.0; Some(a) } else None
    }
    assert(got.toSeq === replay)
  }

  test("stream-stream interval join correlates events within the gap only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    clicks.addData(Seq(
      Event(1L, ts(0), 1L, "click", 1.0, "{}"),
      Event(2L, ts(30), 2L, "click", 1.0, "{}")))
    buys.addData(Seq(
      Event(100L, ts(5), 1L, "buy", 9.0, "{}"),    // 5 min after click 1 -> joins
      Event(101L, ts(50), 2L, "buy", 9.0, "{}"),   // 20 min after click 2 -> outside 10-min gap
      Event(102L, ts(2), 2L, "buy", 9.0, "{}")))   // BEFORE u2's click -> excluded
    val joined = StreamOps.correlate(clicks.toDF(), buys.toDF(), "user_id")
    StreamOps.runToMemory(joined, "attributed", OutputMode.Append())
    val got = spark.table("attributed")
      .select("left_event", "right_event")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L)), s"got $got")
  }

  test("left-outer interval join emits unmatched lefts when the watermark closes the interval") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = StreamOps.correlate(clicks.toDF(), buys.toDF(), "user_id",
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("attr_outer")
      .outputMode(OutputMode.Append()).start()
    // batch 1: u1 converts in-interval; u2 never converts; u3 not yet
    clicks.addData(Seq(
      Event(1L, ts(0), 1L, "click", 1.0, "{}"),
      Event(2L, ts(30), 2L, "click", 1.0, "{}"),
      Event(3L, ts(20), 3L, "click", 1.0, "{}")))
    buys.addData(Seq(Event(100L, ts(5), 1L, "buy", 9.0, "{}")))
    q.processAllAvailable()
    // batch 2: u3's conversion arrives a micro-batch LATE but with event
    // time 10:25, inside [10:20, 10:30] and inside the watermark -> joins
    buys.addData(Seq(Event(102L, ts(25), 3L, "buy", 9.0, "{}")))
    q.processAllAvailable()
    // batch 3: advance BOTH watermarks far past 10:30+10min+1h so u2's
    // interval closes and the unmatched left emits with NULL right side
    clicks.addData(Seq(Event(8L, Timestamp.valueOf("2024-01-02 09:00:00"), 9L, "click", 0.0, "{}")))
    buys.addData(Seq(Event(9L, Timestamp.valueOf("2024-01-02 09:00:00"), 9L, "buy", 0.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_outer").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got.contains((1L, Some(100L))), s"in-interval match missing: $got")
    assert(got.contains((3L, Some(102L))), s"late-but-in-watermark match missing: $got")
    assert(got.contains((2L, None)), s"unmatched left not emitted on watermark close: $got")
    assert(!got.contains((2L, Some(100L))), s"cross-user leak: $got")
  }

  test("asofLatest equals batch asofBackward on event-time-ordered batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lefts = MemoryStream[Event]
    val rights = MemoryStream[Event]
    val q = StreamOps.asofLatest(lefts.toDS(), rights.toDS()).toDF()
      .writeStream.format("memory").queryName("asof_latest")
      .outputMode(OutputMode.Append()).start()
    // batch 1: u1's right then lefts (one at the SAME timestamp — must
    // match, right-before-left tie rule), u3's left with no right at all
    rights.addData(Seq(Event(100L, ts(0), 1L, "quote", 1.0, "{}")))
    lefts.addData(Seq(
      Event(1L, ts(0), 1L, "trade", 1.0, "{}"),
      Event(2L, ts(5), 1L, "trade", 1.0, "{}"),
      Event(3L, ts(5), 3L, "trade", 1.0, "{}")))
    q.processAllAvailable()
    // batch 2: state persists for u1; u2 gets its first right then a left
    rights.addData(Seq(Event(101L, ts(10), 2L, "quote", 1.0, "{}")))
    lefts.addData(Seq(
      Event(4L, ts(30), 1L, "trade", 1.0, "{}"),
      Event(5L, ts(15), 2L, "trade", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_latest")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val want = Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> Some(100L), 5L -> Some(101L))
    assert(got == want, s"got $got")
    // the batch twin on the same rows agrees (event-time-ordered arrival)
    val leftDf = Seq((1L, ts(0), 1L), (1L, ts(5), 2L), (3L, ts(5), 3L),
      (1L, ts(30), 4L), (2L, ts(15), 5L)).toDF("k", "ts", "lid")
    val rightDf = Seq((1L, ts(0), 100L), (2L, ts(10), 101L)).toDF("k", "ts", "qid")
    val batch = graft.operators.AsofJoin
      .asofBackward(leftDf, rightDf, "k", "ts", Seq("qid"))
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(batch == want, s"batch twin diverged: $batch")
  }

  test("streaming ANN probe per batch equals the batch ANN result on the same data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val emb = Tables(spark, sfDir, "embeddings")
    // static user->embedding dim and a disjoint retrieval corpus
    val userEmb = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("user_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= 100)
    val ms = MemoryStream[Event]
    val perBatch = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    val q = StreamOps.annPerBatch(ms.toDF(), userEmb, corpus, k = 3) { (df, id) =>
      val s = df.select("q_id", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (s.nonEmpty) perBatch(id) = s
    }
    ms.addData(batch1)
    q.processAllAvailable()
    ms.addData(batch2.take(2))
    q.processAllAvailable()
    q.stop()
    // batch twin: identical enrich + ANN over the union of both batches —
    // per-probe independence makes the per-batch union equal the one-shot
    // batch result, proving the streaming seam changes nothing semantic
    val probes = (batch1 ++ batch2.take(2)).toDF()
      .join(broadcast(userEmb), Seq("user_id"))
      .select(col("event_id").as("vec_id"), col("embedding"))
    val want = graft.operators.AnnSearch
      .approxTopK(probes, corpus, "vec_id", "embedding", 3)
      .select("q_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "batch twin produced no candidates — weak test data")
    assert(perBatch.values.flatten.toSet == want,
      s"streaming ${perBatch.values.flatten.toSet} != batch $want")
  }

  test("kmvDistinctPerLang (m4 twin): state after every batch equals the batch sketch over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.SketchFunctions.register(spark)
    val k = 8 // small k so batches overflow the sketch (the interesting regime)
    val b1 = (0 until 40).map(i => ("en", s"tok${i % 25} tok${(i + 3) % 25}"))
    val b2 = (0 until 40).map(i => ("en", s"tok${i % 31} xx$i")) ++
      Seq(("fr", "seul jeton"))
    val b3 = Seq(("en", "tok1 tok2 fresh token stream"), ("fr", "seul jeton encore"))
    val ms = MemoryStream[(String, String)]
    val q = StreamOps.kmvDistinctPerLang(ms.toDF().toDF("lang", "text"), k)
      .toDF()
      .writeStream.format("memory").queryName("kmv").outputMode(OutputMode.Update())
      .start()
    // the batch twin: the KMinValues aggregate over the prefix's union —
    // sketch state must be a pure function of the union, not the batching
    def batchSketch(rows: Seq[(String, String)]): Map[String, (Int, Long)] =
      rows.toDF("lang", "text")
        .select(org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), " ")).as("term"))
        .select(org.apache.spark.sql.functions.col("lang"),
          graft.operators.PortableHash.hex60(
            org.apache.spark.sql.functions.col("term")).as("gh"))
        .groupBy("lang")
        .agg(graft.functions.SketchFunctions.kminValues(
          org.apache.spark.sql.functions.col("gh"), k).as("km"))
        .collect()
        .map(r => r.getString(0) -> {
          val s = r.getSeq[Long](1); (s.size, s.last)
        }).toMap
    def lastPerLang(): Map[String, (Int, Long)] = spark.table("kmv").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (l, v) => l -> v.last._2 }
    var seen = Seq.empty[(String, String)]
    for (b <- Seq(b1, b2, b3)) {
      ms.addData(b); q.processAllAvailable()
      seen = seen ++ b
      assert(lastPerLang() == batchSketch(seen), s"after ${seen.size} docs")
    }
    q.stop()
  }

  test("cmsCountsPerLang (m6 twin): grid after every batch equals the batch sketch over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.SketchFunctions.register(spark)
    val (d, w) = (3, 16) // tiny grid so collisions actually occur
    val b1 = (0 until 30).map(i => ("en", s"cm${i % 9} cm${(i + 2) % 9}"))
    val b2 = (0 until 30).map(i => ("en", s"cm${i % 13} yy$i")) ++
      Seq(("fr", "un jeton"))
    val b3 = Seq(("en", "cm1 cm2 nouveau"), ("fr", "un jeton encore"))
    val ms = MemoryStream[(String, String)]
    val q = StreamOps.cmsCountsPerLang(ms.toDF().toDF("lang", "text"), d, w)
      .toDF()
      .writeStream.format("memory").queryName("cms").outputMode(OutputMode.Update())
      .start()
    // batch twin: the CmsCounts aggregate over the prefix's union — the
    // grid is a sum over the token multiset, so batching cannot move it
    def batchGrid(rows: Seq[(String, String)]): Map[String, Seq[Long]] =
      rows.toDF("lang", "text")
        .select(org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), " ")).as("term"))
        .select(org.apache.spark.sql.functions.col("lang"),
          graft.operators.PortableHash.hex60(
            org.apache.spark.sql.functions.col("term")).as("gh"))
        .groupBy("lang")
        .agg(graft.functions.SketchFunctions.cmsCounts(
          org.apache.spark.sql.functions.col("gh"),
          org.apache.spark.sql.functions.lit(1L), d, w).as("cms"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def lastPerLang(): Map[String, Seq[Long]] = spark.table("cms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1).map { case (l, v) => l -> v.last._3 }
    var seen = Seq.empty[(String, String)]
    for (b <- Seq(b1, b2, b3)) {
      ms.addData(b); q.processAllAvailable()
      seen = seen ++ b
      val want = batchGrid(seen)
      assert(lastPerLang() == want, s"after ${seen.size} docs")
      // the emitted total is the token count (grid row sums are equal)
      val totals = spark.table("cms").collect()
        .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
        .map { case (l, v) => l -> v.last._2 }
      assert(totals == want.map { case (l, g) => l -> g.sum / d })
    }
    q.stop()
  }

  test("sourceDriftPerBatch (d40 twin): TV after every batch equals the batch formula over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // frozen reference: a fixed 4-term corpus marginal
    val ref = Map("alpha" -> 40L, "beta" -> 30L, "gamma" -> 20L, "delta" -> 10L)
    val refTotal = ref.values.sum
    val b1 = Seq(("s1", "alpha alpha beta"), ("s2", "delta delta delta"))
    val b2 = Seq(("s1", "gamma beta beta"), ("s2", "delta epsilon"))
    val b3 = Seq(("s1", "alpha"), ("s2", "zeta zeta"))
    val ms = MemoryStream[(String, String)]
    val q = StreamOps.sourceDriftPerBatch(ms.toDF().toDF("source", "text"), ref)
      .toDF()
      .writeStream.format("memory").queryName("drift").outputMode(OutputMode.Update())
      .start()
    def batchTv(rows: Seq[(String, String)]): Map[String, (Long, Long)] =
      rows.flatMap { case (s, t) => t.split(" ").map(s -> _) }
        .groupBy(_._1).map { case (s, toks) =>
          val counts = toks.groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
          val n = counts.values.sum
          val tv2 = (ref.keySet ++ counts.keySet).toSeq.map { t =>
            math.abs(counts.getOrElse(t, 0L) * 1000000L / n -
              ref.getOrElse(t, 0L) * 1000000L / refTotal)
          }.sum
          s -> (n, tv2 / 2)
        }
    def lastPerSource(): Map[String, (Long, Long)] = spark.table("drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, v) => s -> (v.last._2, v.last._3) }
    var seen = Seq.empty[(String, String)]
    for (b <- Seq(b1, b2, b3)) {
      ms.addData(b); q.processAllAvailable()
      seen = seen ++ b
      assert(lastPerSource() == batchTv(seen), s"after ${seen.size} docs")
    }
    q.stop()
    // terms OUTSIDE the reference (epsilon, zeta) must add drift mass:
    // s2 saw 2/6 tokens outside ref, so its TV is strictly above the
    // TV it would have with those tokens replaced by its modal term
    assert(lastPerSource()("s2")._2 > 0L)
  }

  test("sourceDriftPerBatch fail-fasts when a source exceeds the declared vocab bound") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val q = StreamOps.sourceDriftPerBatch(
        ms.toDF().toDF("source", "text"), Map("a" -> 1L), maxVocab = 3)
      .toDF()
      .writeStream.format("memory").queryName("drift_cap").outputMode(OutputMode.Update())
      .start()
    ms.addData(Seq(("s1", "t1 t2 t3 t4")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getCause.getMessage.contains("state bound") ||
      Option(e.getCause.getCause).exists(_.getMessage.contains("state bound")))
    q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[Event]
    ms.addData(batch1)
    val q = StreamOps.enrich(ms.toDF(), dim, "user_id")
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "gold", 2L -> "gold", 3L -> "silver"))
  }

  test("checkpointed parquet sink is exactly-once across a query restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sink_ckpt").toString
    val ms = MemoryStream[Event]
    ms.addData(batch1)
    val q1 = StreamOps.sinkParquet(ms.toDF(), out, ckpt)
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint: already-committed batch must not
    // re-emit; only the new batch lands
    ms.addData(batch2.take(2))
    val q2 = StreamOps.sinkParquet(ms.toDF(), out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), s"got $ids")
  }

  test("streaming file source over testdata events agrees with batch e5 counts") {
    // file streams need a drop-zone directory, not a single file
    val dropZone = java.nio.file.Files.createTempDirectory("events_drop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dropZone.resolve("events.parquet"))
    val stream = StreamOps.readEvents(spark, dropZone.toString)
    val agg = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    StreamOps.runToMemory(agg, "file_counts", OutputMode.Complete())
    val got = spark.table("file_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = queries.EventOps.e5TypeStats(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming decontamination per-batch union equals the batch sweep") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val eval = Seq((1L, "the quick brown fox jumps"),
      (2L, "a lazy dog sleeps soundly")).toDF("doc_id", "text")
    val b1 = Seq(StreamDoc(100L, "the quick brown fox and more words here"),
      StreamDoc(101L, "completely unrelated content in this one"))
    val b2 = Seq(StreamDoc(102L, "a lazy dog sleeps in the sun"))
    val ms = MemoryStream[StreamDoc]
    val reports = scala.collection.mutable.Map[Long, Set[(Long, Long, Long)]]()
    val q = StreamOps.decontaminatePerBatch(ms.toDF(), eval, "doc_id", "text", n = 3) {
      (df, id) =>
        val s = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        if (s.nonEmpty) reports(id) = s
    }
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    // per-document independence: the union of per-batch reports must equal
    // the one-shot batch sweep over the same documents — the foreachBatch
    // seam reuses the oracle-checked batch operator unchanged
    val want = graft.operators.Decontaminate
      .contamination((b1 ++ b2).toDF(), eval, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "batch twin found no contamination — weak test data")
    assert(reports.values.flatten.toSet == want,
      s"streaming ${reports.values.flatten.toSet} != batch $want")
  }

  test("streaming near-dup gate matches per-batch incremental sweeps, releases caches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      StreamDoc(100L, "the quick brown fox jumps over the lazy dog tonight"), // ~corpus 1
      StreamDoc(101L, "completely different text with no shared shingles at all"))
    val b2 = Seq( // a within-batch near-dup pair, unrelated to the corpus
      StreamDoc(103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      StreamDoc(104L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ms = MemoryStream[StreamDoc]
    val reports = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    val q = StreamOps.nearDupPerBatch(ms.toDF(), corpus, "doc_id", "text", 0.3) {
      (df, id) =>
        val s = df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        if (s.nonEmpty) reports(id) = s
    }
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    // the gate's per-batch band-table caches must be gone once each batch
    // is consumed — a long-running stream cannot accumulate them
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"streaming gate leaked caches: $leaked")
    def sweep(b: Seq[StreamDoc]) = graft.operators.MinHashDedup
      .nearDuplicatesAgainst(corpus, b.toDF(), "doc_id", "text", 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = sweep(b1) ++ sweep(b2)
    assert(want == Set((1L, 100L), (103L, 104L)), s"unexpected batch sweeps: $want")
    assert(reports.values.flatten.toSet == want,
      s"streaming ${reports.values.flatten.toSet} != per-batch $want")
    spark.catalog.clearCache()
  }

  test("PII redaction runs unchanged on a stream and equals the batch result") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // row-local ops (redaction, quality scoring, chunking) need no
    // foreachBatch adapter: the same DataFrame transform is legal on a
    // streaming frame — this pins that the redactor stays in that class
    // (no accidental agg/sort/collect creeping into it)
    val rows = Seq(
      StreamDoc(1L, "reach a.b@mail.example.com or +1-555-0134 now"),
      StreamDoc(2L, "clean body, nothing to scrub"))
    val ms = MemoryStream[StreamDoc]
    val q = graft.operators.Redact.redactDocs(ms.toDF(), "text")
      .writeStream.format("memory").queryName("redacted_stream")
      .outputMode("append").start()
    ms.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("redacted_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    val batch = graft.operators.Redact.redactDocs(rows.toDF(), "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("ingestPipeline: dedup+decontaminate+land is exactly-once across restart AND replay") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("ingest")
    val inDir = root.resolve("in"); Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val ck = root.resolve("ck").toString
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the riverbank every morning",
      2L -> "completely unrelated corpus document about distributed query planning internals")
      .toDF("doc_id", "text")
    val evalSet = Seq(
      900L -> "held out benchmark question about climate adaptation policy outcomes")
      .toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = false)))
    def writeFile(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(inDir.resolve(name), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}""" }.mkString("", "\n", "\n"))
    def start() = StreamOps.ingestPipeline(
      spark.readStream.schema(schema).json(inDir.toString),
      corpus, evalSet, "doc_id", "text", threshold = 0.5, outDir, ck)
    def landed(): Map[Long, Long] = spark.read.parquet(outDir)
      .groupBy(col("doc_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // file A (batch 0): 100 clean; 101 near-dups corpus doc 1; 102 carries
    // an eval 5-gram verbatim
    val fileA = Seq(
      100L -> "a genuinely fresh training document with novel content throughout the body",
      101L -> "the quick brown fox jumps over the lazy dog near the riverbank every evening",
      102L -> "students debated the benchmark question about climate adaptation policy at length")
    writeFile("a.json", fileA)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(landed() === Map(100L -> 1L),
      "batch 0 must land ONLY the clean doc (near-dup and contaminated dropped)")
    // file B (batch 1, after restart from the same checkpoint): 200 and
    // 201 near-dup each other (min-id 200 survives); 202 clean
    val fileB = Seq(
      200L -> "an entirely different second wave document describing streaming ingest gates",
      201L -> "an entirely different second wave document describing streaming ingest dikes",
      202L -> "another independent clean document closing out the second ingest wave")
    writeFile("b.json", fileB)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(landed() === Map(100L -> 1L, 200L -> 1L, 202L -> 1L),
      "restart must process ONLY the new file: no batch-0 dupes, no losses")
    // forced replay of committed batch 0 (at-least-once delivery): the
    // dynamic partition overwrite must rewrite batch_id=0, not append
    StreamOps.ingestBatch(fileA.toDF("doc_id", "text"), corpus, evalSet,
      "doc_id", "text", threshold = 0.5, n = 5, outDir, batchId = 0L,
      validateDisjoint = true)
    assert(landed() === Map(100L -> 1L, 200L -> 1L, 202L -> 1L),
      "replaying a committed batch must be a no-op on landed rows")
  }

  test("ingestPipelineCompact + compactLanded equals the one-shot gate across batches, restart, and replay") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("ingestc")
    val inDir = root.resolve("in"); Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val stDir = root.resolve("state").toString
    val ck = root.resolve("ck").toString
    val corpus = Seq(
      10L -> "the quick brown fox jumps over the lazy dog near the riverbank every morning",
      11L -> "completely unrelated corpus document about distributed query planning internals")
      .toDF("doc_id", "text")
    val evalSet = Seq(
      900L -> "held out benchmark question about climate adaptation policy outcomes")
      .toDF("doc_id", "text")
    val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    val corpusIds = corpus.select(col("doc_id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = false)))
    def writeFile(name: String, docs: Seq[(Long, String)]): Unit =
      Files.writeString(inDir.resolve(name), docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}""" }.mkString("", "\n", "\n"))
    def start() = StreamOps.ingestPipelineCompact(
      spark.readStream.schema(schema).json(inDir.toString),
      staticIndex, corpusIds, evalSet, "doc_id", "text", threshold = 0.5,
      outDir, stDir, ck)
    def landedIds(): Set[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def compactedIds(): Set[Long] = StreamOps
      .compactLanded(spark, outDir, stDir, corpusIds, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 0: 300 clean; 301 near-dups CORPUS doc 10 (gate drops it —
    // and its signatures must still enter the accumulated index, because
    // 320 below near-dups 301, not any survivor); 302 carries an eval
    // 5-gram (decontaminated)
    val fileA = Seq(
      300L -> "a genuinely fresh training document with novel content throughout the body",
      301L -> "the quick brown fox jumps over the lazy dog near the riverbank every evening",
      302L -> "students debated the benchmark question about climate adaptation policy at length")
    // batch 1: 310 near-dups EARLIER-BATCH doc 300 (the cross-batch case
    // ingestPipeline misses; the accumulated index must catch it at the
    // gate); 311 clean
    val fileB = Seq(
      310L -> "a genuinely fresh training document with novel content throughout the corpus",
      311L -> "an entirely different second wave document describing streaming ingest gates")
    writeFile("a.json", fileA)
    val q1 = start(); q1.processAllAvailable()
    writeFile("b.json", fileB)
    q1.processAllAvailable(); q1.stop()
    assert(landedIds() === Set(300L, 311L),
      "gates must drop corpus dups, contaminated docs, AND cross-batch dups")
    // batch 2 (after restart): 250 near-dups landed doc 311 with a
    // SMALLER id — the one case no arrival-time gate can fix (311 already
    // landed); 250 lands, the pair is logged, compaction retro-drops 311.
    // 320 near-dups DROPPED doc 301 — one-shot policy still drops 320
    val fileC = Seq(
      250L -> "an entirely different second wave document describing streaming ingest dikes",
      320L -> "the quick brown fox jumps over the lazy dog near the riverbank every midnight")
    writeFile("c.json", fileC)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(landedIds() === Set(300L, 311L, 250L),
      "the smaller-id late arrival must land; its landed partner stays until compaction")
    assert(compactedIds() === Set(300L, 250L),
      "compaction must retro-drop the landed doc its later smaller-id near-dup outranks")
    // time travel (c19's twin): as of batch 1, doc 311's killer pair had
    // not surfaced — the lineage read must contain it, exactly as the
    // corpus stood when batch 1 was the frontier; as of 2 it is gone
    def asOfIds(n: Long): Set[Long] = StreamOps
      .compactLanded(spark, outDir, stDir, corpusIds, "doc_id", asOf = n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(asOfIds(0L) === Set(300L), s"asOf 0: ${asOfIds(0L)}")
    assert(asOfIds(1L) === Set(300L, 311L),
      "the retro-dropped doc must still be in the as-of-1 lineage view")
    assert(asOfIds(2L) === Set(300L, 250L))
    // one-shot equivalence: the whole stream as a SINGLE batch through
    // the same gate + compaction must land exactly the compacted set
    val oneRoot = Files.createTempDirectory("ingestc1")
    StreamOps.ingestBatchCompact((fileA ++ fileB ++ fileC).toDF("doc_id", "text"),
      staticIndex, corpusIds, evalSet, "doc_id", "text", threshold = 0.5,
      n = 5, oneRoot.resolve("out").toString, oneRoot.resolve("state").toString,
      batchId = 0L)
    val oneShot = StreamOps.compactLanded(spark, oneRoot.resolve("out").toString,
        oneRoot.resolve("state").toString, corpusIds, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(compactedIds() === oneShot,
      "sequential gate + compaction must equal the one-shot single-batch gate")
    // forced replay of committed batch 0: the < batchId index filter and
    // dynamic partition overwrite make it a no-op on landed AND compacted
    StreamOps.ingestBatchCompact(fileA.toDF("doc_id", "text"), staticIndex,
      corpusIds, evalSet, "doc_id", "text", threshold = 0.5, n = 5,
      outDir, stDir, batchId = 0L)
    assert(landedIds() === Set(300L, 311L, 250L) && compactedIds() === Set(300L, 250L),
      "replaying a committed batch must be a no-op on landed and compacted rows")
  }

  test("funnelStages over time-ordered batches equals the e31 batch funnel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = graft.Tables(spark, sfDir, "events").as[StreamOps.Event]
      .collect().sortBy(_.ts.getTime)
    val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
    val finalStage = scala.collection.mutable.Map[Long, Int]()
    val ms = MemoryStream[StreamOps.Event]
    val q = StreamOps.funnelStages(ms.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.FunnelOut], _: Long) =>
        df.collect().foreach(o => finalStage(o.user_id) = o.stage)
      }
      .start()
    chunks.foreach { c => ms.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamed = (1 to 3).map(st => finalStage.values.count(_ >= st).toLong)
    val batch = queries.EventOps.e31Funnel(spark, sfDir)
      .collect().sortBy(_.getInt(0)).map(_.getLong(2)).toSeq
    assert(streamed == batch,
      s"stream cumulative stage counts $streamed != batch e31 $batch")
    assert(batch.head > 0, "fixture must have at least one view user")
  }

  test("sourceOverlapPerBatch matrices sum to the one-shot c7 rollup over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("srcov")
    val corpus = Seq(
      10L -> "the quick brown fox jumps over the lazy dog near the riverbank every morning",
      11L -> "completely unrelated corpus document about distributed query planning internals")
      .toDF("doc_id", "text")
    val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    // batch 0: 100 near-dups corpus 10 (wiki↔web pair); 101 clean.
    // batch 1: 102 near-dups EARLIER-BATCH 101 (web↔web, the cross-batch
    // pair a static-corpus gate would miss); 103 clean
    val b0 = Seq(
      StreamDoc(100L, "the quick brown fox jumps over the lazy dog near the riverbank every evening"),
      StreamDoc(101L, "an entirely different second wave document describing streaming ingest gates"))
    val b1 = Seq(
      StreamDoc(102L, "an entirely different second wave document describing streaming ingest dikes"),
      StreamDoc(103L, "another independent clean document closing out the second ingest wave"))
    val sources = Seq(10L -> "wiki", 11L -> "books", 100L -> "web",
      101L -> "web", 102L -> "web", 103L -> "forum").toDF("doc_id", "source")
    val reports = scala.collection.mutable.Map[Long, Seq[(String, String, Long)]]()
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.sourceOverlapPerBatch(ms.toDF(), staticIndex, sources,
      "doc_id", "text", threshold = 0.5, root.resolve("state").toString,
      root.resolve("ck").toString) { (m, id) =>
      reports(id) = m.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    }
    ms.addData(b0: _*); q.processAllAvailable()
    ms.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val summed = reports.values.flatten
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    val oneShot = StreamOps.rollupSourcePairs(
        graft.operators.MinHashDedup.nearDuplicatesAgainst(
          corpus, (b0 ++ b1).toDF(), "doc_id", "text", 0.5),
        sources, "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(summed == oneShot, s"summed $summed != one-shot $oneShot")
    assert(summed == Map(("web", "wiki") -> 1L, ("web", "web") -> 1L),
      s"expected one cross-source and one cross-batch within-source pair: $summed")
    spark.catalog.clearCache()
  }

  test("rollingCcPerBatch: labels after every wave equal from-scratch CC; the advance consumes stars + wave pairs only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("rollcc")
    val threshold = 0.3
    val t10 = "the quick brown fox jumps over the lazy dog near the riverbank every morning"
    val t101 = "completely unrelated corpus document about distributed query planning internals altogether"
    val corpus = Seq(
      10L -> t10,
      11L -> "the quick brown fox jumps over the lazy dog near the riverbank every evening",
      12L -> "a standalone corpus document with no duplicates anywhere in this fixture at all")
      .toDF("doc_id", "text")
    val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    val seed = graft.operators.ConnectedComponents.components(
      graft.operators.MinHashDedup
        .nearDuplicates(corpus, "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b"))).localCheckpoint()
    // wave 0: 100 joins the corpus cluster {10,11}; 101+102 pair WITHIN
    //         the batch and start a second cluster
    // wave 1: 103 = t10 ++ t101 — shares shingles with BOTH clusters, so
    //         the wave MERGES two previously-labeled clusters (the case
    //         the star identity must get right)
    val b0 = Seq(StreamDoc(100L, t10.replace("morning", "midday")),
      StreamDoc(101L, t101),
      StreamDoc(102L, t101.replace("altogether", "entirely")))
    val b1 = Seq(StreamDoc(103L, s"$t10 $t101"))
    val labelsAfter = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.rollingCcPerBatch(ms.toDF(), staticIndex, seed,
      "doc_id", "text", threshold, root.resolve("state").toString,
      root.resolve("ck").toString) { (labels, id) =>
      labelsAfter(id) = labels.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def fromScratch(arrived: Seq[StreamDoc]): Set[(Long, Long)] = {
      val all = corpus.unionByName(
        arrived.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      graft.operators.ConnectedComponents.components(
          graft.operators.MinHashDedup
            .nearDuplicates(all, "doc_id", "text", threshold)
            .select(col("id_a"), col("id_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ms.addData(b0: _*); q.processAllAvailable()
    assert(labelsAfter(0L) == fromScratch(b0))
    ms.addData(b1: _*); q.processAllAvailable()
    q.stop()
    assert(labelsAfter(1L) == fromScratch(b0 ++ b1))
    // the merge actually happened: 101's cluster fused into 10's
    assert(labelsAfter(0L).contains(101L -> 101L), s"wave 0: ${labelsAfter(0L)}")
    assert(labelsAfter(1L).contains(101L -> 10L), s"wave 1: ${labelsAfter(1L)}")
    // the advance consumed ONLY the star table + wave 1's own pair log:
    // replaying incrementalStep over exactly those inputs reproduces the
    // emitted labels (historical pairs are unreachable from the step)
    val wave1Pairs = spark.read
      .parquet(root.resolve("state").resolve("pairs").toString)
      .filter(col("batch_id") === 1L)
    val prevLabels = labelsAfter(0L).toSeq.toDF("id", "component")
    val replayed = graft.operators.ConnectedComponents
      .incrementalStep(prevLabels, wave1Pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed == labelsAfter(1L))
    // replay idempotence: re-running wave 1 reads labels < 1 only and
    // overwrites its own partitions — same labels out
    val again = StreamOps.rollingCcBatch(
        b1.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), staticIndex,
        seed, "doc_id", "text", threshold, root.resolve("state").toString, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == labelsAfter(1L))
    spark.catalog.clearCache()
  }

  test("rollingCcBatch retention: only latest+previous label partitions survive; replay after pruning lands identical labels") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("rollccret")
    val threshold = 0.3
    val t10 = "the quick brown fox jumps over the lazy dog near the riverbank every morning"
    val corpus = Seq(
      10L -> t10,
      11L -> t10.replace("morning", "evening")).toDF("doc_id", "text")
    val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    val seed = graft.operators.ConnectedComponents.components(
      graft.operators.MinHashDedup
        .nearDuplicates(corpus, "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b"))).localCheckpoint()
    val state = root.resolve("state").toString
    def wave(id: Long, docs: Seq[(Long, String)]): Set[(Long, Long)] =
      StreamOps.rollingCcBatch(docs.toDF("doc_id", "text"), staticIndex,
          seed, "doc_id", "text", threshold, state, id)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def labelParts(): Set[Long] =
      Option(root.resolve("state").resolve("labels").toFile.listFiles())
        .toSeq.flatten.filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).toSet
    wave(0L, Seq(100L -> t10.replace("morning", "midday")))
    wave(1L, Seq(101L -> t10.replace("morning", "noon")))
    val w2docs = Seq(102L -> t10.replace("every morning", "each morning"))
    val w2 = wave(2L, w2docs)
    // all three arrivals joined the {10, 11} cluster
    assert(w2.contains(102L -> 10L) && w2.contains(100L -> 10L), s"w2: $w2")
    // superseded snapshot pruned: batch 0's partition is gone
    assert(labelParts() == Set(1L, 2L), s"partitions: ${labelParts()}")
    // forced replay of the NEWEST batch when its predecessor is the only
    // earlier survivor — identical labels out, retention state unchanged
    assert(wave(2L, w2docs) == w2)
    assert(labelParts() == Set(1L, 2L), s"partitions: ${labelParts()}")
    // labelsAsOf within retention serves the snapshot; past it, the
    // pruned frontier fails LOUDLY instead of silently answering from
    // the seed's epoch (c20's contract)
    def labelsAt(n: Long) = StreamOps.labelsAsOf(spark, state, seed,
        org.apache.spark.sql.types.LongType, asOf = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsAt(2L) == w2)
    assert(labelsAt(1L) != w2 && labelsAt(1L).exists(_._1 == 101L),
      s"asOf 1: ${labelsAt(1L)}")
    val pruned = intercept[RuntimeException] { labelsAt(0L) }
    assert(pruned.getMessage.contains("no label snapshot"), pruned.getMessage)
    spark.catalog.clearCache()
  }

  test("compactIvfAssignDeltas: delta-log file count drops, grown-index probes unchanged") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.operators.IvfSearch
    val root = Files.createTempDirectory("ivfcompact")
    val state = root.resolve("state").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    val split = 250L
    val base = IvfSearch.buildIndex(e.filter(col("vec_id") < split),
      "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
    try {
      // absent delta log → no-op, not an error
      assert(StreamOps.compact(spark, state, "ivf_assign") == ((0L, 0L)))
      // two waves, each deliberately written WIDE (8 shuffle files per
      // batch_id partition) — the many-small-files shape compaction fixes
      val late = e.filter(col("vec_id") >= split)
      StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 0)
        .repartition(8), base.centroids, "vec_id", "embedding", state, 0L)
      StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 1)
        .repartition(8), base.centroids, "vec_id", "embedding", state, 1L)
      def rows(): Seq[(Long, Long, Double, Long)] =
        IvfSearch.approxTopK(e.filter(col("vec_id") < 3),
            StreamOps.grownIvfIndex(spark, base, state),
            "vec_id", "embedding", k = 5, nprobe = 2)
          .orderBy("q_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq
      val beforeRows = rows()
      assert(beforeRows.exists(_._2 >= split), "deltas not probe-reachable")
      val (before, after) = StreamOps.compact(spark, state, "ivf_assign")
      assert(before > after && after == 2L, s"files $before -> $after")
      assert(rows() == beforeRows)
    } finally base.close()
    spark.catalog.clearCache()
  }

  test("ivfDeleteBatch: as-of audit trail, then reclaim removes rows without changing current answers") {
    import java.nio.file.Files
    import graft.operators.IvfSearch
    val root = Files.createTempDirectory("ivfdelete")
    val state = root.resolve("state").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    val split = 250L
    val base = IvfSearch.buildIndex(e.filter(col("vec_id") < split),
      "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
    try {
      val late = e.filter(col("vec_id") >= split)
      StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 0),
        base.centroids, "vec_id", "embedding", state, 0L)
      StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 1),
        base.centroids, "vec_id", "embedding", state, 1L)
      def rows(asOf: Long): Seq[(Long, Long, Double, Long)] =
        IvfSearch.approxTopK(e.filter(col("vec_id") < 3),
            StreamOps.grownIvfIndex(spark, base, state, asOf),
            "vec_id", "embedding", k = 5, nprobe = 2)
          .orderBy("q_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq
      val preDelete = rows(1L)
      // forget EVERY current answer's neighbors — both base-trained
      // (< split) and grown (>= split) ids, so both tombstone families
      // carry rows — plus one grown id (dedup: the arbitrary head may
      // already be a neighbor, and the reclaim count below counts ids)
      val victims = (preDelete.map(_._2) :+
        late.select("vec_id").head.getLong(0)).distinct
      assert(victims.exists(_ < split) && victims.exists(_ >= split),
        s"fixture must delete across both families: $victims")
      import spark.implicits._
      StreamOps.ivfDeleteBatch(victims.toDF("id"), state, 2L)
      // lineage: the pre-delete frontier still answers with the victims
      assert(rows(1L) == preDelete, "as-of 1 must still see deleted vectors")
      val postDelete = rows(2L)
      assert(postDelete.nonEmpty &&
        !postDelete.exists(r => victims.contains(r._2)),
        "a deleted vector is still retrievable at the delete frontier")
      // physical reclaim: grown victims' rows leave the log, the current
      // frontier's answers do not move, and base tombstones survive
      val (reclaimed, _) = StreamOps.reclaimIvfDeleted(spark, state)
      assert(reclaimed == victims.count(_ >= split).toLong,
        s"reclaimed $reclaimed of ${victims.count(_ >= split)} grown victims")
      assert(rows(2L) == postDelete, "reclaim changed the served answers")
      val logged = spark.read.parquet(s"$state/ivf_assign")
        .filter(col("id").isin(victims: _*)).count()
      assert(logged == 0L, s"$logged deleted rows still in the assignment log")
      // a second reclaim is a no-op (the log cleared)
      assert(StreamOps.reclaimIvfDeleted(spark, state) == ((0L, 0L)))
      // re-ingest SUPERSEDES the delete (the k11 model): a victim
      // re-landed at a LATER wave is index-live again — the tombstone
      // suppresses only versions landed at or before its delete wave
      val back = victims.filter(_ >= split).max
      StreamOps.ivfAssignBatch(e.filter(col("vec_id") === back),
        base.centroids, "vec_id", "embedding", state, 3L)
      def liveAt(asOf: Long): Long = StreamOps
        .grownIvfIndex(spark, base, state, asOf)
        .assignments.filter(col("id") === back).count()
      assert(liveAt(3L) == 1L,
        s"re-ingested vector $back still suppressed by its old tombstone")
      assert(liveAt(2L) == 0L,
        s"the delete frontier must not see the later re-ingest of $back")
      // ...and the delete frontier's served answers are untouched
      assert(rows(2L) == postDelete)
    } finally base.close()
    spark.catalog.clearCache()
  }

  test("imageNdPerBatch: streamed waves equal the direct batch drive; committed-wave replay is a no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("imgndstream")
    val streamState = root.resolve("s").toString
    val twinState = root.resolve("t").toString
    try {
      val docs = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => StreamDoc(r.getLong(0), r.getString(1)))
      val (w0, w1) = docs.partition(_.doc_id % 2 == 0)
      val ms = MemoryStream[StreamDoc]
      val q = StreamOps.imageNdPerBatch(ms.toDF(), streamState,
        root.resolve("ck").toString)
      ms.addData(w0.toSeq: _*); q.processAllAvailable()
      ms.addData(w1.toSeq: _*); q.processAllAvailable()
      q.stop()
      def pairs(state: String): Set[(Long, Long, Int)] =
        StreamOps.imageNdAsOf(spark, state, Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // the same waves driven directly (the mm16 batch twin)
      StreamOps.imageNdBatch(w0.toSeq.toDF(), twinState, 0L)
      StreamOps.imageNdBatch(w1.toSeq.toDF(), twinState, 1L)
      val streamed = pairs(streamState)
      assert(streamed == pairs(twinState),
        "streamed pair log diverged from the direct batch drive")
      assert(streamed.nonEmpty, "fixture found no pairs")
      // a forced replay of the committed wave 0 (the at-least-once case
      // a checkpoint restart re-runs) rewrites its own partitions and
      // changes nothing
      StreamOps.imageNdBatch(w0.toSeq.toDF(), streamState, 0L)
      assert(pairs(streamState) == streamed,
        "replaying a committed wave changed the pair log")
      spark.catalog.clearCache()
    } finally graft.sources.Sources.deleteRecursively(root.toFile)
  }

  /** Every landed row of the named state tables under `state`, read with
    * their declared schemas, `batch_id` included. */
  private def landedRows(state: String, names: Seq[String]): Map[String, Set[Seq[Any]]] =
    names.map(n => n -> graft.streaming.StateCatalog(n).read(spark, state)
      .collect().map(_.toSeq.toVector: Seq[Any]).toSet).toMap

  test("rollingRepPerBatch: streamed waves equal the direct batch drive, sink and landed state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("rollrepstream")
    val streamState = root.resolve("s").toString
    val twinState = root.resolve("t").toString
    val threshold = 0.3
    val t10 = "the quick brown fox jumps over the lazy dog near the riverbank every morning"
    try {
      val corpus = Seq(10L -> t10, 11L -> t10.replace("morning", "evening"))
        .toDF("doc_id", "text")
      val staticIndex = graft.operators.MinHashDedup
        .buildDedupIndex(corpus, "doc_id", "text")
      val seed = graft.operators.ConnectedComponents.components(
        graft.operators.MinHashDedup
          .nearDuplicates(corpus, "doc_id", "text", threshold)
          .select(col("id_a"), col("id_b"))).localCheckpoint()
      val scores = Seq(10L -> 40L, 11L -> 55L, 100L -> 30L, 101L -> 90L,
        102L -> 20L).toDF("id", "q_e6")
      val seedState = StreamOps.repStateOf(seed, scores).localCheckpoint()
      val waves = Seq(
        Seq(StreamDoc(100L, t10.replace("morning", "midday"))),
        Seq(StreamDoc(101L, t10.replace("morning", "noon")),
          StreamDoc(102L, t10.replace("every morning", "each morning"))))
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
      val sunk = scala.collection.mutable.Map[Long, (Set[Seq[Any]], Set[Seq[Any]])]()
      val ms = MemoryStream[StreamDoc]
      val q = StreamOps.rollingRepPerBatch(ms.toDF(), staticIndex, seed,
        seedState, scores, "doc_id", "text", threshold, streamState,
        root.resolve("ck").toString) { (labels, state, id) =>
        sunk(id) = (rows(labels), rows(state))
      }
      try waves.foreach { w => ms.addData(w: _*); q.processAllAvailable() }
      finally q.stop()
      val direct = waves.zipWithIndex.map { case (w, b) =>
        val (l, s) = StreamOps.rollingRepBatch(w.toDF(), staticIndex, seed,
          seedState, scores, "doc_id", "text", threshold, twinState, b.toLong)
        (rows(l), rows(s))
      }
      assert(sunk.toMap == direct.indices.map(b => b.toLong -> direct(b)).toMap)
      // the late high-quality arrival took the representative slot
      assert(direct(1)._2.exists(r => r(0) == 10L && r(4) == 101L), direct(1)._2)
      val tables = Seq("labels", "rep", "pairs", "bands", "shingles", "sizes")
      assert(landedRows(streamState, tables) == landedRows(twinState, tables))
      spark.catalog.clearCache()
    } finally graft.sources.Sources.deleteRecursively(root.toFile)
  }

  test("audioNdPerBatch: streamed waves equal the direct batch drive, pair log and landed state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("audndstream")
    val streamState = root.resolve("s").toString
    val twinState = root.resolve("t").toString
    try {
      // identical texts render to identical WAVs: one cross-wave pair
      val text = "render me into samples for the audio dedup sweep"
      val waves = Seq(
        Seq(StreamDoc(500L, text), StreamDoc(501L, "a completely different payload")),
        Seq(StreamDoc(502L, text), StreamDoc(503L, "yet another unrelated body")))
      val ms = MemoryStream[StreamDoc]
      val q = StreamOps.audioNdPerBatch(ms.toDF(), streamState,
        root.resolve("ck").toString)
      try waves.foreach { w => ms.addData(w: _*); q.processAllAvailable() }
      finally q.stop()
      waves.zipWithIndex.foreach { case (w, b) =>
        StreamOps.audioNdBatch(w.toDF(), twinState, b.toLong) }
      def pairs(state: String): Set[(Long, Long, Int)] =
        StreamOps.audioNdAsOf(spark, state, Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs(streamState) == pairs(twinState))
      assert(pairs(streamState).map(p => (p._1, p._2)) == Set((500L, 502L)),
        pairs(streamState))
      val tables = Seq("aud_fp", "aud_nd")
      assert(landedRows(streamState, tables) == landedRows(twinState, tables))
      spark.catalog.clearCache()
    } finally graft.sources.Sources.deleteRecursively(root.toFile)
  }

  test("ivfAssignPerBatch (i8 twin): probing the grown index equals the batch frozen-quantizer construction") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    import graft.operators.IvfSearch
    val root = Files.createTempDirectory("ivfgrow")
    val e = graft.Tables(spark, sfDir, "embeddings")
    val split = 250L
    val base = IvfSearch.buildIndex(e.filter(col("vec_id") < split),
      "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
    try {
      val late = e.filter(col("vec_id") >= split)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
        .map { case (id, emb) => StreamVec(id, emb) }
      val (w0, w1) = late.partition(_.vec_id % 2 == 0)
      val ms = MemoryStream[StreamVec]
      val q = StreamOps.ivfAssignPerBatch(ms.toDF(), base.centroids,
        "vec_id", "embedding", root.resolve("state").toString,
        root.resolve("ck").toString)
      ms.addData(w0.toSeq: _*); q.processAllAvailable()
      ms.addData(w1.toSeq: _*); q.processAllAvailable()
      q.stop()
      val grown = StreamOps.grownIvfIndex(spark, base,
        root.resolve("state").toString)
      def rows(idx: IvfSearch.Index): Seq[(Long, Long, Double, Long)] =
        IvfSearch.approxTopK(e.filter(col("vec_id") < 3), idx,
            "vec_id", "embedding", k = 5, nprobe = 2)
          .orderBy("q_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq
      // i8's batch construction over the same arrivals
      val lateDf = e.filter(col("vec_id") >= split)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb"))
      val batchGrown = IvfSearch.Index(base.centroids,
        base.assignments.unionByName(IvfSearch.assign(lateDf, base.centroids)))
      val got = rows(grown)
      assert(got == rows(batchGrown))
      assert(got.nonEmpty && got.map(_._1).distinct.size == 3)
      // the stream really grew the index: some late vector must appear
      // among the neighbors (vec_id 250+ can only come from the deltas)
      assert(got.exists(_._2 >= split),
        s"no late-arrival neighbor in ${got.map(_._2)}")
      // replay idempotence: re-landing a committed batch rewrites its
      // own partition — the grown index answers identically
      StreamOps.ivfAssignBatch(w0.toSeq.toDF("vec_id", "embedding"),
        base.centroids, "vec_id", "embedding",
        root.resolve("state").toString, 0L)
      assert(rows(StreamOps.grownIvfIndex(spark, base,
        root.resolve("state").toString)) == got)
    } finally base.close()
    spark.catalog.clearCache()
  }

  test("bm25IndexPerBatch (k11 twin): rolling segments serve bit-identical scores; replay idempotent") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("bm25roll")
    val state = root.resolve("state").toString
    val terms = Seq("fox", "dog")
    val t = "the quick brown fox jumps over the lazy dog"
    val w0 = Seq(StreamDoc(1L, t), StreamDoc(2L, "a dog and another dog bark"),
      StreamDoc(3L, "wholly unrelated text body here"))
    val w1 = Seq(StreamDoc(4L, s"$t again with the fox"),
      StreamDoc(5L, "yet more filler prose"))
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.bm25IndexPerBatch(ms.toDF(), "doc_id", "text", 8,
      state, root.resolve("ck").toString)
    ms.addData(w0: _*); q.processAllAvailable()
    ms.addData(w1: _*); q.processAllAvailable()
    q.stop()
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val served = scores(StreamOps.bm25ServeRolling(spark, state, terms, 8)
      .filter(col("score") > 0))
    // bit-identical to the corpus-rescan path over everything arrived
    val rescan = scores(graft.operators.KeywordSearch
      .bm25((w0 ++ w1).toDF("doc_id", "text"), "doc_id", "text", terms)
      .filter(col("score") > 0))
    assert(served == rescan && served.nonEmpty, s"$served vs $rescan")
    // replay idempotence: re-landing the newest wave overwrites its own
    // segment and re-merges stats from the snapshot below it
    StreamOps.bm25IndexBatch(w1.toDF(), "doc_id", "text", 8, state, 1L)
    assert(scores(StreamOps.bm25ServeRolling(spark, state, terms, 8)
      .filter(col("score") > 0)) == rescan)
    // stats snapshots bounded (latest + previous at most)
    val parts = Option(root.resolve("state").resolve("bm25_stats")
      .toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(parts.size <= 2, s"stats partitions: ${parts.map(_.getName)}")
    // segment-merge compaction leaves served scores unchanged
    val (fb, fa) = StreamOps.compact(spark, state, "bm25_postings")
    assert(fb >= fa && fa > 0, s"compaction: $fb -> $fa")
    assert(scores(StreamOps.bm25ServeRolling(spark, state, terms, 8)
      .filter(col("score") > 0)) == rescan)
    spark.catalog.clearCache()
  }

  test("kAnonPerBatch (d43 twin): window report equals one-shot; degrading the frozen level fails fast") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("kanon")
    val state = root.resolve("state").toString
    def docs(src: String, n: Int, off: Int): Seq[KDoc] =
      (0 until n).map(i => KDoc(src, "en", 40L + ((i + off) % 3) * 10))
    val w0 = docs("web", 6, 0) ++ docs("wiki", 7, 1)
    val w1 = docs("web", 5, 2) ++ docs("wiki", 6, 0)
    val bad = Seq(KDoc("forum", "en", 55L)) // NEW source → size-1 class at level 2
    type Rep = Seq[(Int, Long, Long, Boolean, Long)]
    def rows(df: org.apache.spark.sql.DataFrame): Rep =
      df.collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
        x.getBoolean(3), x.getLong(4))).toSeq
    val reports = scala.collection.mutable.Map[Long, Rep]()
    val ms = MemoryStream[KDoc]
    val q = StreamOps.kAnonPerBatch(ms.toDF(), frozenLevel = 2, state,
      root.resolve("ck").toString) { (r, id) => reports(id) = rows(r) }
    def oneShot(arrived: Seq[KDoc]): Rep = rows(
      graft.queries.TextOps.kAnonReport(
        graft.queries.TextOps.kAnonClassCounts(arrived.toDF())))
    try {
      ms.addData(w0: _*); q.processAllAvailable()
      assert(reports(0L) == oneShot(w0))
      ms.addData(w1: _*); q.processAllAvailable()
      assert(reports(1L) == oneShot(w0 ++ w1))
      // the release level held so far; one doc of a NEW source is a
      // size-1 equivalence class at the frozen level → the stream halts
      ms.addData(bad: _*)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("k-anonymity degraded") ||
        Option(err.getCause).exists(_.getMessage.contains("k-anonymity degraded")))
    } finally q.stop()
    // the sink saw the violating report BEFORE the halt, and it equals
    // the one-shot over the whole window
    assert(reports(2L) == oneShot(w0 ++ w1 ++ bad))
    assert(reports(2L).exists(r => r._1 == 2 && !r._4))
    // replay of the violating batch is idempotent (reads counts < 2,
    // overwrites its own snapshot)
    assert(rows(StreamOps.kAnonBatch(bad.toDF(), state, 2L)) == reports(2L))
    // a frozen level outside d43's 0..2 sweep is a configuration error,
    // rejected before any stream starts
    val bad2 = intercept[IllegalArgumentException] {
      StreamOps.kAnonPerBatch(ms.toDF(), frozenLevel = 3, state,
        root.resolve("ck2").toString) { (_, _) => () }
    }
    assert(bad2.getMessage.contains("generalization levels"), bad2.getMessage)
    // class-count snapshots bounded like the labels (latest + previous)
    val parts = Option(root.resolve("state").resolve("kanon").toFile.listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(parts.size <= 2, s"kanon partitions: ${parts.map(_.getName)}")
    spark.catalog.clearCache()
  }

  test("rollingRepBatch: representative state across waves equals from-scratch selection; replay idempotent") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("rollrep")
    val state = root.resolve("state").toString
    val threshold = 0.3
    val t10 = "the quick brown fox jumps over the lazy dog near the riverbank every morning"
    val corpus = Seq(
      10L -> t10,
      11L -> t10.replace("morning", "evening")).toDF("doc_id", "text")
    val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    val seed = graft.operators.ConnectedComponents.components(
      graft.operators.MinHashDedup
        .nearDuplicates(corpus, "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b"))).localCheckpoint()
    // synthetic at-rest score table: quality NOT monotone in id, so the
    // argmax genuinely moves as waves land (doc 101 outranks everyone)
    val scores = Seq(10L -> 40L, 11L -> 55L, 100L -> 30L, 101L -> 90L,
      102L -> 20L).toDF("id", "q_e6")
    val seedState = StreamOps.repStateOf(seed, scores).localCheckpoint()
    def stateSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    def wave(id: Long, docs: Seq[(Long, String)]) =
      StreamOps.rollingRepBatch(docs.toDF("doc_id", "text"), staticIndex,
        seed, seedState, scores, "doc_id", "text", threshold, state, id)
    wave(0L, Seq(100L -> t10.replace("morning", "midday")))
    val w1docs = Seq(101L -> t10.replace("morning", "noon"),
      102L -> t10.replace("every morning", "each morning"))
    val (labels1, state1) = wave(1L, w1docs)
    // the monoid advance equals the from-scratch aggregate over the
    // final labels (c16's selection, argmax included)
    assert(stateSet(state1) ==
      stateSet(StreamOps.repStateOf(labels1, scores)))
    // the high-quality late arrival 101 took the representative slot of
    // the cluster rooted at 10
    val rep10 = stateSet(state1).find(_._1 == 10L).get
    assert(rep10._5 == 101L && rep10._4 == 90L, s"state: ${stateSet(state1)}")
    // replay idempotence: re-running the newest wave reads state < 1
    // only and overwrites its own partition — same state out
    val (_, again) = wave(1L, w1docs)
    assert(stateSet(again) == stateSet(state1))
    // state snapshots bounded like the labels (latest + previous)
    val parts = Option(root.resolve("state").resolve("rep").toFile.listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(parts.size <= 2, s"rep partitions: ${parts.map(_.getName)}")
    spark.catalog.clearCache()
  }

  test("semDedupPerBatch (a4 twin): labels after N waves equal from-scratch frozen-quantizer semantic dedup") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    import graft.operators.IvfSearch
    val root = Files.createTempDirectory("semdedup")
    val state = root.resolve("state").toString
    val threshold = 0.3
    graft.functions.DotProduct.register(spark)
    val dot = graft.functions.DotProduct.dotProduct _
    val e = graft.Tables(spark, sfDir, "embeddings").filter(col("vec_id") < 500)
    val split = 350L
    val idx = IvfSearch.buildIndex(e.filter(col("vec_id") < split),
      "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
    try {
      // a4's within-cluster pair construction (norm once per row)
      def pairsWithin(asg: org.apache.spark.sql.DataFrame) = {
        val a = asg.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        a.as("a").join(a.as("b"),
            col("a.centroid_id") === col("b.centroid_id") &&
              col("a.id") < col("b.id"))
          .withColumn("cos", round(
            dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 6))
          .filter(col("cos") >= threshold)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      }
      val seed = graft.operators.ConnectedComponents
        .components(pairsWithin(idx.assignments)).localCheckpoint()
      val late = e.filter(col("vec_id") >= split)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
        .map { case (id, emb) => StreamVec(id, emb) }
      val (w0, w1) = late.partition(_.vec_id % 2 == 0)
      val labelsAfter = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
      val ms = MemoryStream[StreamVec]
      val q = StreamOps.semDedupPerBatch(ms.toDF(), idx.centroids,
        idx.assignments, seed, "vec_id", "embedding", threshold, state,
        root.resolve("ck").toString) { (labels, id) =>
        labelsAfter(id) = labels.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      ms.addData(w0.toSeq: _*); q.processAllAvailable()
      ms.addData(w1.toSeq: _*); q.processAllAvailable()
      q.stop()
      // from-scratch under the SAME frozen quantizer (the i8-twin
      // equality: retraining is i10's audit-driven event, not per batch)
      val scratch = graft.operators.ConnectedComponents.components(
          pairsWithin(IvfSearch.assign(
            e.select(col("vec_id").as("id"),
              col("embedding").cast("array<double>").as("emb")),
            idx.centroids)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labelsAfter(1L) == scratch)
      assert(labelsAfter(1L).nonEmpty)
      // late arrivals really participate in the grown dedup state
      assert(labelsAfter(1L).exists(_._1 >= split),
        s"no late vector in ${labelsAfter(1L)}")
      // replay idempotence: re-running the newest wave reads labels < 1
      // and deltas < 1 only, overwrites its own partitions — same out
      val again = StreamOps.semDedupBatch(
          w1.toSeq.toDF("vec_id", "embedding"), idx.centroids,
          idx.assignments, seed, "vec_id", "embedding", threshold, state, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == labelsAfter(1L))
      // compacting the assignment delta log changes nothing downstream:
      // the same replay reads the compacted files and lands identically
      val (filesBefore, filesAfter) =
        StreamOps.compact(spark, state, "sem_assign")
      assert(filesBefore >= filesAfter && filesAfter > 0,
        s"compaction: $filesBefore -> $filesAfter")
      val afterCompact = StreamOps.semDedupBatch(
          w1.toSeq.toDF("vec_id", "embedding"), idx.centroids,
          idx.assignments, seed, "vec_id", "embedding", threshold, state, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterCompact == labelsAfter(1L))
      // label snapshots bounded (latest + previous at most)
      val parts = Option(root.resolve("state").resolve("sem_labels")
        .toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      assert(parts.size <= 2, s"label partitions: ${parts.map(_.getName)}")
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("splitLeakagePerBatch reports sum to the one-shot audit against the frozen train grams") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("splitleak")
    // frozen released-corpus train grams (the at-rest probe side)
    val released = Seq(
      1L -> "the benchmark question about climate adaptation policy outcomes was discussed",
      2L -> "distributed query planning internals remain a separate unshared subject entirely")
      .toDF("doc_id", "text")
    val trainGrams = graft.operators.Decontaminate
      .gramHashes(released, "doc_id", "text", 5).select("gh").distinct()
    // enough arrivals that the content-hash split deterministically
    // yields non-train docs; two of them carry a released 5-gram
    val arrivals = (0 until 30).map { i =>
      StreamDoc(100L + i, s"wholly original arrival number $i with its own text body variant $i")
    } ++ Seq(
      StreamDoc(200L, "students repeated the benchmark question about climate adaptation policy verbatim"),
      StreamDoc(201L, "a second echo of the benchmark question about climate adaptation policy appeared"),
      StreamDoc(202L, "clean closing arrival with no shared grams at all in its body"))
    val (b0, b1) = arrivals.splitAt(17)
    val reports = scala.collection.mutable.Map[Long, Seq[(String, Long, Long)]]()
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.splitLeakagePerBatch(ms.toDF(), trainGrams,
      "doc_id", "text", n = 5, root.resolve("ck").toString) { (m, id) =>
      reports(id) = m.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    ms.addData(b0: _*); q.processAllAvailable()
    ms.addData(b1: _*); q.processAllAvailable()
    q.stop()
    val summed = reports.values.flatten.groupBy(_._1)
      .view.mapValues(v => (v.map(_._2).sum, v.map(_._3).sum)).toMap
    val oneShot = StreamOps.splitLeakageBatch(arrivals.toDF(), trainGrams,
        "doc_id", "text", 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(summed == oneShot, s"summed $summed != one-shot $oneShot")
    assert(summed.nonEmpty, "split must deterministically yield non-train arrivals")
    assert(summed.values.map(_._2).sum >= 1L,
      "at least one leaky val/test arrival expected")
  }

  test("fuzzyIndexPerBatch (k12 twin): rolling variant segments equal the one-shot resolution; replay idempotent") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("fuzzyroll")
    val state = root.resolve("state").toString
    val queryTerms = Seq("vektor", "streem")
    val w0 = Seq(StreamDoc(1L, "a vector engine with stream processing"),
      StreamDoc(2L, "vectors and streams everywhere"))
    val w1 = Seq(StreamDoc(3L, "the vector stream restores state"),
      StreamDoc(4L, "wholly unrelated prose body"))
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.fuzzyIndexPerBatch(ms.toDF(), "doc_id", "text", 16,
      state, root.resolve("ck").toString)
    ms.addData(w0: _*); q.processAllAvailable()
    ms.addData(w1: _*); q.processAllAvailable()
    q.stop()
    type Sug = Set[(String, String, Int, Long)]
    def rows(df: org.apache.spark.sql.DataFrame): Sug = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    val served = rows(StreamOps.fuzzyServeRolling(spark, state, queryTerms, 16))
    // one-shot resolution: direct lev <= 1 over the union's vocabulary
    val vocabDf = (w0 ++ w1).toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val oneShot = rows(queryTerms.toDF("query_term").crossJoin(vocabDf)
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
      .select(col("query_term"), col("term"),
        levenshtein(col("query_term"), col("term")).cast("int"), col("df")))
    assert(served == oneShot && served.nonEmpty, s"$served vs $oneShot")
    // the cross-batch df sum genuinely fired: 'stream' appears in both waves
    assert(served.exists(s => s._2 == "stream" && s._4 == 2L), s"$served")
    // time travel: as of wave 0, wave-1's segment must not contribute —
    // 'stream''s df drops back to 1 and wave-1-only vocabulary vanishes
    val asOf0 = rows(StreamOps.fuzzyServeRolling(spark, state, queryTerms,
      16, asOf = 0L))
    val oneShotW0 = rows(queryTerms.toDF("query_term").crossJoin(
        w0.toDF("doc_id", "text")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .distinct()
          .groupBy(col("term")).agg(count(lit(1)).as("df")))
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
      .select(col("query_term"), col("term"),
        levenshtein(col("query_term"), col("term")).cast("int"), col("df")))
    assert(asOf0 == oneShotW0 && asOf0 != served, s"$asOf0 vs $oneShotW0")
    assert(asOf0.exists(s => s._2 == "stream" && s._4 == 1L), s"$asOf0")
    // replay idempotence: re-landing the newest wave overwrites its segment
    StreamOps.fuzzyIndexBatch(w1.toDF("doc_id", "text"), "doc_id", "text",
      16, state, 1L)
    assert(rows(StreamOps.fuzzyServeRolling(spark, state, queryTerms, 16)) == oneShot)
    // segment compaction leaves answers unchanged
    val (fb, fa) = StreamOps.compact(spark, state, "fuzzy_variants")
    assert(fb >= fa && fa > 0, s"compaction: $fb -> $fa")
    assert(rows(StreamOps.fuzzyServeRolling(spark, state, queryTerms, 16)) == oneShot)
    spark.catalog.clearCache()
  }

  test("fuzzy waves by the size rule: a small wave runs at most 2 jobs and no count, one file per shard leaf, a serve at most 2 jobs") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("fuzzysize")
    val state = root.resolve("state").toString
    val queryTerms = Seq("vektor", "streem")
    val waves = Seq(
      Seq(1L -> "a vector engine with stream processing",
        2L -> "vectors and streams everywhere"),
      Seq(3L -> "the vector stream restores state",
        4L -> "wholly unrelated prose body"))
    type Sug = Set[(String, String, Int, Long)]
    def rows(df: org.apache.spark.sql.DataFrame): Sug = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    var served, pinned: Sug = Set.empty
    val counter = countJobs("fuzzy-size:") {
      waves.zipWithIndex.foreach { case (w, b) =>
        inJobGroup(s"fuzzy-size:wave$b")(StreamOps.fuzzyIndexBatch(
          w.toDF("doc_id", "text"), "doc_id", "text", 16, state, b.toLong))
      }
      // k12's serve: the probe plan collected once
      served = inJobGroup("fuzzy-size:serve")(
        rows(StreamOps.fuzzyServeRollingPlan(spark, state, queryTerms, 16)))
      pinned = inJobGroup("fuzzy-size:pinned")(
        rows(StreamOps.fuzzyServeRolling(spark, state, queryTerms, 16)))
    }
    waves.indices.foreach { b =>
      val g = s"fuzzy-size:wave$b"
      val runs = counter.executions(g)
      assert(counter.jobs.get(g) <= 2, s"wave $b: $runs")
      assert(runs.nonEmpty && !runs.exists(_.startsWith("count at")), s"wave $b: $runs")
    }
    assert(counter.jobs.get("fuzzy-size:serve") <= 2)
    // the public serve's read pin costs one job more
    assert(counter.jobs.get("fuzzy-size:pinned") <= 3)
    // the layout the parallel write keeps: one parquet file per leaf
    val leaves = new java.io.File(state, "fuzzy_variants").listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("shard=")))
    assert(leaves.map(_.getParentFile.getName).toSet ==
      Set("batch_id=0", "batch_id=1"))
    leaves.foreach { l =>
      assert(l.listFiles().count(_.getName.endsWith(".parquet")) == 1, l.toString)
    }
    val vocabDf = waves.flatten.toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val oneShot = rows(queryTerms.toDF("query_term").crossJoin(vocabDf)
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
      .select(col("query_term"), col("term"),
        levenshtein(col("query_term"), col("term")).cast("int"), col("df")))
    assert(served == oneShot && served.nonEmpty, s"$served vs $oneShot")
    assert(pinned == oneShot)
    graft.sources.Sources.deleteRecursively(root.toFile)
  }

  test("fuzzy wave over the size cutoff keeps the parallel plan: no coalesce, no added repartition") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val batch = Seq(1L -> "a vector engine with stream processing",
      2L -> "vectors and streams everywhere").toDF("doc_id", "text")
    val est = batch.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    // plan-only: the physical plan before any execution
    def plan(maxBytes: Long): SparkPlan =
      StreamOps.fuzzyWave(batch, "doc_id", "text", 16, 0L, maxBytes)
        .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
    def coalesces(p: SparkPlan) = p.collect { case c: CoalesceExec => c }
    def shardSplits(p: SparkPlan) = p.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    val over = plan(est - 1)
    assert(coalesces(over).isEmpty && shardSplits(over).isEmpty, over.toString)
    // at the estimate: one partition, then the one shard split, which is
    // the only exchange
    val at = plan(est)
    assert(coalesces(at).map(_.numPartitions) == Seq(1), at.toString)
    assert(shardSplits(at).map(_.numPartitions) ==
      Seq(math.min(16, spark.sparkContext.defaultParallelism)), at.toString)
    assert(at.collect { case e: ShuffleExchangeExec => e }.size == 1, at.toString)
  }

  test("bm25 supersede-on-land: re-ingested docs serve as their latest version only") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("bm25sup")
    val state = root.resolve("state").toString
    val terms = Seq("fox", "dog")
    def land(id: Long, docs: Seq[(Long, String)]): Unit =
      StreamOps.bm25IndexBatch(docs.toDF("doc_id", "text"), "doc_id",
        "text", 8, state, id)
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def served() = scores(StreamOps.bm25ServeRolling(spark, state, terms, 8)
      .filter(col("score") > 0))
    def rescan(corpus: Seq[(Long, String)]) = scores(
      graft.operators.KeywordSearch
        .bm25(corpus.toDF("doc_id", "text"), "doc_id", "text", terms)
        .filter(col("score") > 0))
    val d1v0 = 1L -> "the quick brown fox jumps over the lazy dog"
    val d3v0 = 3L -> "wholly unrelated text body here"
    land(0L, Seq(d1v0, 2L -> "a dog and another dog bark", d3v0))
    land(1L, Seq(2L -> "the dog sleeps all day",
      4L -> "fox cubs play near the den"))
    // wave 2 supersedes EVERYTHING batch 1 landed (2 again — its third
    // version drops both query terms, so any stale posting would
    // surface —, 4), plus an identical at-least-once redelivery of 1
    val d2v2 = 2L -> "no relevant animals remain in this text"
    val d4v1 = 4L -> "fox cubs play by the river"
    val w2 = Seq(d2v2, d4v1, d1v0)
    land(2L, w2)
    val finalCorpus = Seq(d1v0, d2v2, d3v0, d4v1)
    assert(served() == rescan(finalCorpus) && served().nonEmpty,
      s"${served()} vs ${rescan(finalCorpus)}")
    assert(!served().contains(2L), "doc 2's dead 'dog' postings surfaced")
    // replay of the newest wave recomputes the same tombstones and stats
    land(2L, w2)
    assert(served() == rescan(finalCorpus))
    // the segment merge physically reclaims the 4 dead versions (2@b0;
    // 2@b1, 4@b1, 1@b0), deletes batch 1's now-empty leaf dirs, clears
    // the log — and serving is unchanged
    val (dead, live) = StreamOps.mergeBm25Segments(spark, state)
    assert(dead == 4L, s"reclaimed $dead versions")
    assert(served() == rescan(finalCorpus))
    assert(!root.resolve("state").resolve("bm25_tombstones").toFile.exists())
    val b1dirs = Option(root.resolve("state").resolve("bm25_postings")
      .resolve("batch_id=1").toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("shard="))
    assert(b1dirs.isEmpty, s"batch 1 was fully superseded: $b1dirs")
    // a merge with nothing to do is a no-op
    assert(StreamOps.mergeBm25Segments(spark, state) == ((0L, 0L)))
    // supersede keeps working after the merge cleared the log
    val d4v2 = 4L -> "the fox returned to the den yesterday"
    land(3L, Seq(d4v2))
    assert(served() == rescan(Seq(d1v0, d2v2, d3v0, d4v2)))
    // two versions of a doc in ONE batch is the guarded invariant
    val err = intercept[RuntimeException] {
      land(9L, Seq(7L -> "dup a", 7L -> "dup b"))
    }
    assert(err.getMessage.contains("appears"), err.getMessage)
    spark.catalog.clearCache()
  }

  test("as-of serving (k15/k16 twin): every prefix replays; merge collapses history") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("asof")
    val state = root.resolve("state").toString
    val terms = Seq("fox", "dog")
    def land(id: Long, docs: Seq[(Long, String)]): Unit = {
      StreamOps.posIndexBatch(docs.toDF("doc_id", "text"), "doc_id",
        "text", 8, state, id)
      StreamOps.bm25IndexBatch(docs.toDF("doc_id", "text"), "doc_id",
        "text", 8, state, id)
    }
    def positionsAt(asOf: Long): Set[(Long, Int, String)] =
      StreamOps.posServeRolling(spark, state, terms, 8, asOf = asOf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def oneShotPos(corpus: Seq[(Long, String)]): Set[(Long, Int, String)] =
      corpus.toDF("doc_id", "text")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "term")
        .filter(col("term").isin(terms: _*))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def scoresAt(asOf: Long): Map[Long, Double] =
      StreamOps.bm25ServeRolling(spark, state, terms, 8, asOf = asOf)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the rescan path scores EVERY doc (0.0 without query terms); the
    // serve path only sees posting-bearing docs — compare on those
    def oneShotScores(corpus: Seq[(Long, String)]): Map[Long, Double] =
      graft.operators.KeywordSearch.bm25(corpus.toDF("doc_id", "text"),
          "doc_id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
        .filter { case (id, _) =>
          corpus.toMap.apply(id).split(" ").exists(terms.contains) }.toMap
    val d1v0 = 1L -> "fox one"
    val d2v0 = 2L -> "dog fox dog"        // superseded at wave 2
    val d3v0 = 3L -> "quiet text"
    val d2v1 = 2L -> "nothing here"
    val d4v0 = 4L -> "dog den"
    land(0L, Seq(d1v0, d2v0))
    land(1L, Seq(d3v0))
    land(2L, Seq(d2v1, d4v0))
    val at0 = Seq(d1v0, d2v0)
    val at1 = Seq(d1v0, d2v0, d3v0)
    val at2 = Seq(d1v0, d2v1, d3v0, d4v0)
    // every prefix replays exactly: wave-2's supersede of doc 2 must NOT
    // leak into the asOf=0/1 views (its tombstone landed later), and the
    // stats scalars (n, sumdl — d3 counts even with no query term) must
    // come from the matching snapshot
    assert(positionsAt(0L) == oneShotPos(at0))
    assert(positionsAt(1L) == oneShotPos(at1))
    assert(positionsAt(2L) == oneShotPos(at2))
    assert(positionsAt(Long.MaxValue) == oneShotPos(at2))
    assert(scoresAt(1L) == oneShotScores(at1))
    assert(scoresAt(2L) == oneShotScores(at2))
    // d2's score differs across prefixes (corpus scalars moved, then its
    // text was superseded) — time travel is genuinely distinct, not a no-op
    assert(scoresAt(1L)(2L) != scoresAt(2L).getOrElse(2L, 0.0))
    // BM25 time travel is bounded by stats retention (keep=2): asOf
    // older than the surviving snapshots fails LOUDLY, never guesses
    val err = intercept[RuntimeException] { scoresAt(0L) }
    assert(err.getMessage.contains("no stats snapshot"), err.getMessage)
    // segment merge is VACUUM: it rewrites doc 2's dead version OUT of
    // its original batch-0 partition, and the live version stays where
    // it landed (batch 2, which the asOf=1 partition filter prunes) —
    // so post-merge the as-of-1 view has NO doc-2 version at all, not a
    // live-version substitution (documented truncation, pinned here)
    StreamOps.mergeBm25Segments(spark, state)
    StreamOps.mergePosSegments(spark, state)
    val postMerge = positionsAt(1L)
    assert(!postMerge.exists(_._1 == 2L),
      s"merged history truncates doc 2 from the as-of-1 view entirely: $postMerge")
    assert(postMerge == oneShotPos(Seq(d1v0, d3v0)),
      s"the other docs' as-of-1 rows survive the merge: $postMerge")
    assert(positionsAt(Long.MaxValue) == oneShotPos(at2))
    graft.sources.Sources.deleteRecursively(root.toFile)
    spark.catalog.clearCache()
  }

  test("positional rolling segments (k13 twin): live probe equals one-shot; supersede + merge") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("possup")
    val state = root.resolve("state").toString
    val terms = Seq("fox", "dog", "quick")
    def land(id: Long, docs: Seq[(Long, String)]): Unit =
      StreamOps.posIndexBatch(docs.toDF("doc_id", "text"), "doc_id",
        "text", 8, state, id)
    def positions(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, String)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def served() = positions(
      StreamOps.posServeRolling(spark, state, terms, 8))
    def oneShot(corpus: Seq[(Long, String)]): Set[(Long, Int, String)] =
      positions(corpus.toDF("doc_id", "text")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "term")
        .filter(col("term").isin(terms: _*)))
    val d1v0 = 1L -> "quick fox meets dog"
    val d3v0 = 3L -> "no animals in this text"
    // the first two waves arrive through the streaming wrapper
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.posIndexPerBatch(ms.toDF(), "doc_id", "text", 8,
      state, root.resolve("ck").toString)
    ms.addData(StreamDoc(d1v0._1, d1v0._2), StreamDoc(2L, "dog sleeps"),
      StreamDoc(d3v0._1, d3v0._2))
    q.processAllAvailable()
    ms.addData(StreamDoc(2L, "the dog barks at the fox"),
      StreamDoc(4L, "fox den"))
    q.processAllAvailable()
    q.stop()
    // wave 2 supersedes everything wave 1 landed (doc 2's third version
    // drops every query term, so any stale posting would surface) plus
    // an identical at-least-once redelivery of doc 1
    val d2v2 = 2L -> "nothing relevant here"
    val d4v1 = 4L -> "quick dog"
    val w2 = Seq(d2v2, d4v1, d1v0)
    land(2L, w2)
    val finalCorpus = Seq(d1v0, d2v2, d3v0, d4v1)
    assert(served() == oneShot(finalCorpus) && served().nonEmpty,
      s"${served()} vs ${oneShot(finalCorpus)}")
    // replay of the newest wave recomputes the same tombstones
    land(2L, w2)
    assert(served() == oneShot(finalCorpus))
    // the merge reclaims the 4 dead versions (2@b0; 2@b1, 4@b1, 1@b0),
    // deletes batch 1's now-empty leaf dirs, clears the log
    val (dead, _) = StreamOps.mergePosSegments(spark, state)
    assert(dead == 4L, s"reclaimed $dead versions")
    assert(served() == oneShot(finalCorpus))
    assert(!root.resolve("state").resolve("pos_tombstones").toFile.exists())
    val b1dirs = Option(root.resolve("state").resolve("pos_postings")
      .resolve("batch_id=1").toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("shard="))
    assert(b1dirs.isEmpty, s"batch 1 was fully superseded: $b1dirs")
    assert(StreamOps.mergePosSegments(spark, state) == ((0L, 0L)))
    // supersede keeps working after the merge cleared the log
    val d4v2 = 4L -> "the dog returned yesterday"
    land(3L, Seq(d4v2))
    assert(served() == oneShot(Seq(d1v0, d2v2, d3v0, d4v2)))
    // file-merge compaction leaves the probe unchanged
    val (cb, ca) = StreamOps.compact(spark, state, "pos_postings")
    assert(cb >= ca && ca > 0, s"compaction: $cb -> $ca")
    assert(served() == oneShot(Seq(d1v0, d2v2, d3v0, d4v2)))
    // two versions of a doc in ONE batch is the guarded invariant
    val err = intercept[RuntimeException] {
      land(9L, Seq(7L -> "dup a", 7L -> "dup b"))
    }
    assert(err.getMessage.contains("appears"), err.getMessage)
    spark.catalog.clearCache()
  }

  // ---- composed deployment stream (deployGatesBatch / deployGatesPerBatch)

  /** Shared fixture for the composed-gate specs: frozen artifacts + two
    * waves of documents carrying text, provenance, and an embedding. */
  private object DeployFixture {
    import spark.implicits._
    val threshold = 0.3
    val semThreshold = 0.3
    val t10 = "the quick brown fox jumps over the lazy dog near the riverbank every morning"
    lazy val corpus = Seq(10L -> t10, 11L -> t10.replace("morning", "evening"))
      .toDF("doc_id", "text")
    lazy val staticIndex = graft.operators.MinHashDedup
      .buildDedupIndex(corpus, "doc_id", "text")
    lazy val corpusIds = corpus.select(col("doc_id"))
    lazy val evalSet = Seq(
      900L -> "held out benchmark question about climate adaptation policy outcomes")
      .toDF("doc_id", "text")
    lazy val seed = graft.operators.ConnectedComponents.components(
      graft.operators.MinHashDedup
        .nearDuplicates(corpus, "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b"))).localCheckpoint()
    lazy val scores = (Seq(10L -> 40L, 11L -> 55L, 50L -> 60L, 100L -> 30L,
      101L -> 90L, 102L -> 20L, 103L -> 10L) ++
      // the streaming test's arrivals (their texts near-dup each other,
      // so they enter the label table and the rep guard demands scores)
      (300L to 304L).map(_ -> 15L) :+ (400L -> 5L)).toDF("id", "q_e6")
    lazy val seedState = StreamOps.repStateOf(seed, scores).localCheckpoint()
    val t101 = "an entirely different second wave document describing streaming ingest gates"
    // doc 100 near-dups the corpus; 103 carries an eval 5-gram; 102
    // near-dups 101 within its wave — promotion, decontamination, CC,
    // and the rep argmax all genuinely move across the two waves
    val wave0 = Seq(
      (100L, t10.replace("morning", "midday"), "web", "en",
        Seq(0.9, 0.1, 0.0, 0.0)),
      (103L, "students repeated the benchmark question about climate adaptation policy verbatim",
        "wiki", "en", Seq(0.0, 0.0, 0.0, 1.0)))
    val wave1 = Seq(
      (101L, t101, "web", "en", Seq(0.0, 0.0, 1.0, 0.0)),
      (102L, t101.replace("gates", "dikes"), "wiki", "en",
        Seq(0.0, 0.0, 0.97, 0.03)))
    def waveDf(w: Seq[(Long, String, String, String, Seq[Double])]) =
      w.toDF("doc_id", "text", "source", "lang", "embedding")
    // provenance dimension covering corpus and stream docs
    lazy val sources = (Seq(10L -> "corpus", 11L -> "corpus") ++
      (wave0 ++ wave1).map(d => d._1 -> d._3)).toDF("doc_id", "source")
    lazy val staticVecs = Seq(10L -> Seq(1.0, 0.0, 0.0, 0.0),
      11L -> Seq(0.98, 0.02, 0.0, 0.0)).toDF("vec_id", "embedding")
    lazy val semSeed = Seq.empty[(Long, Long)].toDF("id", "component")
    def config(idx: graft.operators.IvfSearch.Index, root: java.nio.file.Path)
        : StreamOps.DeployGatesConfig =
      StreamOps.DeployGatesConfig(staticIndex, corpusIds, evalSet, sources,
        seed, seedState, scores, idx.centroids, idx.assignments, semSeed,
        "doc_id", "text", "embedding", threshold, semThreshold,
        decontamN = 5, bm25Shards = 8, fuzzyShards = 16, frozenLevel = 2,
        root.resolve("out").toString, root.resolve("state").toString)
  }

  test("deployGatesBatch: every composed gate equals its solo run after 2 waves", SlowTier) {
    import spark.implicits._
    import java.nio.file.Files
    import DeployFixture._
    val root = Files.createTempDirectory("deploygates")
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    try {
      val cfg = config(idx, root)
      def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def landedIds(path: String): Set[Long] = spark.read.parquet(path)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // composed: both waves through the ONE-pass gate
      val r0 = StreamOps.deployGatesBatch(waveDf(wave0), cfg, 0L)
      val r1 = StreamOps.deployGatesBatch(waveDf(wave1), cfg, 1L)
      // solo: each gate on its own state root, same waves
      def soloRoot(name: String) = Files.createTempDirectory(name).toString
      val (ovSt, ingSt, repSt, bmSt, kaSt, semSt, ivfSt) =
        (soloRoot("s_ov"), soloRoot("s_ing"), soloRoot("s_rep"),
          soloRoot("s_bm"), soloRoot("s_ka"), soloRoot("s_sem"),
          soloRoot("s_ivf"))
      val fzSt = soloRoot("s_fz")
      val posSt = soloRoot("s_pos")
      val ingOut = soloRoot("s_ing_out") + "/landed"
      var soloOverlap = Map.empty[Long, Set[(String, String, Long)]]
      var soloLabels: org.apache.spark.sql.DataFrame = null
      var soloState: org.apache.spark.sql.DataFrame = null
      var soloKanon: org.apache.spark.sql.DataFrame = null
      var soloSem: org.apache.spark.sql.DataFrame = null
      Seq(0L -> wave0, 1L -> wave1).foreach { case (id, w) =>
        val b = waveDf(w)
        val pr = StreamOps.sweepBatchAccum(b, staticIndex, "doc_id", "text",
          threshold, ovSt, id)
        try soloOverlap += id -> StreamOps.rollupSourcePairs(pr, sources, "doc_id")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        finally pr.unpersist()
        StreamOps.ingestBatchCompact(b, staticIndex, corpusIds, evalSet,
          "doc_id", "text", threshold, n = 5, ingOut, ingSt, id)
        val (l, s) = StreamOps.rollingRepBatch(b, staticIndex, seed,
          seedState, scores, "doc_id", "text", threshold, repSt, id)
        soloLabels = l; soloState = s
        StreamOps.bm25IndexBatch(b, "doc_id", "text", 8, bmSt, id)
        StreamOps.fuzzyIndexBatch(b, "doc_id", "text", 16, fzSt, id)
        StreamOps.posIndexBatch(b, "doc_id", "text", 16, posSt, id)
        soloKanon = StreamOps.kAnonBatch(b.select(col("source"), col("lang"),
          length(col("text")).cast("long").as("n_chars")), kaSt, id)
        soloSem = StreamOps.semDedupBatch(b, idx.centroids, idx.assignments,
          semSeed, "doc_id", "embedding", semThreshold, semSt, id)
        StreamOps.ivfAssignBatch(b, idx.centroids, "doc_id", "embedding",
          ivfSt, id)
      }
      // overlap rollups per wave
      Seq(0L -> r0, 1L -> r1).foreach { case (id, r) =>
        val got = r.overlap.collect()
          .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
        assert(got == soloOverlap(id), s"wave $id overlap: $got")
      }
      assert(soloOverlap(0L).nonEmpty, "wave 0 must surface near-dup pairs")
      // clean-corpus promotion
      assert(landedIds(cfg.outPath) == landedIds(ingOut))
      assert(landedIds(cfg.outPath) == Set(101L),
        "100 near-dups corpus, 103 is contaminated, 102 loses to 101")
      // labels + representative state after the final wave
      assert(pairsOf(r1.labels) == pairsOf(soloLabels))
      assert(r1.repState.collect().map(_.toSeq).toSet ==
        soloState.collect().map(_.toSeq).toSet)
      assert(pairsOf(r1.labels).contains(100L -> 10L))
      // BM25 serving from the composed state equals the solo index
      val terms = Seq("document", "gates")
      def served(st: String) = StreamOps.bm25ServeRolling(spark, st, terms, 8)
        .collect().map(r => (r.get(0), r.getDouble(1))).toSet
      assert(served(cfg.statePath) == served(bmSt))
      assert(served(cfg.statePath).nonEmpty)
      // fuzzy suggestions from the composed state equal the solo index
      def fuzzy(st: String) = StreamOps
        .fuzzyServeRolling(spark, st, Seq("foxx", "dok"), 16)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getLong(3))).toSet
      assert(fuzzy(cfg.statePath) == fuzzy(fzSt))
      assert(fuzzy(cfg.statePath).exists(_._2 == "fox"), s"${fuzzy(fzSt)}")
      // positional probe from the composed state equals the solo index
      def posRows(st: String) = StreamOps
        .posServeRolling(spark, st, Seq("document", "gates"), 16)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(posRows(cfg.statePath) == posRows(posSt))
      assert(posRows(cfg.statePath).nonEmpty)
      // time travel works from the COMPOSED state too (identical
      // layouts): as of wave 0 the serves equal the solo as-of views,
      // and the frontier genuinely differs from the latest view
      def posAt(st: String, n: Long) = StreamOps
        .posServeRolling(spark, st, Seq("document", "gates"), 16, asOf = n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(posAt(cfg.statePath, 0L) == posAt(posSt, 0L))
      assert(posAt(cfg.statePath, 0L) != posRows(cfg.statePath),
        "wave 1 landed new positions; the as-of-0 view must not see them")
      def servedAt(st: String, n: Long) = StreamOps
        .bm25ServeRolling(spark, st, terms, 8, asOf = n)
        .collect().map(r => (r.get(0), r.getDouble(1))).toSet
      assert(servedAt(cfg.statePath, 0L) == servedAt(bmSt, 0L))
      // k-anonymity window report
      assert(r1.kanonReport.collect().map(_.toSeq).toSet ==
        soloKanon.collect().map(_.toSeq).toSet)
      // semantic labels + grown IVF assignment deltas
      assert(pairsOf(r1.semLabels) == pairsOf(soloSem))
      assert(pairsOf(r1.semLabels).nonEmpty)
      def asg(st: String) = spark.read.parquet(s"$st/ivf_assign")
        .select(col("id"), col("centroid_id"), col("batch_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(asg(cfg.statePath) == asg(ivfSt))
      assert(asg(cfg.statePath).size == 4, "all four wave docs assigned")
      // replay idempotence of the whole composed wave: re-running the
      // newest wave reads only state < 1 and overwrites its own partitions
      val again = StreamOps.deployGatesBatch(waveDf(wave1), cfg, 1L)
      assert(pairsOf(again.labels) == pairsOf(r1.labels))
      assert(again.repState.collect().map(_.toSeq).toSet ==
        r1.repState.collect().map(_.toSeq).toSet)
      assert(pairsOf(again.semLabels) == pairsOf(r1.semLabels))
      assert(landedIds(cfg.outPath) == Set(101L))
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("deployGatesBatch scans the arriving batch exactly once per wave") {
    import java.nio.file.Files
    import DeployFixture._
    val root = Files.createTempDirectory("deployscan")
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    try {
      val cfg = config(idx, root)
      val scanned = spark.sparkContext.longAccumulator("batch_rows_scanned")
      val schema = waveDf(wave0).schema
      val rows = wave0.map { case (id, t, s, l, e) =>
        org.apache.spark.sql.Row(id, t, s, l, e) }
      val rdd = spark.sparkContext.parallelize(rows, 2)
        .mapPartitions(_.map { r => scanned.add(1); r })
      val batch = spark.createDataFrame(rdd, schema)
      StreamOps.deployGatesBatch(batch, cfg, 0L)
      // six gates consumed the batch; the persist means ONE source pass
      assert(scanned.value == wave0.size.toLong,
        s"batch source scanned ${scanned.value} rows for ${wave0.size} inputs " +
          "— a gate is re-reading the source instead of the cache")
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("deployGatesPerBatch streams all gates and halts on k-anonymity degradation", SlowTier) {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    import DeployFixture._
    val root = Files.createTempDirectory("deploystream")
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    try {
      val cfg = config(idx, root)
      // first wave: 5 same-source docs keep the frozen level-2 class at
      // k; the violating wave lands ONE doc of a brand-new source
      val ok = (0 until 5).map(i => DeployDoc(300L + i,
        s"wholly original streaming arrival number $i with its own text body",
        "web", "en", Seq(0.1 * i, 1.0, 0.2, 0.0)))
      val bad = Seq(DeployDoc(400L,
        "a single forum arrival that breaks the frozen anonymity level",
        "forum", "en", Seq(0.5, 0.5, 0.5, 0.5)))
      val reports = scala.collection.mutable.Map[Long, StreamOps.DeployGatesReport]()
      val ms = MemoryStream[DeployDoc]
      val q = StreamOps.deployGatesPerBatch(ms.toDF(), cfg,
        root.resolve("ck").toString) { (r, id) => reports(id) = r }
      try {
        ms.addData(ok: _*); q.processAllAvailable()
        assert(reports(0L).kanonReport.filter(col("level") === 2)
          .collect().head.getBoolean(3), "5 same-class docs satisfy k=5")
        ms.addData(bad: _*)
        val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(err.getMessage.contains("k-anonymity degraded") ||
          Option(err.getCause).exists(_.getMessage.contains("k-anonymity degraded")))
      } finally q.stop()
      // the sink saw the violating report before the halt, and the other
      // gates' state from the violating wave landed durably first
      assert(reports(1L).kanonReport.filter(col("level") === 2)
        .collect().exists(!_.getBoolean(3)))
      assert(spark.read.parquet(s"${cfg.statePath}/ivf_assign")
        .filter(col("batch_id") === 1L).count() == 1L)
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("deployGatesPerBatch auto-maintain: cadence equals manual maintain, crash mid-maintain replays clean", SlowTier) {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    import DeployFixture._
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    def docsOf(w: Seq[(Long, String, String, String, Seq[Double])]) =
      w.map(d => DeployDoc(d._1, d._2, d._3, d._4, d._5))
    // waves that SATISFY the frozen k=5 release level (the streaming
    // path enforces it; the manual baseline drives the same batches):
    // wave 0 is the k-anon spec's 5-near-dup web/en cohort (scored in
    // the fixture, so the rep guard is fed); wave 1's five web/en texts
    // are mutually dissimilar — no new label entries, class size 10
    val w0 = (0 until 5).map(i => (300L + i,
      s"wholly original streaming arrival number $i with its own text body",
      "web", "en", Seq(0.1 * i, 1.0, 0.2, 0.0)))
    val w1 = Seq(
      (310L, "completely unrelated treatise on medieval falconry techniques and equipment"),
      (311L, "a recipe describing slow fermentation of sourdough with rye flour"),
      (312L, "notes from the tuesday standup regarding quarterly planning milestones"),
      (313L, "observations of tidal patterns near the estuary during spring floods"),
      (314L, "short fable about a tortoise negotiating passage with river otters"))
      .zipWithIndex.map { case ((id, t), i) =>
        (id, t, "web", "en", Seq(0.3, 0.2 + 0.1 * i, 0.9, 0.1)) }
    def readsOf(cfg: StreamOps.DeployGatesConfig): Seq[Set[Seq[Any]]] = {
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
      def latest(name: String): Set[Seq[Any]] =
        rows(StreamOps.latestSnapshot(spark, s"${cfg.statePath}/$name")
          .drop("batch_id"))
      Seq(
        rows(StreamOps.bm25ServeRolling(spark, cfg.statePath,
          Seq("streaming", "fermentation"), 8)),
        rows(StreamOps.compactLanded(spark, cfg.outPath, cfg.statePath,
          corpusIds, "doc_id").select("doc_id")),
        latest("labels"), latest("rep"), latest("kanon"),
        latest("sem_labels"),
        rows(StreamOps.posServeRolling(spark, cfg.statePath,
          Seq("arrival", "falconry"), 16)))
    }
    try {
      // MANUAL baseline: batch waves + maintain after each (cadence 1)
      val rootB = Files.createTempDirectory("automaint_b")
      val cfgB = config(idx, rootB)
      val landedB = Some(StreamOps.LandedCorpus(cfgB.outPath, corpusIds, "doc_id"))
      StreamOps.deployGatesBatch(waveDf(w0), cfgB, 0L)
      StreamOps.maintain(spark, cfgB.statePath, landedB)
      StreamOps.deployGatesBatch(waveDf(w1), cfgB, 1L)
      StreamOps.maintain(spark, cfgB.statePath, landedB)
      val baseline = readsOf(cfgB)
      assert(baseline.forall(_.nonEmpty))
      // AUTO: the streaming gate with maintainEvery = 1 fires the same
      // maintenance inside foreachBatch — identical read paths after
      val rootA = Files.createTempDirectory("automaint_a")
      val cfgA = config(idx, rootA).copy(maintainEvery = 1)
      val ms = MemoryStream[DeployDoc]
      val q = StreamOps.deployGatesPerBatch(ms.toDF(), cfgA,
        rootA.resolve("ck").toString) { (_, _) => () }
      try {
        ms.addData(docsOf(w0): _*); q.processAllAvailable()
        ms.addData(docsOf(w1): _*); q.processAllAvailable()
      } finally q.stop()
      assert(readsOf(cfgA) == baseline,
        "auto-maintained stream diverged from batch waves + manual maintain")
      // CRASH during the auto-maintain between waves: the batch is
      // uncommitted, so the replay re-runs the whole foreachBatch body —
      // wave 0's idempotent lands, then a FULL maintain — and wave 1
      // proceeds; every prefix depth must converge to the same answers
      val stepCount = StreamOps.maintainSteps(spark, "unused", None,
        128L << 20).size
      Seq(0, stepCount / 2, stepCount - 1).foreach { k =>
        val rootC = Files.createTempDirectory(s"automaint_c$k")
        val cfgC = config(idx, rootC)
        val landedC = Some(StreamOps.LandedCorpus(cfgC.outPath, corpusIds, "doc_id"))
        StreamOps.deployGatesBatch(waveDf(w0), cfgC, 0L)
        // crash: only the first k maintain steps ran
        StreamOps.maintainSteps(spark, cfgC.statePath, landedC, 128L << 20)
          .take(k).foreach { case (_, step) => step() }
        // replay of the uncommitted batch: lands again, maintains fully
        StreamOps.deployGatesBatch(waveDf(w0), cfgC, 0L)
        StreamOps.maintain(spark, cfgC.statePath, landedC)
        StreamOps.deployGatesBatch(waveDf(w1), cfgC, 1L)
        StreamOps.maintain(spark, cfgC.statePath, landedC)
        assert(readsOf(cfgC) == baseline,
          s"crash at maintain prefix $k diverged after replay")
      }
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("maintain: every read path stays green at every crash prefix") {
    import spark.implicits._
    import java.nio.file.Files
    import DeployFixture._
    val root = Files.createTempDirectory("maintain")
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    try {
      val cfg = config(idx, root)
      StreamOps.deployGatesBatch(waveDf(wave0), cfg, 0L)
      StreamOps.deployGatesBatch(waveDf(wave1), cfg, 1L)
      // wave 2: doc 50 near-dups LANDED doc 101 with a smaller id — the
      // one retro-drop case, so compact_landed has real work
      StreamOps.deployGatesBatch(waveDf(Seq((50L,
        t101.replace("gates", "sluices"), "web", "en",
        Seq(0.0, 0.0, 0.99, 0.01)))), cfg, 2L)
      // two bm25-only lands that supersede a doc, so merge_bm25_segments
      // has real work (independent state family under the same root)
      StreamOps.bm25IndexBatch(Seq(500L -> "extra fox document for bm25")
        .toDF("doc_id", "text"), "doc_id", "text", 8, cfg.statePath, 3L)
      StreamOps.bm25IndexBatch(Seq(500L -> "extra dog document for bm25")
        .toDF("doc_id", "text"), "doc_id", "text", 8, cfg.statePath, 4L)
      // and two positional lands that supersede, for merge_pos_segments
      StreamOps.posIndexBatch(Seq(600L -> "extra fox phrase for positions")
        .toDF("doc_id", "text"), "doc_id", "text", 8, cfg.statePath, 5L)
      StreamOps.posIndexBatch(Seq(600L -> "extra dog phrase for positions")
        .toDF("doc_id", "text"), "doc_id", "text", 8, cfg.statePath, 6L)
      // every public read path, captured before any maintenance
      def reads(): Seq[Set[Seq[Any]]] = {
        def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
          df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
        def latest(name: String): Set[Seq[Any]] = {
          val d = spark.read.parquet(s"${cfg.statePath}/$name")
          rows(d.filter(col("batch_id") ===
            d.agg(max(col("batch_id"))).head.get(0)).drop("batch_id"))
        }
        Seq(
          rows(StreamOps.bm25ServeRolling(spark, cfg.statePath,
            Seq("document", "fox"), 8)),
          rows(StreamOps.fuzzyServeRolling(spark, cfg.statePath,
            Seq("foxx", "dok"), 16)),
          rows(StreamOps.compactLanded(spark, cfg.outPath, cfg.statePath,
            corpusIds, "doc_id").select("doc_id")),
          rows(spark.read.parquet(s"${cfg.statePath}/ivf_assign")
            .select(col("id"), col("centroid_id"))),
          latest("labels"), latest("rep"), latest("sem_labels"),
          latest("kanon"),
          rows(StreamOps.posServeRolling(spark, cfg.statePath,
            Seq("fox", "dog"), 8)))
      }
      val baseline = reads()
      assert(baseline.forall(_.nonEmpty), s"empty read-path fixture: $baseline")
      // the retro-drop genuinely fires: 101 is landed now, dropped in view
      assert(baseline(2).contains(Vector(50L)) && !baseline(2).contains(Vector(101L)))
      assert(spark.read.parquet(cfg.outPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet.contains(101L))
      // run the steps one at a time — the state after steps 0..k IS the
      // crash-between-steps state at prefix k+1; every read path must be
      // green and unchanged at each of them
      val landedCfg = Some(StreamOps.LandedCorpus(cfg.outPath, corpusIds, "doc_id"))
      val steps = StreamOps.maintainSteps(spark, cfg.statePath, landedCfg,
        128L << 20)
      val report = steps.map { case (name, step) =>
        val (b, a) = step()
        assert(reads() == baseline, s"read path diverged after step $name")
        (name, b, a)
      }
      // the two rewrites had real work
      val merged = report.find(_._1 == "merge_bm25_segments").get
      assert(merged._2 == 1L, s"bm25 merge: $merged")
      val posMerged = report.find(_._1 == "merge_pos_segments").get
      assert(posMerged._2 == 1L, s"pos merge: $posMerged")
      val landedStep = report.find(_._1 == "compact_landed").get
      assert(landedStep._2 == 1L, s"landed compaction: $landedStep")
      // the at-rest corpus itself now matches the compacted view
      assert(spark.read.parquet(cfg.outPath).select("doc_id")
        .collect().map(r => Vector[Any](r.getLong(0))).toSet == baseline(2))
      // a second full maintenance is a no-op on every answer
      StreamOps.maintain(spark, cfg.statePath, landedCfg)
      assert(reads() == baseline)
    } finally idx.close()
    spark.catalog.clearCache()
  }

  test("state catalog: every landed directory is a declared table, and maintain prunes every snapshot and compacts every log") {
    import spark.implicits._
    import java.nio.file.Files
    import DeployFixture._
    import graft.streaming.StateCatalog
    val root = Files.createTempDirectory("catalog")
    val idx = graft.operators.IvfSearch.buildIndex(staticVecs, "vec_id",
      "embedding", k = 2, iters = 2, roundDecimals = 6)
    try {
      val cfg = config(idx, root)
      val st = cfg.statePath
      val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      val media = Seq(
        Seq(500L -> "render me into pixels and samples", 501L -> "another payload"),
        Seq(502L -> "render me into pixels and samples", 503L -> "unrelated body"))
      val spans = Seq(Seq(600L -> "sp1 sp2 sp3 sp4 sp5 sp6 sp7 sp8 trail"),
        Seq(602L -> "lead sp1 sp2 sp3 sp4 sp5 sp6 sp7 sp8"))
      Seq(wave0, wave1).zipWithIndex.foreach { case (w, i) =>
        val b = i.toLong
        StreamOps.deployGatesBatch(waveDf(w), cfg, b)
        StreamOps.pagerankBatch(waveDf(w).select("doc_id", "text"), staticIndex,
          noPairs, "doc_id", "text", threshold, 2, 850000L, st, b)
        val m = media(i).toDF("doc_id", "text")
        StreamOps.imageNdBatch(m, st, b)
        StreamOps.audioNdBatch(m, st, b)
        StreamOps.videoNdBatch(m, st, b)
        StreamOps.spanDedupBatch(spans(i).toDF("doc_id", "text"), st, b)
        StreamOps.ivfDeleteBatch(Seq(103L + i, 10L + i).toDF("id"), st, b)
      }
      // a re-ingested doc, so both text families land tombstones too
      StreamOps.bm25IndexBatch(Seq(101L -> "a revised second wave document")
        .toDF("doc_id", "text"), "doc_id", "text", 8, st, 2L)
      StreamOps.posIndexBatch(Seq(101L -> "a revised second wave document")
        .toDF("doc_id", "text"), "doc_id", "text", 16, st, 2L)
      val landed = new java.io.File(st).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      val declared = StateCatalog.tables.map(_.name)
      assert(declared.distinct.size == declared.size)
      assert(landed -- declared == Set.empty, "undeclared state tables")
      assert(landed == declared.toSet, s"declared but not landed: ${declared.toSet -- landed}")
      val steps = StreamOps.maintainSteps(spark, st, None, 128L << 20).map(_._1)
      def ofKind(k: StateCatalog.Kind) =
        StateCatalog.tables.filter(_.kind == k).map(_.name)
      assert(ofKind(StateCatalog.Snapshot).map(t => s"prune_$t")
        .forall(steps.contains), steps)
      assert(ofKind(StateCatalog.Log).map(t => s"compact_$t")
        .forall(steps.contains), steps)
      // tombstone logs are cleared by the segment merges, never compacted
      assert(ofKind(StateCatalog.Tombstones).forall(t =>
        !steps.contains(s"compact_$t") && !steps.contains(s"prune_$t")))
    } finally {
      idx.close()
      graft.sources.Sources.deleteRecursively(root.toFile)
    }
    spark.catalog.clearCache()
  }

  test("reclaim's leaf enumeration collects partition tuples, not rows") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("leafenum").toString
    // 5000 rows spread over exactly 2 batches x 2 shards = 4 leaf dirs
    (0L until 5000L).map(i => (i, i % 2, i % 4 / 2, s"payload $i"))
      .toDF("id", "batch_id", "shard", "term")
      .write.mode("overwrite").partitionBy("batch_id", "shard")
      .parquet(root)
    val tuples = StreamOps.distinctPartitionTuples(
      spark.read.parquet(root), Seq("batch_id", "shard"))
    // the driver-side bound reclaimDeadVersions relies on: the collect
    // equals the on-disk leaf count (4), independent of the 5000 rows
    assert(tuples == Set(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 0L), Seq(1L, 1L)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap(b => fs.listStatus(b.getPath)
        .filter(s2 => s2.isDirectory && s2.getPath.getName.startsWith("shard=")))
      .length
    assert(tuples.size == onDisk)
  }

  test("withBatchShuffleWidth tracks batch size, restores conf, skips at scale") {
    val PartsKey = "spark.sql.shuffle.partitions"
    val AqeKey = "spark.sql.adaptive.enabled"
    val sessionParts = spark.conf.get(PartsKey)
    val sessionAqe = spark.conf.get(AqeKey)
    val p = sessionParts.toLong
    assert(p >= 2, "session width must exceed 1 for this spec to bite")
    def widthInside(rows: Long): (String, String) =
      StreamOps.withBatchShuffleWidth(spark, rows) {
        (spark.conf.get(PartsKey), spark.conf.get(AqeKey))
      }
    // demo-scale batch: width narrows to ceil-ish rows/100k, AQE off inside
    assert(widthInside(500L) == (("1", "false")))
    assert(widthInside(250000L)._1 == "3")
    // the narrowed width is what a shuffle actually runs at
    val narrowedParts = StreamOps.withBatchShuffleWidth(spark, 500L) {
      spark.range(1000).groupBy((col("id") % 7).as("k")).count()
        .rdd.getNumPartitions
    }
    assert(narrowedParts == 1, s"shuffle ran at $narrowedParts partitions")
    // at-scale batch (>= sessionWidth * 100k rows): session untouched
    assert(widthInside(p * 100000L) == ((sessionParts, sessionAqe)))
    // conf restored after the body, including on throw
    assert(spark.conf.get(PartsKey) == sessionParts)
    assert(spark.conf.get(AqeKey) == sessionAqe)
    intercept[RuntimeException] {
      StreamOps.withBatchShuffleWidth(spark, 1L)(sys.error("boom"))
    }
    assert(spark.conf.get(PartsKey) == sessionParts)
    assert(spark.conf.get(AqeKey) == sessionAqe)
  }

  private val PartsKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  test("concurrent narrowing scopes on one session each see their own " +
      "width and leave the session as they found it") {
    import graft.operators.ShuffleWidth
    val t = spark.newSession()
    t.conf.set(PartsKey, "8")
    t.conf.set(AqeKey, "true")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a batch-style scope (150k rows → width 2) against a CC-style one
    // (width 5): the batch scope's unlocked skip read never skips, since
    // 2 is below both the session's 8 and the other scope's 5. Each body
    // sleeps before it reads, so unlocked scopes would interleave.
    def batchScope(): Unit = StreamOps.withBatchShuffleWidth(t, 150000L) {
      Thread.sleep(1)
      val got = (t.conf.get(PartsKey), t.conf.get(AqeKey))
      if (got != (("2", "false"))) seen.add(s"batch saw $got")
    }
    def ccScope(): Unit = ShuffleWidth.narrowed(t, 5L) { w =>
      Thread.sleep(1)
      val got = (w, t.conf.get(PartsKey), t.conf.get(AqeKey))
      if (got != ((Some(5), "5", "false"))) seen.add(s"cc saw $got")
    }
    // one warm call each first, so class loading cannot hold one thread
    // back until the other has finished
    batchScope(); ccScope()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq[() => Unit](batchScope _, ccScope _).map { scope =>
      new Thread(() =>
        try { start.await(); (1 to 50).foreach(_ => scope()) }
        catch { case e: Throwable => seen.add(e.toString); () })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(seen.isEmpty, seen.toArray.mkString("; "))
    assert(t.conf.get(PartsKey) == "8")
    assert(t.conf.get(AqeKey) == "true")
  }

  test("a nested narrowing scope sees the smaller width and restores " +
      "the enclosing scope's") {
    import graft.operators.ShuffleWidth
    val t = spark.newSession()
    t.conf.set(PartsKey, "8")
    val aqe = t.conf.get(AqeKey)
    StreamOps.withBatchShuffleWidth(t, 250000L) { // width 3
      // CC inside a wave body: the inner cap is the outer width
      ShuffleWidth.narrowed(t, 6L) { w => assert(w.contains(3)) }
      ShuffleWidth.narrowed(t, 1L) { w =>
        assert(w.contains(1))
        assert(t.conf.get(PartsKey) == "1")
      }
      assert(t.conf.get(PartsKey) == "3")
      assert(t.conf.get(AqeKey) == "false")
    }
    assert(t.conf.get(PartsKey) == "8")
    assert(t.conf.get(AqeKey) == aqe)
  }

  test("an application width change between two narrowing scopes " +
      "survives the second") {
    val t = spark.newSession()
    t.conf.set(PartsKey, "8")
    StreamOps.withBatchShuffleWidth(t, 1L) { () }
    t.conf.set(PartsKey, "16")
    StreamOps.withBatchShuffleWidth(t, 1L) {
      assert(t.conf.get(PartsKey) == "1")
    }
    assert(t.conf.get(PartsKey) == "16",
      "restore reverted a deliberate application width change")
  }

  test("a throwing narrowed body restores width and AQE") {
    val t = spark.newSession()
    t.conf.set(PartsKey, "8")
    t.conf.set(AqeKey, "true")
    val e = intercept[RuntimeException] {
      graft.operators.ShuffleWidth.narrowed(t, 2L)(_ => sys.error("boom"))
    }
    assert(e.getMessage == "boom")
    assert(t.conf.get(PartsKey) == "8")
    assert(t.conf.get(AqeKey) == "true")
  }

  test("maintain-while-serving: a reader resolved before the maintenance " +
      "window answers identically (both interleave orders)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_msv_").toString
    try {
      val terms = Seq("alpha", "beta")
      def land(rows: Seq[(Long, String)], b: Long): Unit =
        StreamOps.bm25IndexBatch(rows.toDF("doc_id", "text"),
          "doc_id", "text", 4, root, b)
      land(Seq(1L -> "alpha beta gamma", 2L -> "alpha alpha delta",
        3L -> "stale"), 0L)
      land(Seq(4L -> "beta beta beta", 5L -> "gamma delta"), 1L)
      // re-ingest doc 3: tombstones its batch-0 version, so the window's
      // segment merge below does REAL file surgery, not a no-op
      land(Seq(3L -> "alpha beta beta full text"), 2L)
      def serve() = StreamOps.bm25ServeRolling(spark, root, terms, 4)
      val baseline = serve().collect().map(_.toSeq).toSet
      assert(baseline.nonEmpty)
      // order A: resolve BEFORE maintenance, read AFTER — the pinned
      // read version must survive the merge + compactions untouched
      val resolved = serve()
      val steps = StreamOps.maintain(spark, root)
      assert(steps.exists { case (n, b, _) =>
        n == "merge_bm25_segments" && b > 0 },
        s"the window must reclaim the superseded version, got $steps")
      assert(resolved.collect().map(_.toSeq).toSet == baseline,
        "a pre-window resolve answered differently after maintenance")
      // order B: resolve and read entirely after the window
      assert(serve().collect().map(_.toSeq).toSet == baseline,
        "a post-window resolve answered differently")
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  test("maintain-while-serving, graph/ANN families: pr as-of reads survive " +
      "the window; grown-index probes are stable across compaction") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.operators.IvfSearch
    val root = Files.createTempDirectory("graft_msv2_").toString
    try {
      // rolling-PageRank state: 3 waves of symmetric edge deltas, written
      // WIDE so the pr_edges compaction below does real file surgery
      def wave(rows: Seq[(Long, Long)], b: Long): Unit =
        StreamOps.pagerankEdgesBatch(rows.toDF("src", "dst").repartition(8),
          iters = 2, dampPpm = 850000L, root, b)
      wave(Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L), 0L)
      wave(Seq(3L -> 4L, 4L -> 3L), 1L)
      wave(Seq(1L -> 5L, 5L -> 1L), 2L)
      def prServe(asOf: Long) = StreamOps.prAsOf(spark, root,
        sys.error("seed fallback must not fire: snapshots exist"),
        org.apache.spark.sql.types.LongType, asOf)
      val prBase = prServe(1L).collect().map(_.toSeq).toSet
      assert(prBase.nonEmpty)
      // ANN delta state in the same state dir: frozen quantizer, 2 waves
      val e = graft.Tables(spark, sfDir, "embeddings")
      val split = 250L
      val base = IvfSearch.buildIndex(e.filter(col("vec_id") < split),
        "vec_id", "embedding", k = 4, iters = 2, roundDecimals = 6)
      try {
        val late = e.filter(col("vec_id") >= split)
        StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 0)
          .repartition(8), base.centroids, "vec_id", "embedding", root, 0L)
        StreamOps.ivfAssignBatch(late.filter(col("vec_id") % 2 === 1)
          .repartition(8), base.centroids, "vec_id", "embedding", root, 1L)
        def probe(): Seq[Seq[Any]] =
          IvfSearch.approxTopK(e.filter(col("vec_id") < 3),
              StreamOps.grownIvfIndex(spark, base, root),
              "vec_id", "embedding", k = 5, nprobe = 2)
            .orderBy("q_id", "rk").collect().map(_.toSeq).toSeq
        val probeBase = probe()
        assert(probeBase.exists(r => r(1).asInstanceOf[Long] >= split),
          "deltas not probe-reachable before the window")
        // order A: readers resolved BEFORE the window, read AFTER.
        // The pr as-of reader targets latest+previous snapshots, which
        // every prune retains and which are never file-compacted; the
        // grown-index probe pins its visible deltas at resolve
        // (grownIvfIndex's localCheckpoint), so compact_ivf_assign's
        // staged rename cannot strand it — the round-16 quiet-window
        // exception, now closed
        val resolved = prServe(1L)
        val resolvedProbe = IvfSearch.approxTopK(
          e.filter(col("vec_id") < 3),
          StreamOps.grownIvfIndex(spark, base, root),
          "vec_id", "embedding", k = 5, nprobe = 2)
        val steps = StreamOps.maintain(spark, root)
        assert(steps.exists { case (n, b, a) =>
          n == "compact_pr_edges" && b > a },
          s"the window must compact the wide pr_edges log, got $steps")
        assert(resolved.collect().map(_.toSeq).toSet == prBase,
          "a pre-window pr resolve answered differently after maintenance")
        assert(resolvedProbe.orderBy("q_id", "rk").collect()
            .map(_.toSeq).toSeq == probeBase,
          "a pre-window grown-index probe diverged across ivf_assign " +
            "compaction — the resolve-time delta pin failed")
        // order B: resolve and read entirely after the window
        assert(prServe(1L).collect().map(_.toSeq).toSet == prBase,
          "a post-window pr resolve answered differently")
        // ...and the pruned-frontier contract still fails loudly
        val gone = intercept[RuntimeException] { prServe(0L).collect() }
        assert(gone.getMessage.contains("no pagerank snapshot"))
        // the grown-index probe resolved fresh after the window
        assert(probe() == probeBase,
          "grown-index probe diverged across ivf_assign compaction")
        // a further wave lands cleanly on the compacted log and the
        // next frontier's pr read sees it (maintenance never wedges
        // the writer side)
        wave(Seq(4L -> 5L, 5L -> 4L), 3L)
        assert(prServe(3L).collect().nonEmpty)
      } finally base.close()
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
    spark.catalog.clearCache()
  }

  test("rolling pagerank: warm-started snapshots equal the batch twin, " +
      "as-of reads time-travel them, pruned frontiers fail loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pr_").toString
    try {
      // three edge-delta waves: a path graph growing a tail, then a
      // cycle-closing edge — degrees and warm-start inits all shift
      val deltas = Seq(
        Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)),
        Seq((3L, 4L), (4L, 3L)),
        Seq((1L, 4L), (4L, 1L), (4L, 5L), (5L, 4L)))
        .map(_.toDF("src", "dst"))
      deltas.zipWithIndex.foreach { case (d, b) =>
        StreamOps.pagerankEdgesBatch(d, iters = 3, dampPpm = 850000L,
          root, b.toLong)
      }
      // batch twin: fold the SAME advance over in-memory accumulated
      // edges — the rolling state machinery (deltas, snapshots,
      // retention) must be invisible in the numbers
      var acc: org.apache.spark.sql.DataFrame = null
      var prev = Seq.empty[(Long, Long)].toDF("id", "pr")
      val expected = deltas.map { d =>
        acc = if (acc == null) d else acc.unionByName(d)
        prev = StreamOps.pagerankAdvance(prev, acc.localCheckpoint(),
          iters = 3, dampPpm = 850000L).localCheckpoint()
        prev.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      def asOf(n: Long): Set[(Long, Long)] = StreamOps.prAsOf(spark, root,
          sys.error("seed fallback must not trigger with landed snapshots"),
          org.apache.spark.sql.types.LongType, asOf = n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(asOf(1L) == expected(1), "frontier-1 scores diverge from twin")
      assert(asOf(2L) == expected(2), "frontier-2 scores diverge from twin")
      assert(asOf(2L) != asOf(1L), "frontiers must differ on this graph")
      // frontier 0's snapshot is past the keep=2 retention: loud failure,
      // never a silent seed answer from the wrong epoch
      val e = intercept[RuntimeException](asOf(0L))
      assert(e.getMessage.contains("pagerank"), e.getMessage)
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  test("rolling span dedup: per-frontier serves equal the one-shot d48, " +
      "retro events stamp at the later wave, committed-wave replay is a no-op") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.operators.SpanDedup
    val root = Files.createTempDirectory("spanroll").toString
    val st = s"$root/state"
    // the shared 9-word passage: wave 0's doc 1 holds it; wave 2's doc 5
    // duplicates it — doc 1's coverage must appear RETROACTIVELY at
    // frontier 2. Wave 1's docs 3/4 share their own passage (covered at
    // arrival). Doc 2 never matches anything.
    val passage = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val other = "p1 p2 p3 p4 p5 p6 p7 p8"
    val waves = Seq(
      Seq(1L -> s"$passage tail1 tail2", 2L -> "lone a b c d e f g h"),
      Seq(3L -> s"head1 $other", 4L -> s"$other end1 end2"),
      Seq(5L -> s"pre1 pre2 $passage"))
    waves.zipWithIndex.foreach { case (w, b) =>
      StreamOps.spanDedupBatch(w.toDF("doc_id", "text"), st, b.toLong)
    }
    // FULL-SCHEMA parity: the as-of serve emits the one-shot d48 schema
    // (doc_id, n_tokens, n_spans, covered_tokens, longest_span,
    // copied_ppm) with zero-coverage docs PRESENT — a reader can switch
    // serve surfaces without a shim
    assert(StreamOps.spansAsOf(spark, st, 0L).columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_spans", "covered_tokens",
        "longest_span", "copied_ppm"))
    def serve(f: Long): Set[Vector[Any]] =
      StreamOps.spansAsOf(spark, st, f).collect()
        .map(_.toSeq.toVector: Vector[Any]).toSet
    def oneShot(upTo: Int): Set[Vector[Any]] =
      SpanDedup.spanProfile(
          waves.take(upTo + 1).flatten.toDF("doc_id", "text"),
          "doc_id", "text", 8)
        .collect().map(_.toSeq.toVector: Vector[Any]).toSet
    def covered(rows: Set[Vector[Any]]): Set[Any] =
      rows.filter(_(2).asInstanceOf[Long] > 0L).map(_(0))
    // frontier 0: both docs arrived, nothing duplicated yet — the serve
    // still reports them (zero coverage), exactly like the one-shot
    val f0 = serve(0L)
    assert(f0 == oneShot(0) && covered(f0).isEmpty &&
      f0.map(_(0)) == Set[Any](1L, 2L), s"got $f0")
    // frontier 1: docs 3/4 share `other`; doc 1 still uncovered
    val f1 = serve(1L)
    assert(covered(f1) == Set[Any](3L, 4L) && f1 == oneShot(1), s"got $f1")
    // frontier 2: doc 5 arrives — doc 1's passage coverage appears
    // retroactively, and every frontier equals its one-shot twin
    val f2 = serve(2L)
    assert(covered(f2) == Set[Any](1L, 3L, 4L, 5L) && f2 == oneShot(2),
      s"got $f2")
    // the retro event rows for doc 1 are stamped at the DISCOVERY wave
    val doc1Events = spark.read.parquet(s"$st/span_events")
      .filter(col("id") === 1L).select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(doc1Events == Set(2L),
      s"doc 1's coverage must stamp at wave 2 (retro), got $doc1Events")
    // committed-wave replay: dynamic overwrite + the landed<batch guard
    // re-derive identical state
    StreamOps.spanDedupBatch(waves(1).toDF("doc_id", "text"), st, 1L)
    assert(serve(2L) == f2, "replay of wave 1 changed the served answers")
    // maintenance compaction leaves every frontier unchanged
    StreamOps.maintain(spark, st)
    assert(serve(1L) == f1 && serve(2L) == f2,
      "maintain() changed a span frontier")
    // the as-of read PRUNES to the frontier's batch_id partitions — a
    // full-log scan per probe would not survive a long-running stream
    val asOf1 = StreamOps.spansAsOf(spark, st, 1L)
    asOf1.collect()
    val plan = asOf1.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    // BOTH state scans (span_events AND span_doclens) must prune
    assert(pf.size >= 2 && pf.forall(_.contains("batch_id")),
      s"spansAsOf must partition-prune on batch_id, got:\n${pf.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("spanDedupPerBatch: streamed waves equal the direct batch drive", SlowTier) {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val rootA = Files.createTempDirectory("spanstream").toString
    val rootB = Files.createTempDirectory("spanbatch").toString
    val passage = "s1 s2 s3 s4 s5 s6 s7 s8"
    val w0 = Seq(StreamDoc(10L, s"$passage a b"), StreamDoc(11L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"))
    val w1 = Seq(StreamDoc(12L, s"c d $passage"))
    val ms = MemoryStream[StreamDoc]
    val q = StreamOps.spanDedupPerBatch(ms.toDF(), s"$rootA/state",
      s"$rootA/ck")
    try {
      ms.addData(w0: _*); q.processAllAvailable()
      ms.addData(w1: _*); q.processAllAvailable()
    } finally q.stop()
    Seq(w0, w1).zipWithIndex.foreach { case (w, b) =>
      StreamOps.spanDedupBatch(
        w.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        s"$rootB/state", b.toLong)
    }
    def rows(st: String) = StreamOps.spansAsOf(spark, st).collect()
      .map(_.toSeq.toVector).toSet
    assert(rows(s"$rootA/state") == rows(s"$rootB/state") &&
      rows(s"$rootA/state").nonEmpty)
    spark.catalog.clearCache()
  }

  test("whole-plant rehearsal: every rolling family chaos-interleaved with " +
      "maintenance windows, a replay, and a reclaim equals the clean drive") {
    import spark.implicits._
    import java.nio.file.Files
    import DeployFixture._
    import graft.operators.IvfSearch
    val idx = IvfSearch.buildIndex(staticVecs, "vec_id", "embedding",
      k = 2, iters = 2, roundDecimals = 6)
    // media waves: identical texts render to identical PNG/WAV/Y4M, so
    // each modality discovers one cross-wave pair (500, 502)
    val mediaText = "render me into pixels and samples for the dedup sweep"
    val m0 = Seq(500L -> mediaText, 501L -> "a completely different payload")
    val m1 = Seq(502L -> mediaText, 503L -> "yet another unrelated body")
    val e0 = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L)
    val e1 = Seq(3L -> 4L, 4L -> 3L)
    // span waves: wave 1's doc 602 duplicates wave 0's doc 600 passage
    val spanPassage = "sp1 sp2 sp3 sp4 sp5 sp6 sp7 sp8"
    val s0 = Seq(600L -> s"$spanPassage trail", 601L -> "v1 v2 v3 v4 v5 v6 v7 v8 v9")
    val s1 = Seq(602L -> s"lead $spanPassage")
    def mediaDf(w: Seq[(Long, String)]) = w.toDF("doc_id", "text")
    def edgeDf(w: Seq[(Long, Long)]) = w.toDF("src", "dst")
    // the full serve surface, one row-set per read path — what a
    // deployment's queries actually resolve between and during windows
    def readsOf(cfg: StreamOps.DeployGatesConfig): Seq[Set[Seq[Any]]] = {
      val st = cfg.statePath
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
      def latest(name: String): Set[Seq[Any]] =
        rows(StreamOps.latestSnapshot(spark, s"$st/$name").drop("batch_id"))
      Seq(
        rows(StreamOps.bm25ServeRolling(spark, st,
          Seq("streaming", "benchmark"), 8)),
        rows(StreamOps.posServeRolling(spark, st,
          Seq("climate", "adaptation"), 16)),
        rows(StreamOps.fuzzyServeRolling(spark, st, Seq("streamin"), 16)),
        rows(StreamOps.compactLanded(spark, cfg.outPath, st, corpusIds,
          "doc_id").select("doc_id")),
        latest("labels"), latest("rep"), latest("kanon"),
        latest("sem_labels"),
        rows(StreamOps.prAsOf(spark, st,
          sys.error("seed fallback must not fire"),
          org.apache.spark.sql.types.LongType, 1L)),
        rows(StreamOps.imageNdAsOf(spark, st, Long.MaxValue)),
        rows(StreamOps.audioNdAsOf(spark, st, Long.MaxValue)),
        rows(StreamOps.videoNdAsOf(spark, st, Long.MaxValue)),
        // the span family at EVERY frontier, not just the head —
        // compaction/replay mid-wave must leave each retroactive
        // frontier byte-identical (the mm17 pattern)
        rows(StreamOps.spansAsOf(spark, st, 0L)),
        rows(StreamOps.spansAsOf(spark, st, 1L)),
        rows(StreamOps.spansAsOf(spark, st)),
        rows(IvfSearch.approxTopK(staticVecs,
          StreamOps.grownIvfIndex(spark, idx, st),
          "vec_id", "embedding", k = 3, nprobe = 2)))
    }
    try {
      // CLEAN drive: every family's waves in order, NO maintenance ever
      val rootC = Files.createTempDirectory("plant_clean")
      val cfgC = config(idx, rootC)
      StreamOps.deployGatesBatch(waveDf(wave0), cfgC, 0L)
      StreamOps.imageNdBatch(mediaDf(m0), cfgC.statePath, 0L)
      StreamOps.audioNdBatch(mediaDf(m0), cfgC.statePath, 0L)
      StreamOps.videoNdBatch(mediaDf(m0), cfgC.statePath, 0L)
      StreamOps.pagerankEdgesBatch(edgeDf(e0), iters = 2,
        dampPpm = 850000L, cfgC.statePath, 0L)
      StreamOps.spanDedupBatch(mediaDf(s0), cfgC.statePath, 0L)
      StreamOps.deployGatesBatch(waveDf(wave1), cfgC, 1L)
      StreamOps.imageNdBatch(mediaDf(m1), cfgC.statePath, 1L)
      StreamOps.audioNdBatch(mediaDf(m1), cfgC.statePath, 1L)
      StreamOps.videoNdBatch(mediaDf(m1), cfgC.statePath, 1L)
      StreamOps.pagerankEdgesBatch(edgeDf(e1), iters = 2,
        dampPpm = 850000L, cfgC.statePath, 1L)
      StreamOps.spanDedupBatch(mediaDf(s1), cfgC.statePath, 1L)
      StreamOps.ivfDeleteBatch(Seq(103L).toDF("id"), cfgC.statePath, 2L)
      val baseline = readsOf(cfgC)
      assert(baseline.forall(_.nonEmpty), "a clean-drive read path is empty")
      // CHAOS drive: the same waves with maintenance windows between
      // arbitrary steps, readers resolved ACROSS a window, a committed-
      // wave replay of every family, and a physical reclaim
      val rootX = Files.createTempDirectory("plant_chaos")
      val cfgX = config(idx, rootX)
      val st = cfgX.statePath
      val landed = Some(StreamOps.LandedCorpus(cfgX.outPath, corpusIds,
        "doc_id"))
      StreamOps.deployGatesBatch(waveDf(wave0), cfgX, 0L)
      StreamOps.imageNdBatch(mediaDf(m0), st, 0L)
      StreamOps.maintain(spark, st, landed) // window A, mid-wave-0
      StreamOps.audioNdBatch(mediaDf(m0), st, 0L)
      StreamOps.videoNdBatch(mediaDf(m0), st, 0L)
      StreamOps.pagerankEdgesBatch(edgeDf(e0), iters = 2,
        dampPpm = 850000L, st, 0L)
      StreamOps.spanDedupBatch(mediaDf(s0), st, 0L)
      // readers resolved BEFORE window B, read AFTER it — every tier
      val preBm = StreamOps.bm25ServeRolling(spark, st,
        Seq("streaming", "benchmark"), 8)
      val preBmRows = preBm.collect().map(_.toSeq.toVector).toSet
      val prePr = StreamOps.prAsOf(spark, st,
        sys.error("seed fallback must not fire"),
        org.apache.spark.sql.types.LongType, 0L)
      val prePrRows = prePr.collect().map(_.toSeq.toVector).toSet
      val preProbe = IvfSearch.approxTopK(staticVecs,
        StreamOps.grownIvfIndex(spark, idx, st),
        "vec_id", "embedding", k = 3, nprobe = 2)
      val preProbeRows = preProbe.collect().map(_.toSeq.toVector).toSet
      // a stale at-rest fingerprint sits on the artifact volume when
      // window B opens: the window's gc_artifacts step must evict it
      // (keep-newest under the family lock) without perturbing any
      // rolling answer — the readsOf equality below is the proof
      val gcBase = graft.queries.ScaleOps.artifactBase
      Files.createDirectories(gcBase)
      def plantRoot(n: String, at: Long): java.nio.file.Path = {
        val r = gcBase.resolve(n)
        Files.createDirectories(r)
        Files.write(r.resolve("_STATE_OK"), Array.emptyByteArray)
        Files.write(r.resolve("_SERVED"), Array.emptyByteArray)
        Files.setLastModifiedTime(r.resolve("_SERVED"),
          java.nio.file.attribute.FileTime.fromMillis(at))
        r
      }
      val nowMs = System.currentTimeMillis()
      val staleRoot = plantRoot("rehgcx_stalefp", nowMs - 3600 * 1000L)
      val liveRoot = plantRoot("rehgcx_livefp", nowMs)
      StreamOps.maintain(spark, st, landed) // window B
      assert(!Files.exists(staleRoot) && Files.exists(liveRoot),
        "window B's gc step must evict exactly the stale fingerprint")
      graft.sources.Sources.deleteRecursively(liveRoot.toFile)
      assert(preBm.collect().map(_.toSeq.toVector).toSet == preBmRows,
        "bm25 reader resolved before window B answered differently")
      assert(prePr.collect().map(_.toSeq.toVector).toSet == prePrRows,
        "pr reader resolved before window B answered differently")
      assert(preProbe.collect().map(_.toSeq.toVector).toSet == preProbeRows,
        "grown-index probe resolved before window B answered differently")
      StreamOps.deployGatesBatch(waveDf(wave1), cfgX, 1L)
      StreamOps.imageNdBatch(mediaDf(m1), st, 1L)
      StreamOps.audioNdBatch(mediaDf(m1), st, 1L)
      StreamOps.videoNdBatch(mediaDf(m1), st, 1L)
      StreamOps.pagerankEdgesBatch(edgeDf(e1), iters = 2,
        dampPpm = 850000L, st, 1L)
      StreamOps.spanDedupBatch(mediaDf(s1), st, 1L)
      // crash-restart: the whole wave-1 fleet replays (uncommitted
      // batch semantics — dynamic overwrite makes every land idempotent)
      StreamOps.deployGatesBatch(waveDf(wave1), cfgX, 1L)
      StreamOps.imageNdBatch(mediaDf(m1), st, 1L)
      StreamOps.audioNdBatch(mediaDf(m1), st, 1L)
      StreamOps.videoNdBatch(mediaDf(m1), st, 1L)
      StreamOps.pagerankEdgesBatch(edgeDf(e1), iters = 2,
        dampPpm = 850000L, st, 1L)
      StreamOps.spanDedupBatch(mediaDf(s1), st, 1L)
      StreamOps.ivfDeleteBatch(Seq(103L).toDF("id"), st, 2L)
      StreamOps.maintain(spark, st, landed) // window C, post-delete
      StreamOps.reclaimIvfDeleted(spark, st) // physical forget
      assert(readsOf(cfgX) == baseline,
        "chaos-interleaved plant diverged from the clean sequential drive")
    } finally idx.close()
    spark.catalog.clearCache()
  }
}

/** Top-level so MemoryStream's encoder derivation sees a stable type. */
case class StreamDoc(doc_id: Long, text: String)

/** Arriving document for the composed deployment stream: text,
  * provenance, and an embedding in one row. */
case class DeployDoc(doc_id: Long, text: String, source: String,
    lang: String, embedding: Seq[Double])

/** Arriving document's quasi-identifier projection (kAnonPerBatch). */
case class KDoc(source: String, lang: String, n_chars: Long)

/** Arriving vector for the incremental-IVF twin. */
case class StreamVec(vec_id: Long, embedding: Seq[Double])
