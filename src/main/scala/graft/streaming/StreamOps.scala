package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType}

import StateCatalog._

/** Structured Streaming ingestion path over the events stream (north-star
  * extension, SURVEY §2.9/§7.2 phase 7 — the reference has no streaming;
  * these are the `readStream` twins of the oracle-checked batch queries in
  * `queries/EventOps`, sharing shapes so batch results pin the semantics).
  *
  * Every transform here takes a *streaming* DataFrame and stays fully
  * declarative: event-time watermarks bound state, windowed aggregates run
  * with partial aggregation, and state stores shard by the grouping key —
  * the same plan scales from MemoryStream tests to a Kafka-fed cluster
  * with checkpointed exactly-once sinks.
  */
object StreamOps {

  private val Dec = DecimalType(38, 4)

  /** Typed row for the events stream (mirrors events.parquet). */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  /** Session state for [[runningUserTotals]]. */
  case class UserAgg(user_id: Long, n_events: Long, total_value: Double)

  /** File-based streaming source over a directory of event parquet (one
    * file per micro-batch in tests; at scale this is the drop-zone
    * pattern, schema pinned up front as required by readStream), with
    * the same `ts` layout handling as `graft.Tables`. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir, stream = true)

  /** Streaming twin of `EventOps.e1WindowHourly`: tumbling 1-hour counts
    * per event type, 2-hour watermark bounds window state. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec)).cast("double").as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming twin of `EventOps.e2WindowSliding`: 1-hour windows sliding
    * every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Streaming twin of `EventOps.e3Sessionize`: native session windows
    * with a 30-minute inactivity gap; state is per (user, session) and
    * evicted once the watermark passes the gap. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value").cast(Dec)).cast("double").as("sess_value"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"), col("sess_value"))

  /** Streaming twin of `EventOps.e33Ohlc`: per-type hourly OHLC bars.
    * Open/close ride the same composite total-order key (micros ×
    * 10^10 + event_id in DECIMAL(38,0) — exact, collision-free) through
    * `min_by`/`max_by`, which Spark maintains incrementally per window;
    * the watermark bounds bar state to the allowed lateness. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val ord = unix_micros(col("ts")).cast(DecimalType(38, 0)) *
      lit(10000000000L) + col("event_id")
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
  }

  /** Streaming twin of `EventOps.e34IncrementalAgg`: the engine itself
    * maintains the per-key sufficient statistics (n, Σv, Σv², min, max)
    * incrementally across micro-batches — an unwindowed complete-mode
    * aggregate IS the materialized-view maintenance pattern e34 replays
    * by hand, with the state store holding exactly the merge state e34
    * materializes as its base partials. Same DECIMAL interior sums, so
    * after any batch the emitted stats are bit-identical to a full
    * recompute over everything arrived (spec-pinned). */
  def incrementalTypeStats(events: DataFrame): DataFrame = {
    val v4 = col("value").cast(DecimalType(18, 4))
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(Dec)).as("s"),
        sum(v4 * v4).as("s2"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("event_type"), col("n_rows"),
        col("s").cast("double").as("total_value"),
        col("min_value"), col("max_value"),
        round((col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n_rows").cast("double")) /
          col("n_rows").cast("double"), 6).as("var_value"))
  }

  /** Streaming exact dedup on event_id: watermark-bounded state (SURVEY
    * A5/A6's streaming form). Late duplicates beyond the watermark are
    * dropped with their window, so state size is bounded by the delay,
    * not the stream length. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count and value total (the general template for state Spark's
    * built-in aggregates can't express).
    *
    * Pass `GroupStateTimeout.ProcessingTimeTimeout` in production to keep
    * idle-user state evictable — and pair it with a real trigger interval:
    * processing-time timeouts make the engine run empty micro-batches to
    * evaluate them, which with the default as-fast-as-possible trigger
    * degenerates into a busy loop. */
  def runningUserTotals(events: Dataset[Event],
                        timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    val usesTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserAgg, UserAgg](timeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserAgg(uid, n, v)
          state.update(next)
          if (usesTimeout) state.setTimeoutDuration("1 hour")
          next
      }
  }

  /** Per-user funnel progress for [[funnelStages]]: the earliest view,
    * the earliest click strictly after it, the earliest purchase
    * strictly after that. */
  case class FunnelState(t1: Option[Timestamp], t2: Option[Timestamp],
                         t3: Option[Timestamp])

  /** Deepest funnel stage reached (0 = none, 3 = full conversion). */
  case class FunnelOut(user_id: Long, stage: Int)

  /** Streaming twin of e31's ordered funnel (view → click → purchase,
    * each stage strictly after the previous stage's earliest event):
    * a per-user state machine over `mapGroupsWithState`, emitting the
    * user's deepest stage after every batch (Update mode).
    *
    * Each micro-batch's per-user slice is folded in EVENT-TIME order
    * (sorted here; batch boundaries must be time-ordered too), which
    * makes the greedy transitions equal e31's min-based definition:
    * processing in ts order makes "first view" the min view, "first
    * click after t1" the min click > t1, and so on — spec-pinned
    * against the batch query on testdata. The in-order assumption is
    * the standard funnel-tracker posture; late arrivals would need
    * retraction, which Update-mode state cannot express. */
  def funnelStages(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
            e.event_type match {
              case "view" if st.t1.isEmpty =>
                st = st.copy(t1 = Some(e.ts))
              case "click" if st.t2.isEmpty && st.t1.exists(e.ts.after) =>
                st = st.copy(t2 = Some(e.ts))
              case "purchase" if st.t3.isEmpty && st.t2.exists(e.ts.after) =>
                st = st.copy(t3 = Some(e.ts))
              case _ => ()
            }
          }
          state.update(st)
          FunnelOut(uid,
            if (st.t3.isDefined) 3
            else if (st.t2.isDefined) 2
            else if (st.t1.isDefined) 1
            else 0)
      }
  }

  /** Per-user session state for [[completedSessions]]. */
  case class SessionState(start: Timestamp, lastTs: Timestamp,
                          n_events: Long, total_value: Double)

  /** A closed session emitted by [[completedSessions]]. */
  case class SessionOut(user_id: Long, sess_start: Timestamp,
                        n_events: Long, sess_value: Double)

  /** Closed-session emission via flatMapGroupsWithState — the general
    * keyed-state template when one input can emit zero..many outputs
    * (mapGroupsWithState is exactly-one). Sessions buffer per user; a
    * session closes either when a later event arrives past the gap, or
    * when the EVENT-TIME timeout fires (watermark passes lastTs + gap) —
    * so idle users' sessions still flush and their state is evicted,
    * bounded by the watermark delay, never the stream length. */
  def completedSessions(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.n_events, s.total_value))
          } else {
            // micro-batch delivery is unordered within a group; compareTo
            // keeps sub-millisecond order (getTime truncates to millis)
            val evs = batch.toSeq.sortWith { (a, b) =>
              val c = a.ts.compareTo(b.ts)
              c < 0 || (c == 0 && a.event_id < b.event_id)
            }
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.lastTs.getTime <= gapMs =>
                  // a late-but-in-watermark event from an earlier batch can
                  // precede the stored bounds — extend, never rewind (a
                  // plain lastTs = e.ts would move the timeout backwards
                  // and mis-stamp sess_start)
                  val start = if (e.ts.before(s.start)) e.ts else s.start
                  val last = if (e.ts.after(s.lastTs)) e.ts else s.lastTs
                  cur = Some(SessionState(start, last,
                    s.n_events + 1, s.total_value + e.value))
                case Some(s) =>
                  closed += SessionOut(uid, s.start, s.n_events, s.total_value)
                  cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs.getTime + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Per-user open interval for [[scd2Intervals]]. */
  case class ScdState(state: String, validFrom: Timestamp)

  /** A closed SCD2 validity interval emitted by [[scd2Intervals]]. */
  case class ScdOut(user_id: Long, state: String,
                    valid_from: Timestamp, valid_to: Timestamp)

  /** Streaming twin of `EventOps.e17Scd2`'s CLOSED intervals — the
    * changelog→dimension-history transform as it happens: per-user state
    * rides in flatMapGroupsWithState; each state CHANGE closes the
    * previous interval and emits it immediately. The open (current)
    * interval stays in state — an append-mode stream can't retract, so
    * the open row is batch territory (e17's `is_current` rows). State is
    * one (string, timestamp) per user — bounded by |users|, not events.
    * Within a micro-batch events sort by (ts, event_id) like every
    * keyed-state op here; across batches the operator assumes per-user
    * event-time monotonicity (pair with a watermark upstream, or run the
    * batch e17 for out-of-order replays). */
  def scd2Intervals(events: Dataset[Event]): Dataset[ScdOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[ScdState]) =>
          // full-precision order: getTime truncates to millis, and two
          // sub-millisecond-apart events sorted by (millis, id) can invert
          // relative to the batch twin's ORDER BY ts
          val evs = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          val out = Seq.newBuilder[ScdOut]
          var cur = state.getOption
          evs.foreach { e =>
            cur match {
              case Some(s) if s.state != e.event_type =>
                out += ScdOut(uid, s.state, s.validFrom, e.ts)
                cur = Some(ScdState(e.event_type, e.ts))
              case Some(_) => // same state: the open interval continues
              case None => cur = Some(ScdState(e.event_type, e.ts))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class LastType(state: String)
  case class TransitionOut(user_id: Long, src: String, dst: String)

  /** Streaming twin of `EventOps.e22Transitions`'s transition RECORDS:
    * per-user last-event-type rides in flatMapGroupsWithState; each
    * arriving event emits its (src, dst) pair immediately, including
    * across micro-batch boundaries (the state carries the bridge). The
    * |types²| count/probability aggregation is the consumer's streaming
    * groupBy — emitting raw pairs keeps this operator append-mode and its
    * state one string per user. Same in-batch (ts, event_id) full-
    * precision sort and per-user event-time-monotonicity assumption as
    * the other keyed-state ops here. */
  def transitions(events: Dataset[Event]): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastType, TransitionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastType]) =>
          val evs = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          val out = Seq.newBuilder[TransitionOut]
          var prev = state.getOption.map(_.state)
          evs.foreach { e =>
            prev.foreach(p => out += TransitionOut(uid, p, e.event_type))
            prev = Some(e.event_type)
          }
          prev.foreach(p => state.update(LastType(p)))
          out.result().iterator
      }
  }

  /** Space-saving counter table for one window: type → (estimated
    * count, max overestimate error). */
  case class HhState(counters: Map[String, (Long, Long)])
  case class HhOut(window_start: Timestamp, event_type: String,
                   est_count: Long, max_err: Long, rk: Int)

  /** BOUNDED-STATE heavy hitters per event-time window — the streaming
    * twin of e32's per-hour top-k, via the space-saving algorithm
    * (Metwally et al., the classic top-k summary): at most `capacity`
    * counters per open window, regardless of type cardinality. An
    * arriving type not in the table evicts the MINIMUM counter and
    * inherits its count (+1) with that count recorded as the row's max
    * overestimate — the standard guarantees follow (est ≥ true ≥ est −
    * max_err; any type with true count > N/capacity is present). The
    * window's top-k (count desc, type asc) is emitted ONCE, when the
    * event-time timeout fires as the watermark passes window end —
    * append-mode, state evicted. With capacity ≥ per-window distinct
    * types the table is exact and the emission equals the batch e32
    * answer (spec-pinned); undersized tables degrade to the documented
    * overestimate, never silent wrongness. At 100 TB the point is the
    * state bound: exact per-type windowed counts carry |types| state
    * per window, this carries `capacity` — the knob survives
    * unbounded-vocabulary streams (URLs, user-agents, raw tokens). */
  def heavyHittersPerWindow(events: Dataset[Event], capacity: Int,
                            k: Int): Dataset[HhOut] = {
    import events.sparkSession.implicits._
    val windowMs = 3600000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => new Timestamp(
        e.ts.getTime - Math.floorMod(e.ts.getTime, windowMs)))
      .flatMapGroupsWithState[HhState, HhOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (w: Timestamp, batch: Iterator[Event], state: GroupState[HhState]) =>
          if (state.hasTimedOut) {
            val counters = state.get.counters
            state.remove()
            counters.toSeq
              .map { case (t, (c, err)) => (t, c, err) }
              .sortBy { case (t, c, _) => (-c, t) }
              .take(k).zipWithIndex
              .map { case ((t, c, err), i) => HhOut(w, t, c, err, i + 1) }
              .iterator
          } else {
            // same in-batch full-precision sort as the other keyed-state
            // ops: eviction choices depend on arrival order
            val evs = batch.toSeq.sortWith { (a, b) =>
              val c = a.ts.compareTo(b.ts)
              c < 0 || (c == 0 && a.event_id < b.event_id)
            }
            var m = state.getOption.getOrElse(HhState(Map.empty)).counters
            evs.foreach { e =>
              val t = e.event_type
              m.get(t) match {
                case Some((c, err)) => m = m.updated(t, (c + 1L, err))
                case None if m.size < capacity => m = m.updated(t, (1L, 0L))
                case None =>
                  // evict the minimum counter (ties → smallest type, so
                  // replays are deterministic); inherit its count
                  val (mt, (mc, _)) = m.minBy { case (ty, (c, _)) => (c, ty) }
                  m = (m - mt).updated(t, (mc + 1L, mc))
              }
            }
            state.update(HhState(m))
            // emit when the watermark passes this window's close
            state.setTimeoutTimestamp(w.getTime + windowMs)
            Iterator.empty
          }
      }
  }

  case class KmvState(mins: Seq[Long])
  case class KmvOut(lang: String, kc: Int, kth_hash: Long, estimate: Double)

  /** BOUNDED-STATE streaming distinct-count — the streaming twin of m4's
    * [[graft.functions.KMinValues]] KMV sketch: per language, the k
    * smallest distinct portable-hash values of the tokens seen so far
    * (≤ k longs of state per key, ever), with the running
    * `(k−1)·2⁶⁰ / h_k` estimate emitted each batch (Update mode).
    *
    * Unlike the other keyed-state ops there is NO in-batch ordering
    * contract: the sketch is a pure function of the SET of hashes seen,
    * so arrival order, batch boundaries, and restart/replay cannot
    * change the state — after any prefix of batches the state equals the
    * batch aggregate over that prefix's union (spec-pinned). This is the
    * streaming face of the same mergeable-synopsis property that gives
    * the batch aggregate its map-side combine. */
  def kmvDistinctPerLang(docs: DataFrame, k: Int = 64): Dataset[KmvOut] = {
    val ss = docs.sparkSession
    import ss.implicits._
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), graft.operators.PortableHash.hex60(col("term")).as("gh"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, Long)], state: GroupState[KmvState]) =>
          var set = scala.collection.immutable.TreeSet.empty[Long] ++
            state.getOption.map(_.mins).getOrElse(Seq.empty)
          rows.foreach { case (_, gh) =>
            if (set.size < k) set += gh
            else if (gh < set.max && !set.contains(gh)) set = set - set.max + gh
          }
          state.update(KmvState(set.toSeq))
          val kc = set.size
          val kth = if (kc == 0) 0L else set.max
          val est =
            if (kc < k) kc.toDouble
            else (k - 1).toDouble * math.pow(2, 60) / kth.toDouble
          KmvOut(lang, kc, kth, est)
      }
  }

  case class KmvTileOut(window_start: Timestamp, event_type: String,
                        kc: Int, kth_hash: Long, estimate: Double)

  /** BOUNDED-STATE windowed distinct-count tiles — the streaming twin of
    * e36's per-(event_type, hour) KMV sketches, [[kmvDistinctPerLang]]
    * one level down at the dashboard grain: each open tile holds the k
    * smallest distinct user-id hashes (≤ k longs of state per tile,
    * regardless of user cardinality), and the tile's (kc, kth hash,
    * `(k−1)·2⁶⁰ / h_k` estimate) is emitted ONCE when the event-time
    * timeout fires as the watermark passes window end — append-mode,
    * state evicted (the heavyHittersPerWindow protocol). Like the other
    * sketch twins there is NO ordering contract: the sketch is a pure
    * function of the SET of hashes, so batching and replay cannot move
    * the state, and the emitted tile equals the batch e36 sketch columns
    * over the same rows (spec-pinned; the estimate rounds to 4 dp with
    * HALF_UP — the same grid as the batch `round(x, 4)`). At 100 TB this
    * is e36's scale argument live: exact per-tile distinct carries
    * (tile, user) state, this carries tiles·k longs. */
  def kmvUsersPerWindow(events: Dataset[Event], k: Int = 64): Dataset[KmvTileOut] = {
    import events.sparkSession.implicits._
    val windowMs = 3600000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => (e.event_type,
        e.ts.getTime - Math.floorMod(e.ts.getTime, windowMs)))
      .flatMapGroupsWithState[KmvState, KmvTileOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case ((tpe, w), batch, state) =>
          if (state.hasTimedOut) {
            val mins = state.get.mins
            state.remove()
            val kc = mins.size
            val kth = if (kc == 0) 0L else mins.max
            val est =
              if (kc < k) kc.toDouble
              else BigDecimal((k - 1).toDouble * 1152921504606846976.0 / kth.toDouble)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            Iterator(KmvTileOut(new Timestamp(w), tpe, kc, kth, est))
          } else {
            var set = scala.collection.immutable.TreeSet.empty[Long] ++
              state.getOption.map(_.mins).getOrElse(Seq.empty)
            batch.foreach { e =>
              // the user id's decimal string — the same bytes the batch
              // side hashes via hex60(col), so sketches agree bit-for-bit
              val gh = graft.operators.PortableHash.hex60(e.user_id.toString)
              if (set.size < k) set += gh
              else if (gh < set.max && !set.contains(gh)) set = set - set.max + gh
            }
            state.update(KmvState(set.toSeq))
            state.setTimeoutTimestamp(w + windowMs)
            Iterator.empty
          }
      }
  }

  case class CmsState(cells: Seq[Long])
  case class CmsOut(lang: String, total: Long, cells: Seq[Long])

  /** Streaming twin of m6's [[graft.functions.CmsCounts]] Count-Min
    * Sketch: per language, the running d×w counter grid over every
    * token seen so far, with the grid itself emitted each batch (Update
    * mode) so any point frequency is answerable downstream without
    * touching the stream again. State is the FIXED d·w-long grid —
    * 16 KiB per key at the defaults, stream-size-independent, the
    * bounded-state contract shared with the other keyed-state ops.
    *
    * Like [[kmvDistinctPerLang]] there is NO ordering contract: the
    * grid is a sum over the MULTISET of tokens seen, so arrival order,
    * batch boundaries, and restart/replay cannot change the state —
    * after any prefix of batches the grid equals the batch aggregate
    * over that prefix's union (spec-pinned), which is the streaming
    * face of the aggregate's element-wise-addition merge. `total` is
    * the token count (each token adds 1 to each of the d rows). */
  def cmsCountsPerLang(docs: DataFrame, d: Int = 4, w: Int = 512): Dataset[CmsOut] = {
    val ss = docs.sparkSession
    import ss.implicits._
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), graft.operators.PortableHash.hex60(col("term")).as("gh"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CmsState, CmsOut](GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, Long)], state: GroupState[CmsState]) =>
          val cells = state.getOption.map(_.cells.toArray)
            .getOrElse(new Array[Long](d * w))
          rows.foreach { case (_, gh) =>
            var r = 0
            while (r < d) {
              cells(r * w + graft.functions.CmsCounts.bucket(r, gh, w)) += 1
              r += 1
            }
          }
          state.update(CmsState(cells.toSeq))
          CmsOut(lang, cells.sum / d, cells.toSeq)
      }
  }

  case class DriftState(counts: Map[String, Long])
  case class DriftOut(source: String, n_tokens: Long, tv_ppm: Long)

  /** Streaming twin of d40's source-drift audit — the live mixture
    * monitor: per source, the total-variation distance (ppm) between the
    * tokens seen SO FAR and a FROZEN reference distribution
    * (`refMarginal`: term → corpus count, the d40 corpus marginal,
    * driver-derived like the c6 frozen train grams), re-emitted each
    * batch (Update mode). An operator drifting away from the reference
    * mix raises its TV as it streams — the batch d40 localizes drift
    * after the fact; this watches it happen.
    *
    * State per source is the term-count map, bounded by `maxVocab` with
    * a FAIL-FAST on overflow (the honest bounded-state contract: at
    * deployment the reference is capped to top-V terms + a residual
    * bucket and arriving terms outside it fold into the residual; this
    * twin keeps exact terms so the spec can pin equality with the batch
    * computation, and refuses to grow past the declared bound rather
    * than silently degrade). Like the sketch twins there is no ordering
    * contract: counts are a multiset sum, so batching/replay cannot
    * move the state. Division is integer ppm (`div`), matching d40's
    * grid exactly. */
  def sourceDriftPerBatch(docs: DataFrame, refMarginal: Map[String, Long],
                          maxVocab: Int = 4096): Dataset[DriftOut] = {
    val ss = docs.sparkSession
    import ss.implicits._
    require(refMarginal.nonEmpty, "sourceDriftPerBatch needs a non-empty reference")
    val refTotal = refMarginal.values.sum
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[DriftState, DriftOut](GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, String)], state: GroupState[DriftState]) =>
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          rows.foreach { case (_, t) =>
            counts = counts.updated(t, counts.getOrElse(t, 0L) + 1L)
          }
          if (counts.size > maxVocab) {
            throw new IllegalStateException(
              s"source $source exceeded the $maxVocab-term state bound " +
                s"(${counts.size} terms): cap the reference to top-V + residual")
          }
          state.update(DriftState(counts))
          val nTokens = counts.values.sum
          val tv2 = (refMarginal.keySet ++ counts.keySet).toSeq.map { t =>
            val ps = counts.getOrElse(t, 0L) * 1000000L / math.max(nTokens, 1L)
            val pc = refMarginal.getOrElse(t, 0L) * 1000000L / refTotal
            math.abs(ps - pc)
          }.sum
          DriftOut(source, nTokens, tv2 / 2)
      }
  }

  case class CusumState(s: Double)
  case class CusumAlarm(event_type: String, event_id: Long, ts: Timestamp,
                        cusum: Double)

  /** Online CUSUM drift monitor — Page's recursive one-sided statistic
    * S_t = max(0, S_{t−1} + (x_t − k)), the streaming face of the batch
    * e21 offline changepoint query: e21 finds WHERE the shift was after
    * the fact; this raises the alarm AS the shift happens, with one
    * double of state per key. `k` is the reference (allowed) level,
    * `h` the alarm threshold; an alarm row is emitted each time S
    * crosses h, and S resets on alarm (the standard restart rule) so
    * sustained drift re-alarms instead of saturating. In-batch
    * (ts, event_id) full-precision sort, per-key event-time monotonicity
    * across batches — same contract as the other keyed-state ops. */
  def onlineCusum(events: Dataset[Event], k: Double, h: Double): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[Event], state: GroupState[CusumState]) =>
          val evs = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          val out = Seq.newBuilder[CusumAlarm]
          var s = state.getOption.map(_.s).getOrElse(0.0)
          evs.foreach { e =>
            s = math.max(0.0, s + (e.value - k))
            if (s > h) {
              out += CusumAlarm(tpe, e.event_id, e.ts, s)
              s = 0.0
            }
          }
          state.update(CusumState(s))
          out.result().iterator
      }
  }

  /** Stream-stream interval join: correlate two event streams on a key
    * within a bounded event-time window (right event lands in
    * [left.ts, left.ts + maxGap]). Both sides carry watermarks, so each
    * side's join state is evicted once the watermark passes the interval
    * bound — state stays proportional to the delay window, never the
    * stream length. The canonical click→conversion attribution shape.
    *
    * `joinType = "leftOuter"` is the attribution-COMPLETENESS form: a
    * left event with no right match inside its interval is emitted with
    * NULL right columns once the watermark closes the interval (i.e.
    * passes left.ts + maxGap) — unconverted clicks surface instead of
    * silently disappearing, at the cost of that emission waiting out the
    * watermark delay. */
  def correlate(left: DataFrame, right: DataFrame, key: String,
                maxGap: String = "10 minutes",
                watermark: String = "1 hour",
                joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $maxGap"),
      joinType)
      .select(col(s"l.$key").as(key),
        col("l.event_id").as("left_event"), col("r.event_id").as("right_event"),
        col("l.ts").as("left_ts"), col("r.ts").as("right_ts"))
  }

  /** Stream-static enrichment join: events stream × a static dimension
    * (the integration-pipeline shape: facts arrive, dims are slowly
    * changing tables re-read per micro-batch). The static side joins
    * broadcast when small — no stream state involved, so no watermark
    * needed. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Latest right row carried per key for [[asofLatest]]. */
  case class LatestRight(event_id: Long, ts: Timestamp)

  /** A left event enriched with the most recent right event for its key
    * ([[asofLatest]] output); NULL/None right fields when none seen. */
  case class AsofOut(user_id: Long, left_event: Long, left_ts: Timestamp,
                     right_event: Option[Long], right_ts: Option[Timestamp])

  /** Streaming backward as-of ("latest value" enrich): each left event is
    * joined to the newest right event for its key seen so far — the
    * streaming twin of `operators.AsofJoin.asofBackward` (quotes→trades,
    * price→order enrichment). Union both streams, group by key, and keep
    * ONE right row per key in state — state is bounded by |keys|, never
    * the stream length.
    *
    * Ordering contract: within a micro-batch events are sorted by event
    * time (right before left on ties, so an equal-timestamp right row
    * matches — same tie rule as the batch operator); ACROSS micro-batches
    * the enrich is processing-time — a right row arriving in a later
    * batch than a left row it precedes in event time cannot retro-fix the
    * already-emitted output. That is the standard streaming-enrich
    * tradeoff; when batches arrive in event-time order the result equals
    * the batch operator exactly (spec-pinned). */
  def asofLatest(left: Dataset[Event], right: Dataset[Event]): Dataset[AsofOut] = {
    import left.sparkSession.implicits._
    val tagged = left.map(e => (true, e)).union(right.map(e => (false, e)))
    tagged.groupByKey(_._2.user_id)
      .flatMapGroupsWithState[LatestRight, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[(Boolean, Event)], state: GroupState[LatestRight]) =>
          // right rows sort before left rows on equal timestamps
          val evs = batch.toSeq.sortBy { case (isLeft, e) =>
            (e.ts.getTime, isLeft, e.event_id) }
          val out = Seq.newBuilder[AsofOut]
          var latest = state.getOption
          evs.foreach {
            case (false, r) =>
              val newer = latest.forall(lr => r.ts.getTime > lr.ts.getTime ||
                (r.ts.getTime == lr.ts.getTime && r.event_id > lr.event_id))
              if (newer) latest = Some(LatestRight(r.event_id, r.ts))
            case (true, l) =>
              out += AsofOut(uid, l.event_id, l.ts,
                latest.map(_.event_id), latest.map(_.ts))
          }
          latest.foreach(state.update)
          out.result().iterator
      }
  }

  /** The one foreachBatch driver every per-batch face runs through: the
    * body sees each micro-batch as a plain DataFrame with its epoch id.
    * With a `checkpoint` the query restarts where it stopped, and the
    * body's batch_id-partitioned lands make a replayed epoch idempotent. */
  private def eachBatch(docs: DataFrame, checkpoint: Option[String])
      (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = docs.writeStream
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(body).start()
  }

  /** Streaming → ANN composition (foreachBatch): enrich each micro-batch
    * of events with a static (user_id → embedding) dimension, then probe
    * the hyperplane-LSH index for each event's top-k cosine neighbors in
    * the corpus — the streaming-retrieval shape (events arrive, each gets
    * candidates from a large persisted index).
    *
    * foreachBatch is the right seam: the batch inside the lambda is a
    * plain DataFrame, so the UNCHANGED batch ANN operator applies —
    * streaming and batch retrieval share one implementation (and one set
    * of oracle checks). At scale the corpus-side signature table is
    * computed once and persisted/bucketed by (t, sig) outside the query;
    * per batch only the tiny probe side is re-signed and broadcast.
    * Exactly-once delivery into the sink follows from the checkpointed
    * batchId (idempotent overwrite per epoch is the standard pattern). */
  def annPerBatch(events: DataFrame, userEmb: DataFrame, corpus: DataFrame,
                  k: Int, idCol: String = "vec_id", embCol: String = "embedding")
                 (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(events, None) { (batch, batchId) =>
      val probes = enrich(batch, userEmb, "user_id")
        .filter(col(embCol).isNotNull)
        .select(col("event_id").as(idCol), col(embCol))
      sink(graft.operators.AnnSearch.approxTopK(probes, corpus, idCol, embCol, k),
        batchId)
    }

  /** Streaming → decontamination composition (foreachBatch): sweep each
    * arriving micro-batch of documents against a static held-out eval
    * set — the ingest-time gate that keeps benchmark text from ever
    * LANDING in a training corpus, instead of sweeping the corpus after
    * the fact.
    *
    * Same seam as [[annPerBatch]]: the batch inside the lambda is a plain
    * DataFrame, so the UNCHANGED batch operator
    * (`operators.Decontaminate.contamination`) applies and streaming
    * inherits its oracle-checked semantics (c2). The eval side is tiny
    * and broadcast per batch; per-batch cost is one map-side join over
    * the batch's n-grams. The sink receives the per-batch contamination
    * report (clean batches produce an empty frame). */
  def decontaminatePerBatch(docs: DataFrame, evalSet: DataFrame,
                            idCol: String, textCol: String, n: Int = 5)
                           (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, None) { (batch, batchId) =>
      sink(graft.operators.Decontaminate
        .contamination(batch, evalSet, idCol, textCol, n), batchId)
    }

  /** Streaming → near-dup composition (foreachBatch): sweep each arriving
    * micro-batch of documents against the existing corpus with the
    * INCREMENTAL MinHash operator — the ingest-time dedup gate (reject or
    * flag near-dups before they land) that complements the offline
    * c1/d14 cluster sweep.
    *
    * Per batch: the batch's band signatures probe the corpus band table
    * (which a production deployment precomputes, bucketed by (band,
    * sig)) plus a within-batch self-join — never a corpus-internal
    * candidate. The sink receives (id_a, id_b, jaccard) pairs touching
    * the batch. NOTE: batches are swept against the STATIC corpus and
    * within themselves; near-dups BETWEEN two different batches are the
    * compaction pass's job (run nearDuplicatesAgainst over the
    * accumulated deltas offline).
    *
    * `validateDisjoint` (default true) runs the operator's replayed-batch
    * id probe each micro-batch — one pass over the corpus id column.
    * Gates with id discipline established upstream (e.g. ids minted by
    * the stream itself) pass false to drop that per-batch corpus pass. */
  def nearDupPerBatch(docs: DataFrame, corpus: DataFrame,
                      idCol: String, textCol: String, threshold: Double,
                      validateDisjoint: Boolean = true)
                     (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, None) { (batch, batchId) =>
      // release the per-call band-table caches after the sink consumes
      // the result — a long-running stream must not accumulate a pair
      // of caches per batch (and clearing the WHOLE shared cache would
      // nuke caller-owned tables)
      val (pairs, caches) = graft.operators.MinHashDedup
        .nearDuplicatesAgainstWithCaches(corpus, batch, idCol, textCol,
          threshold, validateDisjoint)
      try sink(pairs, batchId)
      finally caches.foreach(_.unpersist())
    }

  /** End-to-end streaming ingest gate — the BASELINE "Structured
    * Streaming for integration" composition as ONE checkpointed query:
    * each arriving micro-batch of documents is
    *
    *   1. near-dup-gated: MinHash-swept against the static corpus AND
    *      within itself (the [[nearDupPerBatch]] operator); a batch doc
    *      paired as the larger id (within-batch: the min-id
    *      representative survives, d14's policy) or paired with a corpus
    *      doc (the corpus always wins) is dropped;
    *   2. decontaminated: survivors sharing any word `n`-gram with the
    *      eval set are dropped (the c2 operator);
    *   3. landed: survivors append to `outPath` as a parquet delta
    *      partitioned by batch_id, written with DYNAMIC partition
    *      overwrite — a batch replayed after a checkpoint restart
    *      rewrites its own partition instead of duplicating it.
    *
    * Exactly-once: the checkpoint makes per-batchId delivery
    * at-least-once, and the partition overwrite makes each delivery
    * idempotent — together exactly-once landed rows, pinned by
    * StreamOpsSpec across a forced restart AND a forced replay. */
  def ingestPipeline(docs: DataFrame, corpus: DataFrame, evalSet: DataFrame,
                     idCol: String, textCol: String, threshold: Double,
                     outPath: String, checkpoint: String, n: Int = 5,
                     validateDisjoint: Boolean = true): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      ingestBatch(batch, corpus, evalSet, idCol, textCol, threshold,
        n, outPath, batchId, validateDisjoint)
    }

  /** One micro-batch of [[ingestPipeline]] — package-visible so the spec
    * can force a REPLAY of an already-committed batchId and assert the
    * landing is idempotent. */
  private[graft] def ingestBatch(batch: DataFrame, corpus: DataFrame,
      evalSet: DataFrame, idCol: String, textCol: String, threshold: Double,
      n: Int, outPath: String, batchId: Long,
      validateDisjoint: Boolean): Unit = {
    val (pairs, caches) = graft.operators.MinHashDedup
      .nearDuplicatesAgainstWithCaches(corpus, batch, idCol, textCol,
        threshold, validateDisjoint)
    try {
      // drop x iff x pairs as the LARGER id (covers within-batch pairs —
      // min-id representative survives — and corpus-vs-batch pairs where
      // the corpus doc holds the smaller id) or as the smaller id against
      // a corpus doc (the corpus wins regardless of id order)
      val corpusIds = corpus.select(col(idCol).as("cid"))
      val drops = pairs.select(col("id_b").as("id"))
        .unionByName(pairs.join(corpusIds, col("id_b") === col("cid"))
          .select(col("id_a").as("id")))
        .distinct()
      val deduped = batch.join(drops, batch(idCol) === drops("id"), "left_anti")
      val contaminated = graft.operators.Decontaminate
        .contamination(deduped, evalSet, idCol, textCol, n)
        .select(col("id"))
      val clean = deduped.join(contaminated,
        deduped(idCol) === contaminated("id"), "left_anti")
      landDelta(clean, outPath, batchId)
    } finally caches.foreach(_.unpersist())
  }

  /** CROSS-BATCH accumulating ingest gate — closes the gap
    * [[ingestPipeline]] leaves open: that pipeline gates each batch
    * against a STATIC corpus plus within itself, so two near-dups
    * arriving in DIFFERENT batches both land. Here every batch also
    * sweeps against the accumulated index of ALL earlier batches' docs,
    * and the sweep's pairs are logged at rest so [[compactLanded]] can
    * retro-drop the one case the arrival order hides (see below).
    *
    * Per batch:
    *   1. build the batch's band/shingle-hash/size rows ONCE
    *      ([[graft.operators.MinHashDedup.sweepAgainstIndex]]);
    *   2. sweep against `staticIndex` ∪ the landed index deltas of
    *      batches `< batchId` — corpus and earlier-batch TEXT is never
    *      re-read or re-shingled; per-batch cost tracks the batch and
    *      the candidate count, not the corpus (the 100 TB requirement);
    *   3. drop a batch doc iff it pairs as the LARGER id (the min-id
    *      representative wins, uniformly across within-batch, corpus,
    *      and earlier-batch partners) or pairs against a STATIC-corpus
    *      doc (the curated corpus always wins, either orientation);
    *   4. decontaminate survivors against `evalSet` (c2's n-gram gate);
    *   5. land survivors, the pair log, and the batch's index delta
    *      (bands/shingles/sizes — for EVERY batch doc, kept or dropped,
    *      because a near-dup of a dropped doc is still a near-dup), each
    *      partitioned by batch_id with dynamic partition overwrite so a
    *      checkpoint replay rewrites its own partitions (idempotent; the
    *      `< batchId` index filter keeps a replayed batch from seeing
    *      its own earlier delta as corpus).
    *
    * The one duplicate class the gate CANNOT catch at arrival time: a
    * later batch delivers the SMALLER id of a near-dup pair whose larger
    * id already landed (min-id policy says the landed doc must go, but
    * it is already at rest). The gate logs that pair; [[compactLanded]]
    * replays the drop policy over the full accumulated log — an anti-join
    * of the landed docs against the (tiny) pair-derived drop list, no
    * re-shingling, no corpus rescan — restoring exactly the one-shot
    * result (spec-pinned; oracle-checked as c9). */
  def ingestPipelineCompact(docs: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      staticCorpusIds: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      outPath: String, statePath: String, checkpoint: String, n: Int = 5)
      : StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      ingestBatchCompact(batch, staticIndex, staticCorpusIds, evalSet,
        idCol, textCol, threshold, n, outPath, statePath, batchId)
    }

  /** The latest landed snapshot of a state table at `path`, selected by
    * the partition directory listing (the [[StateCatalog]] snapshot
    * rule), with its `batch_id` column. For at-rest metric reads over a
    * finished stream's state. */
  private[graft] def latestSnapshot(spark: SparkSession,
      path: String): DataFrame = {
    val last = landedBatches(spark, path).maxOption.getOrElse(
      throw new IllegalStateException(
        s"latestSnapshot: no landed batch_id= partition under $path"))
    spark.read.parquet(path).filter(col("batch_id").cast("long") === last)
  }

  /** The per-batch invariant every versioned rolling index shares: a doc
    * id appearing twice in ONE batch would mix both versions' rows in
    * the same segment — undetectable downstream. Fails loudly instead.
    * `rows` must carry the batch's doc list in an `id` column. */
  private def requireUniqueIds(rows: DataFrame, what: String,
      batchId: Long): Unit = {
    val dup = rows.groupBy(col("id")).agg(count(lit(1)).as("nv"))
      .filter(col("nv") > 1).limit(1).collect()
    if (dup.nonEmpty)
      sys.error(s"$what: doc id ${dup.head.get(0)} appears " +
        s"${dup.head.getLong(1)} times in batch $batchId — a batch may " +
        "carry at most one version of a doc (re-ingest it in a LATER " +
        "batch to supersede)")
  }

  /** Supersede-on-land shared by the versioned rolling indexes (BM25
    * postings, positional postings) — the Lucene delete-bitmap move:
    * each batch doc's previous LIVE version (its largest earlier
    * `docs` row not already tombstoned — exactly one by induction, max
    * kept as a defensive tie-break) dies now: tombstoned in `tombs` as
    * (id, dead_batch), then the batch's own doc rows land in `docs`.
    * Returns the superseded (id, dead_batch[, dead_<payload>…]) frame,
    * payload being `docs`' columns after `id`, for callers that must
    * subtract per-version aggregates (BM25's corpus scalars). The frame
    * is consumed again after the tombstone land and must not lazily
    * re-read state mid-write — checkpointed eagerly. Replay-safe: both
    * lands are batch_id-partitioned dynamic overwrites, and a replayed
    * batch recomputes the same superseded set (its own earlier land is
    * excluded by `batch_id < batchId`). */
  private def supersedeOnLand(spark: SparkSession, idType: DataType,
      docRows: DataFrame, docs: Table, tombs: Table, statePath: String,
      batchId: Long): DataFrame = {
    val payload = docs.schema(idType).fieldNames.toSeq.tail
    // mostly-new-docs fast path: with nothing landed before this batch
    // (the common 100 TB shape — and always wave 0) there is nothing to
    // supersede, so skip the join/checkpoint/tombstone jobs entirely;
    // the per-batch overhead of update support must be ~zero when no
    // doc is updated
    if (!docs.hasData(spark, statePath)) {
      docs.land(docRows, statePath, batchId)
      val dead = docs.schema(idType).fields.tail.foldLeft(tombs.schema(idType)) {
        (st, f) => st.add(s"dead_${f.name}", f.dataType)
      }
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dead)
    }
    val earlier = docs.read(spark, statePath, idType)
      .filter(col("batch_id") < batchId)
    val earlierTombs = tombs.before(spark, statePath, batchId, idType)
    val superseded = earlier
      .join(earlierTombs,
        earlier("id") === earlierTombs("id") &&
          earlier("batch_id") === earlierTombs("dead_batch"), "left_anti")
      .join(docRows.select(col("id")), Seq("id"), "left_semi")
      .groupBy(col("id"))
      .agg(max(struct(col("batch_id") +: payload.map(col): _*)).as("v"))
      .select(col("id") +: col("v.batch_id").as("dead_batch") +:
        payload.map(p => col(s"v.$p").as(s"dead_$p")): _*)
      .localCheckpoint()
    // an all-new batch landed nothing to tombstone — skip the write (a
    // replay recomputes the same empty set, so the skip is idempotent)
    if (superseded.head(1).nonEmpty)
      tombs.land(superseded.select(col("id"), col("dead_batch")),
        statePath, batchId)
    docs.land(docRows, statePath, batchId)
    superseded
  }

  /** The live-rows probe every versioned rolling serve shares: drop any
    * (id, batch_id) named by the tombstone log before aggregation. The
    * log is bounded by re-ingests since the last segment merge, so it
    * broadcasts; with no tombstones landed this is a no-op. */
  private def dropDeadVersions(spark: SparkSession, probed: DataFrame,
      tombLog: Table, statePath: String, asOf: Long): DataFrame =
    if (!tombLog.hasData(spark, statePath)) probed
    else {
      // a tombstone's OWN partition batch_id is the batch that landed the
      // superseding version — time-travel must ignore tombstones from the
      // served point's future (the old version was still live then)
      val tombs = tombLog.through(spark, statePath, asOf,
          probed.schema("id").dataType)
        .select(col("id").as("t_id"), col("dead_batch"))
      probed.join(broadcast(tombs),
        probed("id") === col("t_id") &&
          probed("batch_id").cast("long") === col("dead_batch"),
        "left_anti")
    }

  /** Rows per shuffle partition for the per-wave batch bodies — the
    * [[graft.operators.ConnectedComponents]] discipline (500k edges per
    * partition there) applied to document/vector batches, whose rows
    * carry text or embeddings and so run heavier per row. */
  private val BatchRowsPerPartition = 100000L

  /** At-rest state bytes per shuffle partition — the corpus-side width
    * signal. The narrowed region also shuffles ACCUMULATED state (index
    * deltas, label tables, doclens history), whose size tracks the
    * deployment, not the batch; a small batch against a large at-rest
    * state must not squeeze that state through a handful of tasks. */
  private val StateBytesPerPartition = 64L << 20

  /** Auto-narrowed shuffle width for ONE micro-batch body, sized from
    * the batch's row count AND the at-rest state's byte size (the
    * larger wins — a 500-row batch sweeping against 100 GB of
    * accumulated deltas keeps a state-proportional width). A demo-scale
    * micro-batch otherwise runs every sweep/pair/advance join as
    * session-width stages of near-empty tasks — pure scheduler
    * overhead, measured as the dominant cost of the c14/c17/a5 wave
    * family at sf0.1 — where [[graft.operators.ConnectedComponents]]
    * already adapts its own loop. The narrowed body runs in a
    * [[graft.operators.ShuffleWidth.narrowed]] scope: AQE off (per-
    * shuffle-stage materialize-and-replan costs more than the narrow
    * stages themselves at this size), the scope's JVM lock held, and the
    * width and AQE it found restored on every exit path. Nested
    * narrowing (CC's loop inside a narrowed body) composes: the inner
    * scope restores this one's width. The extra `count()` the callers
    * pay prunes to one column and is noise next to the sweep itself.
    *
    * When the derived width reaches the session width — every at-scale
    * batch — NOTHING is touched and the lock is not taken, so at-scale
    * batches never serialize: width, AQE, and plan behavior are exactly
    * the deployment configuration. That skip decision reads the session
    * width without the lock, so under another thread's concurrent
    * narrow the worst case is a mid-size body that sees the transient
    * width, skips, and runs un-narrowed; a skipped body sets nothing, so
    * it can never pin the session. A deployment running MIXED
    * demo-scale and at-scale streams should still give each stream its
    * own `newSession()` (the standard per-stream-conf idiom): on one
    * shared session an at-scale batch observes a narrowed width for the
    * duration of the other stream's narrowed body. */
  private[graft] def withBatchShuffleWidth[T](spark: SparkSession,
      rows: Long, statePath: String = "")(f: => T): T = {
    val stateBytes = if (statePath.isEmpty) 0L else {
      val p = new org.apache.hadoop.fs.Path(statePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    val want = math.max(rows / BatchRowsPerPartition + 1,
      stateBytes / StateBytesPerPartition + 1)
    // non-numeric session width (some deployments set "auto") → leave
    // the session untouched
    graft.operators.ShuffleWidth.current(spark) match {
      case Some(p) if want < p =>
        graft.operators.ShuffleWidth.narrowed(spark, want)(_ => f)
      case _ => f
    }
  }

  /** The shared ACCUMULATION step behind [[ingestBatchCompact]] and the
    * per-batch audit gates ([[sourceOverlapPerBatch]]): sweep one
    * arriving batch against `staticIndex` ∪ the accumulated index deltas
    * of batches `< batchId`, append the batch's own pair log and index
    * delta to `statePath` (replay-idempotent), and return the
    * MATERIALIZED pair frame (persisted; caller unpersists after use). */
  private[graft] def sweepBatchAccum(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      idCol: String, textCol: String, threshold: Double,
      statePath: String, batchId: Long,
      validateDisjoint: Boolean = true): DataFrame = {
    import graft.operators.MinHashDedup
    val spark = batch.sparkSession
    // the id column keeps the batch's own id type
    val idType = batch.schema(idCol).dataType
    def seen(t: Table) = t.before(spark, statePath, batchId, idType)
    val corpusIndex = MinHashDedup.DedupIndex(
      staticIndex.bands.unionByName(seen(Bands)),
      staticIndex.shingleHashes.unionByName(seen(Shingles)),
      staticIndex.sizes.unionByName(seen(Sizes)))
    graft.operators.JobLabel(spark, s"sweep b=$batchId") {
    val sweep = MinHashDedup.sweepAgainstIndex(corpusIndex, batch,
      idCol, textCol, threshold, validateDisjoint)
    // pairs feed the caller's use AND the at-rest log: persist so the
    // sweep (band probe + Jaccard verify) runs once, not twice — the
    // pair-log write below is the materializing action (no separate
    // count() job; later readers hit the cache)
    val pairs = sweep.pairs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the lands stay SEQUENTIAL even though the paths are independent:
      // each dynamic-overwrite write triggers CacheManager.recacheByPath
      // over shared cached plans (the pairs cache reads these very delta
      // paths), and concurrent recaches of one cache entry corrupt the
      // scan/reader pairing (measured: parallel lands made wave-2 reads
      // throw ParquetFileFormat's partitionValues arity assertion)
      Pairs.land(pairs, statePath, batchId)
      Bands.land(sweep.delta.bands, statePath, batchId)
      Shingles.land(sweep.delta.shingleHashes, statePath, batchId)
      Sizes.land(sweep.delta.sizes, statePath, batchId)
    } finally sweep.caches.foreach(_.unpersist())
    pairs
    }
  }

  /** One micro-batch of [[ingestPipelineCompact]] — package-visible so
    * the spec can force a replay and the c9 oracle query can drive the
    * same code path in batch mode. */
  private[graft] def ingestBatchCompact(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      staticCorpusIds: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, threshold: Double, n: Int,
      outPath: String, statePath: String, batchId: Long,
      validateDisjoint: Boolean = true): Unit =
    withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
    val pairs = sweepBatchAccum(batch, staticIndex, idCol, textCol,
      threshold, statePath, batchId, validateDisjoint)
    try promoteClean(batch, pairs, staticCorpusIds, evalSet, idCol,
      textCol, n, outPath, batchId)
    finally pairs.unpersist()
  }

  /** The PROMOTION tail of [[ingestBatchCompact]] over an already-swept
    * pair frame: drop the batch's near-dup losers (smaller id wins;
    * anything pairing a static-corpus doc always loses), decontaminate
    * against the eval set, land the survivors. Factored out so the
    * composed gate ([[deployGatesBatch]]) feeds it the ONE sweep every
    * text gate shares. */
  private def promoteClean(batch: DataFrame, pairs: DataFrame,
      staticCorpusIds: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      outPath: String, batchId: Long): Unit = {
    val staticIds = staticCorpusIds.select(col(idCol).as("cid"))
    val drops = pairs.select(col("id_b").as("id"))
      .unionByName(pairs.join(staticIds, col("id_b") === col("cid"))
        .select(col("id_a").as("id")))
      .distinct()
    val deduped = batch.join(drops, batch(idCol) === drops("id"), "left_anti")
    val contaminated = graft.operators.Decontaminate
      .contamination(deduped, evalSet, idCol, textCol, n)
      .select(col("id"))
    val clean = deduped.join(contaminated,
      deduped(idCol) === contaminated("id"), "left_anti")
    landDelta(clean, outPath, batchId)
  }

  /** Streaming twin of c7's source-overlap provenance matrix: per
    * micro-batch, the near-dup pairs touching the batch (swept against
    * static corpus ∪ accumulated earlier batches, via the same
    * [[sweepBatchAccum]] state the ingest gate uses) rolled up to
    * normalized (source_a, source_b) counts. Because the accumulated
    * sweep surfaces every pair touching stream docs exactly once — at
    * the later endpoint's batch — the per-batch matrices SUM to the
    * one-shot `nearDuplicatesAgainst(corpus, union)` rollup
    * (spec-pinned). `sources` is the (id, source) provenance dimension
    * covering corpus and stream docs; tiny, so it broadcasts. */
  def sourceOverlapPerBatch(docs: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      sources: DataFrame, idCol: String, textCol: String,
      threshold: Double, statePath: String, checkpoint: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
        val pairs = sweepBatchAccum(batch, staticIndex, idCol, textCol,
          threshold, statePath, batchId)
        try sink(rollupSourcePairs(pairs, sources, idCol), batchId)
        finally pairs.unpersist()
      }
    }

  /** c7's rollup shape over an arbitrary pair frame. */
  private[graft] def rollupSourcePairs(pairs: DataFrame, sources: DataFrame,
                                       idCol: String): DataFrame =
    pairs
      .join(broadcast(sources.select(col(idCol).as("id_a"),
        col("source").as("sa"))), "id_a")
      .join(broadcast(sources.select(col(idCol).as("id_b"),
        col("source").as("sb"))), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** ROLLING connected components over the ingest stream — the third
    * member of the incremental trio (index-delta dedup: [[
    * ingestPipelineCompact]]; incremental ANN assignment:
    * [[ivfAssignPerBatch]]) running INSIDE the same wave protocol:
    * each micro-batch is swept against static index ∪ accumulated
    * earlier deltas ([[sweepBatchAccum]] — corpus and earlier-batch text
    * never re-shingled), and the wave's near-dup pairs advance the
    * cluster labels by [[graft.operators.ConnectedComponents
    * .incrementalStep]]'s star-collapse. Per batch the CC pass touches
    * |labeled docs| star rows + the batch's pairs, never the accumulated
    * pair history — and the emitted labels equal a from-scratch
    * clustering of everything arrived (the c13/c14 identity,
    * oracle-checked as c14).
    *
    * Label state is the `labels` snapshot ([[StateCatalog]]: the full
    * table per batch — the star set IS the CC state, so landing it is
    * the checkpoint; at rest 2·|labels| rows however many waves run).
    * `seedLabels` (id, component) carries the at-rest labels a previous
    * full run produced over the static corpus — pass an empty frame for
    * a cold start. The sink receives the post-batch label table. */
  def rollingCcPerBatch(docs: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      seedLabels: DataFrame, idCol: String, textCol: String,
      threshold: Double, statePath: String, checkpoint: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      sink(rollingCcBatch(batch, staticIndex, seedLabels, idCol, textCol,
        threshold, statePath, batchId), batchId)
    }

  /** The rolling CC label table AS OF a batch frontier (inclusive): which
    * docs were clustered together when batch `asOf` was the frontier —
    * the `labels` snapshot's as-of read ([[StateCatalog]]). */
  def labelsAsOf(spark: SparkSession, statePath: String,
      seedLabels: => DataFrame, idType: DataType, asOf: Long): DataFrame =
    Labels.asOf(spark, statePath, asOf, idType, seedLabels)

  /** One micro-batch of [[rollingCcPerBatch]] — package-visible so the
    * spec can force a replay and c14 can drive the same code path in
    * batch mode (the c9/ingestBatchCompact precedent). Returns the
    * post-batch label table, localCheckpointed: the caller reads
    * MATERIALIZED labels — stacking each wave's CC-loop plan on the
    * last would grow the logical plan exponentially in waves. */
  private[graft] def rollingCcBatch(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      seedLabels: DataFrame, idCol: String, textCol: String,
      threshold: Double, statePath: String, batchId: Long,
      validateDisjoint: Boolean = true): DataFrame =
    withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
      rollingCcBatchFrom(batch, staticIndex,
        Labels.latest(batch.sparkSession, statePath, batchId,
          batch.schema(idCol).dataType, seedLabels),
        idCol, textCol, threshold, statePath, batchId, validateDisjoint)
    }

  /** [[rollingCcBatch]] with the pre-advance labels already in hand —
    * the composed rep path passes the table it needed anyway. */
  private def rollingCcBatchFrom(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      prev: DataFrame, idCol: String, textCol: String,
      threshold: Double, statePath: String, batchId: Long,
      validateDisjoint: Boolean): DataFrame = {
    val pairs = sweepBatchAccum(batch, staticIndex, idCol, textCol,
      threshold, statePath, batchId, validateDisjoint)
    try ccAdvance(prev, pairs, statePath, batchId)
    finally pairs.unpersist()
  }

  /** The label ADVANCE half of [[rollingCcBatchFrom]] over an
    * already-swept pair frame — star-collapse the previous labels with
    * the wave's pairs, land the snapshot, prune superseded ones.
    * Factored out so the composed gate reuses the one shared sweep. */
  private def ccAdvance(prev: DataFrame, pairs: DataFrame,
      statePath: String, batchId: Long): DataFrame = {
    // the releasing variant: each micro-batch unpersists the caches its
    // CC pass created (the non-releasing form leaks ~2 CacheManager
    // entries per batch in a continuous stream). The localCheckpoint
    // INSIDE the callback is eager, so the labels are materialized
    // before the caches are released — and pairs right after.
    // (r20 note: a land-then-read-back variant — land the snapshot as
    // the materializing action and return a reader over the landed
    // partition — was measured and REVERTED: the write's recacheByPath
    // over the just-read state path races the family's partitioned
    // readers and intermittently threw ParquetFileFormat's
    // partitionValues arity assertion at sf0.1.)
    val labels = graft.operators.JobLabel(pairs.sparkSession,
      s"cc-advance b=$batchId") {
      graft.operators.ConnectedComponents
        .incrementalStepWith(prev, pairs)(_.localCheckpoint())
    }
    Labels.land(labels, statePath, batchId)
    labels
  }

  /** The per-cluster representative state c16's from-scratch selection
    * computes, as a MERGEABLE aggregate over a label table: per
    * component — member count, exact quality sum, and the best member
    * by (q_e6 desc, id asc). Every field is a monoid (sum, sum, max of
    * (q_e6, −id)), which is what lets [[rollingRepBatch]] maintain it
    * incrementally across waves instead of rescanning members. `scores`
    * is the at-rest per-document quality table (id, q_e6) — d3's score
    * landed once, the way a curation pipeline stores it. */
  def repStateOf(labels: DataFrame, scores: DataFrame): DataFrame =
    labels.join(scores, "id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_e6")).as("q_sum"),
        // (q_e6 desc, id asc) argmax as ONE min aggregate: negate the
        // always-numeric score, never the id — ids stay generic (string
        // ids order lexicographically; negating them would null out)
        min(struct((-col("q_e6")).as("nq"), col("id").as("bd"))).as("b"))
      .select(col("component"), col("n_docs"), col("q_sum"),
        (-col("b.nq")).as("best_q_e6"), col("b.bd").as("best_doc"))

  /** Streaming face of [[rollingRepBatch]] — label advance AND c16-shaped
    * representative maintenance per micro-batch, the deployment wrapper
    * c17 drives in batch mode (the rollingCcPerBatch precedent). The
    * sink receives (labels, state) after each wave. */
  def rollingRepPerBatch(docs: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      seedLabels: DataFrame, seedState: DataFrame, scores: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      statePath: String, checkpoint: String)
      (sink: (DataFrame, DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      val (labels, state) = rollingRepBatch(batch, staticIndex,
        seedLabels, seedState, scores, idCol, textCol, threshold,
        statePath, batchId)
      sink(labels, state, batchId)
    }

  /** One micro-batch of ROLLING representative maintenance — c16's
    * quality-based representative selection kept current ACROSS
    * [[rollingCcBatch]]'s waves in bounded state: advance the labels as
    * usual, then advance the |clusters|-row representative state by its
    * monoid — previous state rows re-key through the new label table
    * (an old component id is itself a member, so its new label IS the
    * merge target; merged clusters' states meet in the group-by and
    * their sums/maxes combine), and members entering the label table
    * this wave contribute their singleton state from the at-rest
    * `scores` table. Per-wave cost: |state| + |new members| rows joined
    * against the |labels| table — never a member rescan, never pair
    * history. State is the `rep` snapshot ([[StateCatalog]]). Returns
    * (labels, state), both localCheckpointed. */
  private[graft] def rollingRepBatch(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      seedLabels: DataFrame, seedState: DataFrame, scores: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      statePath: String, batchId: Long,
      validateDisjoint: Boolean = true): (DataFrame, DataFrame) =
    withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
    val spark = batch.sparkSession
    val idType = batch.schema(idCol).dataType
    // the PRE-advance label table — read ONCE and passed through to the
    // CC advance (it is the same table rollingCcBatch would re-read)
    val prevLabels = Labels.latest(spark, statePath, batchId, idType, seedLabels)
    val prevState = Rep.latest(spark, statePath, batchId, idType, seedState)
    val labels = rollingCcBatchFrom(batch, staticIndex, prevLabels, idCol,
      textCol, threshold, statePath, batchId, validateDisjoint)
    (labels, repAdvance(labels, prevLabels, prevState, scores, idType,
      statePath, batchId))
  }

  /** [[labelsAsOf]] for the representative monoid state (`rep`). */
  def repAsOf(spark: SparkSession, statePath: String,
      seedState: => DataFrame, idType: DataType, asOf: Long): DataFrame =
    Rep.asOf(spark, statePath, asOf, idType, seedState)

  /** The representative-state ADVANCE half of [[rollingRepBatch]] given
    * the post-advance labels — the |state|-row monoid merge. Factored
    * out so the composed gate reuses the one shared CC advance. */
  private def repAdvance(labels: DataFrame, prevLabels: DataFrame,
      prevState: DataFrame, scores: DataFrame, idType: DataType,
      statePath: String, batchId: Long): DataFrame = {
    val spark = labels.sparkSession
    // re-key: an old component id c is itself a member of the new label
    // table, so labels[c].component is where c's state now lives (c kept
    // its label, or the wave merged it into a smaller id). LEFT join +
    // raise_error, not an inner join: the invariant holds for state this
    // module produced (components() only emits >=2-member clusters, and
    // star-collapse never forgets a labeled vertex), but a
    // caller-supplied seedState carrying a component absent from the new
    // label table (a singleton, or any future label-table change) would
    // under an inner join silently DROP that cluster's n_docs/q_sum mass
    // — the same divergence the fresh path below guards loudly.
    val rekeyed = prevState.withColumnRenamed("component", "oc")
      .join(labels.select(col("id").as("oc"),
        col("component").as("nc")), Seq("oc"), "left")
      .withColumn("component",
        when(col("nc").isNotNull, col("nc")).otherwise(expr(
          "raise_error('rollingRepBatch: previous-state component missing " +
            "from the new label table — its cluster mass would be dropped')")
          .cast(idType)))
      .select(col("component"), col("n_docs"), col("q_sum"),
        col("best_q_e6"), col("best_doc"))
    // singleton contributions of members ENTERING the label table this
    // wave (wave docs that paired, and corpus docs first touched by one).
    // A member MISSING from the at-rest score table fails loudly
    // (codegen'd raise_error, zero cost unless triggered) — an inner
    // join would silently drop it from n_docs/q_sum and the state would
    // diverge from c16's from-scratch answer without an error.
    val fresh = labels
      .join(prevLabels.select(col("id")), Seq("id"), "left_anti")
      .join(scores, Seq("id"), "left")
      .withColumn("q_e6",
        when(col("q_e6").isNotNull, col("q_e6").cast("long")).otherwise(expr(
          "raise_error('rollingRepBatch: label member missing from the scores table')")
          .cast("long")))
      .select(col("component"), lit(1L).as("n_docs"),
        col("q_e6").as("q_sum"),
        col("q_e6").as("best_q_e6"), col("id").as("best_doc"))
    val state = graft.operators.JobLabel(spark, s"rep-advance b=$batchId") {
      rekeyed.unionByName(fresh)
        .groupBy(col("component"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("q_sum")).as("q_sum"),
          // same id-generic (q desc, id asc) argmax as [[repStateOf]]
          min(struct((-col("best_q_e6")).as("nq"),
            col("best_doc").as("bd"))).as("b"))
        .select(col("component"), col("n_docs"), col("q_sum"),
          (-col("b.nq")).as("best_q_e6"), col("b.bd").as("best_doc"))
        .localCheckpoint() // eager — same plan-stacking trap as the labels
    }
    Rep.land(state, statePath, batchId)
    state
  }

  /** The integer-ppm PageRank advance (g1's iteration, factored pure):
    * `iters` warm-started iterations over a SYMMETRIC edge list. `prev`
    * carries (id, pr) from the previous frontier; vertices of `sym`
    * absent from it enter at the 1_000_000 ppm init. Exactness is g1's
    * discipline — per-edge contributions floor once (`pr div deg`),
    * integer sums are order-free, damping floors once per iteration —
    * so the warm-started chain lands on identical longs in both
    * engines. Scale shape per iteration: one equi-join on the edge list
    * (hash-partitioned on src) + one dst-keyed aggregate — O(|E|)
    * shuffle bytes, the CC discipline. Shared by [[pagerankEdgesBatch]]
    * and its batch twin in the spec. */
  private[graft] def pagerankAdvance(prev: DataFrame, sym: DataFrame,
      iters: Int, dampPpm: Long): DataFrame = {
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    var pr = deg.select(col("src").as("id"))
      .join(prev.select(col("id"), col("pr").as("ppr")), Seq("id"), "left")
      .select(col("id"), coalesce(col("ppr"), lit(1000000L)).as("pr"))
    (1 to iters).foreach { _ =>
      val contrib = sym.join(pr, sym("src") === pr("id"))
        .join(deg, "src")
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      pr = deg.select(col("src").as("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          expr(s"150000 + ($dampPpm * coalesce(c, 0)) div 1000000").as("pr"))
    }
    pr
  }

  /** One micro-batch of ROLLING integer-grid PageRank — g1's graph
    * ranking kept current across ingest waves: the wave's symmetric
    * edge delta appends to the `pr_edges` log, and the scores advance by
    * [[pagerankAdvance]] — warm-started from the PREVIOUS frontier's
    * landed score snapshot over the ACCUMULATED edges — then land as the
    * `pr` snapshot ([[prAsOf]] time-travels them). Warm-starting is the incremental point: a
    * from-scratch ranking pays its full iteration budget per refresh;
    * the rolling one spends `iters` per wave and carries convergence
    * forward in the landed scores — the answer is a pure function of
    * the delta HISTORY (spec-pinned against the batch twin), so the
    * oracle replays the same warm-started chain per frontier. */
  private[graft] def pagerankEdgesBatch(symDelta: DataFrame,
      iters: Int, dampPpm: Long, statePath: String,
      batchId: Long): DataFrame = {
    val spark = symDelta.sparkSession
    // eager checkpoint: the caller's delta derivation (a union+distinct
    // shuffle in pagerankBatch) runs ONCE — the width gate's count and
    // the edge land both read the materialized rows
    val delta = symDelta.localCheckpoint()
    withBatchShuffleWidth(spark, delta.count(), statePath) {
      val idType = delta.schema("src").dataType
      PrEdges.land(delta, statePath, batchId)
      // the frontier's full edge list: <= batchId so a checkpoint replay
      // never sees a LATER wave's edges; the eager checkpoint keeps the
      // per-iteration plans flat (the CC plan-growth rule)
      val sym = PrEdges.through(spark, statePath, batchId, idType)
        .drop("batch_id").localCheckpoint()
      // cold start seeds EMPTY (not a caller frame): every vertex of the
      // first frontier enters at the uniform init inside the advance
      val prev = Pr.latest(spark, statePath, batchId, idType,
        Pr.empty(spark, idType))
      val pr = pagerankAdvance(prev, sym, iters, dampPpm).localCheckpoint()
      Pr.land(pr, statePath, batchId)
      pr
    }
  }

  /** [[pagerankEdgesBatch]] driven by the near-dup sweep: ONE
    * [[sweepBatchAccum]] probe of the static index ∪ earlier deltas
    * derives the wave's pair set (the ingest gate's own sweep — never a
    * per-wave re-shingle of the corpus), and `extraPairs` lets the
    * cold-start wave land the static corpus's INTERNAL pair set
    * alongside wave 0's arrivals (the frontier-0 edge set includes
    * corpus-internal edges — the c20 arrival-filter convention). */
  private[graft] def pagerankBatch(batch: DataFrame,
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      extraPairs: DataFrame, idCol: String, textCol: String,
      threshold: Double, iters: Int, dampPpm: Long,
      statePath: String, batchId: Long,
      validateDisjoint: Boolean = true): DataFrame = {
    val pairs = sweepBatchAccum(batch, staticIndex, idCol, textCol,
      threshold, statePath, batchId, validateDisjoint)
    try {
      val delta = pairs.select(col("id_a"), col("id_b"))
        .unionByName(extraPairs.select(col("id_a"), col("id_b")))
      val symDelta = delta
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(delta.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
      pagerankEdgesBatch(symDelta, iters, dampPpm, statePath, batchId)
    } finally pairs.unpersist()
  }

  /** [[labelsAsOf]] for the rolling PageRank scores (`pr`). */
  def prAsOf(spark: SparkSession, statePath: String,
      seedScores: => DataFrame, idType: DataType, asOf: Long): DataFrame =
    Pr.asOf(spark, statePath, asOf, idType, seedScores)

  /** ROLLING image near-dup — dedup's media crossing in CONTINUOUS form
    * (mm10/mm14's banded dHash sweep as a stream): per micro-batch, ONLY
    * the batch renders and PNG-round-trips (landed documents are never
    * re-decoded — their banded fingerprints ARE the accumulated state);
    * the batch sweeps against landed ∪ itself through the banding
    * pigeonhole (exact at Hamming ≤ 4 — [[graft.multimodal.MediaOps
    * .ndSweepBatch]]); and two append-only deltas land batch_id-
    * partitioned (dynamic overwrite, replay-idempotent): the discovered
    * pairs — each found exactly ONCE, at its later endpoint's wave, so
    * the per-wave logs sum to mm10's one-shot answer (spec-pinned) —
    * and the batch's band rows. At-rest growth is bounded by
    * [[maintain]]'s compaction (img_fp / img_nd in the merge list).
    * Returns the wave's pair delta.
    *
    * [[audioNdBatch]] is the same protocol over mm11's energy-contour
    * fingerprints (aud_fp / aud_nd) — one copy of the land/sweep body
    * ([[mediaNdBatch]]); the fingerprint function is the only
    * per-modality difference, exactly as in the at-rest gates. */
  private[graft] def imageNdBatch(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame =
    mediaNdBatch(batch, statePath, batchId,
      graft.multimodal.MediaOps.imageBandRows, ImgFp, ImgNd)

  /** [[imageNdBatch]] for the AUDIO modality: mm11's banded
    * energy-contour fingerprints, same exactly-once sweep identity. */
  private[graft] def audioNdBatch(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame =
    mediaNdBatch(batch, statePath, batchId,
      graft.multimodal.MediaOps.audioBandRows, AudFp, AudNd)

  /** [[imageNdBatch]] for the VIDEO modality: mm18's banded
    * frame-luma-contour fingerprints, same exactly-once sweep identity. */
  private[graft] def videoNdBatch(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame =
    mediaNdBatch(batch, statePath, batchId,
      graft.multimodal.MediaOps.videoBandRows, VidFp, VidNd)

  private def mediaNdBatch(batch: DataFrame, statePath: String,
      batchId: Long,
      bandRows: org.apache.spark.sql.Dataset[(Long, String)] => DataFrame,
      fp: Table, nd: Table): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bands = bandRows(
        batch.select(col("doc_id"), col("text")).as[(Long, String)])
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // decode ONCE: the eager count materializes the codec round-trip
    // before the sweep's two join sides race the cache (the ndPairs rule)
    val n = bands.count()
    withBatchShuffleWidth(spark, n, statePath) {
      try {
        // replay guard: a re-run batch must not see its own landed bands
        // (its docs would cross-match themselves)
        val landed = fp.before(spark, statePath, batchId)
        // a CROSS-batch re-arrival would also self-match (doc_a ==
        // doc_b) and re-discover its old pairs, silently breaking the
        // exactly-once pair-log identity — fail loudly instead (the
        // requireDisjointIds convention; supersede-on-land is the
        // versioned ingest families' job, not this fingerprint log's)
        val clash = landed.select(col("doc_id")).distinct()
          .join(bands.select(col("doc_id")).distinct(), Seq("doc_id"))
          .limit(1).count()
        require(clash == 0L,
          s"mediaNdBatch: batch $batchId contains doc ids already landed " +
            s"under ${fp.dir(statePath)} — re-ingest would corrupt the " +
            "exactly-once pair log; dedup ids upstream")
        // eager checkpoint: the pair land below and the caller's read
        // both consume the sweep exactly once
        // n (the already-materialized band-row count) gates the sweep's
        // broadcast: an over-sized backfill wave must not force an
        // unbounded driver broadcast (ndSweepBatch falls back to the
        // shuffled band equi-join above its row bound)
        val pairs = graft.multimodal.MediaOps.ndSweepBatch(landed, bands, n)
          .localCheckpoint()
        nd.land(pairs, statePath, batchId)
        fp.land(bands, statePath, batchId)
        pairs
      } finally bands.unpersist()
    }
  }

  /** The STREAMING form of the rolling image near-dup family: a
    * checkpointed foreachBatch over a (doc_id, text) stream — replay of
    * an uncommitted batch rewrites its own batch_id partitions
    * (the land's dynamic overwrite) and re-derives the same pairs
    * (the landed state it sweeps against excludes its own wave), so the
    * pair log is exactly-once under restart. [[audioNdPerBatch]] is the
    * audio twin. */
  def imageNdPerBatch(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      imageNdBatch(batch, statePath, batchId); ()
    }

  /** [[imageNdPerBatch]] for the audio modality. */
  def audioNdPerBatch(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      audioNdBatch(batch, statePath, batchId); ()
    }

  /** The image near-dup pair log AS OF a wave: every pair discovered by
    * batches ≤ `asOf` — an append-only delta read (partition-pruned on
    * batch_id), not a snapshot pick, because a discovered pair is an
    * immutable fact stamped at its discovery wave (nothing supersedes
    * it; retention is compaction, which preserves every row). */
  def imageNdAsOf(spark: SparkSession, statePath: String, asOf: Long): DataFrame =
    ImgNd.through(spark, statePath, asOf).drop("batch_id")

  /** [[imageNdAsOf]] for the audio pair log. */
  def audioNdAsOf(spark: SparkSession, statePath: String, asOf: Long): DataFrame =
    AudNd.through(spark, statePath, asOf).drop("batch_id")

  /** [[imageNdAsOf]] for the video pair log. */
  def videoNdAsOf(spark: SparkSession, statePath: String, asOf: Long): DataFrame =
    VidNd.through(spark, statePath, asOf).drop("batch_id")

  /** The d48 span length the rolling family fixes — one authority with
    * the batch operator ([[graft.queries.TextOps.D48MinLen]]), so the
    * rolling/one-shot equality can never desynchronize on L. */
  private val SpanMinLen: Int = graft.queries.TextOps.D48MinLen

  /** Distinct gram-key count above which [[spanDedupBatch]] stops
    * broadcasting the batch's key probe: keys are bare 8-byte longs
    * (8M ≈ 64 MB serialized plus hash-set overhead), so this bound is
    * key-sized — NOT [[graft.multimodal.MediaOps
    * .NdSweepBroadcastMaxRows]], which was calibrated for ~100 B band
    * rows and counts the wrong side. Past it, the shuffled equi-join
    * repartitions the landed log — correct, just no longer free. */
  private val SpanProbeBroadcastMaxKeys = 8L << 20

  /** ROLLING exact-substring span dedup — d48 as a stream (the 14th
    * rolling family): per micro-batch, ONLY the batch builds positional
    * gram hashes; the landed gram log is probed ONLY on the batch's own
    * gram keys (broadcast under [[SpanProbeBroadcastMaxKeys]]'s
    * key-sized bound, shuffled equi-join above);
    * and the newly-COVERED occurrences land as an append-only event
    * delta. The exactly-once identity is gram-level and RETROACTIVE: a
    * gram hash crosses the ≥2-distinct-docs threshold exactly once
    * (ids are append-only), and at that wave BOTH the arriving and the
    * already-landed occurrences of that hash emit — so the event log as
    * of any frontier merges ([[graft.operators.SpanDedup
    * .mergedSpanLens]]) to exactly the one-shot d48 coverage over the
    * documents arrived by that frontier (spec-pinned per frontier).
    * State: `span_grams` (the positional gram log), `span_events`, and
    * `span_doclens` (the arrived-document universe — 1 row per doc, the
    * serving schema's n_tokens side), all batch_id-partitioned,
    * replay-idempotent (dynamic overwrite), compacted by [[maintain]].
    * Returns the wave's event delta.
    *
    * Per-wave cost, honestly: the key probe is one SHUFFLE-FREE
    * columnar scan of the landed gram log (broadcast hash filter — the
    * log itself never repartitions), so a wave costs O(log bytes) I/O
    * plus batch-sized compute; amortized over any maintenance interval
    * that is the same I/O as re-running the one-shot d48 once per
    * interval, with the retroactive answers available continuously
    * instead. The log's FILE count is bounded by [[maintain]]'s
    * compaction — the same posture as [[mediaNdBatch]]'s fingerprint
    * scan, scaled to a token-sized log. */
  private[graft] def spanDedupBatch(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val grams = graft.operators.SpanDedup
      .posGramHashes(batch.select(col("doc_id"), col("text")),
        "doc_id", "text", SpanMinLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = grams.count() // materialize ONCE: key probe + counts + events
    withBatchShuffleWidth(spark, n, statePath) {
      try {
        // replay guard: a re-run batch must not see its own landed grams
        val landed = SpanGrams.before(spark, statePath, batchId)
        // a cross-batch re-arrival would double-count its doc in the
        // distinct-doc threshold and re-emit its events — fail loudly
        // (the mediaNdBatch convention). Guard cost: one scan of the
        // landed log against the BROADCAST batch-id set with a 1-row
        // limit — never a distinct-aggregate of the token-sized log
        val clash = landed
          .join(broadcast(grams.select(col("id")).distinct()),
            Seq("id"), "left_semi")
          .limit(1).count()
        require(clash == 0L,
          s"spanDedupBatch: batch $batchId contains doc ids already landed " +
            s"under ${SpanGrams.dir(statePath)} — re-ingest would corrupt the " +
            "exactly-once event log; dedup ids upstream")
        // landed occurrences of THIS batch's gram keys only — the probe
        // broadcasts while key-bounded ([[SpanProbeBroadcastMaxKeys]] —
        // gated on the DISTINCT key count actually shipped, cheap off
        // the cached grams), never past the bound
        val keys = grams.select(col("gh")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val probe =
          if (keys.count() <= SpanProbeBroadcastMaxKeys) broadcast(keys)
          else keys
        val hit = landed.join(probe, Seq("gh"), "left_semi")
          .localCheckpoint() // bounded by the batch keys' document freq
        keys.unpersist() // hit is pinned — the probe side is done
        val st = grams.groupBy(col("gh"))
          .agg(countDistinct(col("id")).as("n_new"))
          .join(hit.groupBy(col("gh"))
            .agg(countDistinct(col("id")).as("n_old")), Seq("gh"), "left")
          .select(col("gh"), coalesce(col("n_old"), lit(0L)).as("n_old"),
            col("n_new"))
        // ids are disjoint (the clash guard), so old+new IS the distinct
        // doc count; a hash crosses 2 at most once — exactly-once events
        val dupNow = st.filter(col("n_old") + col("n_new") >= 2)
          .select(col("gh"))
        val newly = st.filter(col("n_old") < 2 &&
            col("n_old") + col("n_new") >= 2)
          .select(col("gh"))
        val events = grams.join(dupNow, Seq("gh"), "left_semi")
          .select(col("id"), col("pos"))
          .unionByName(hit.join(newly, Seq("gh"), "left_semi")
            .select(col("id"), col("pos")))
          .localCheckpoint() // the land below and the caller's read
        SpanEvents.land(events, statePath, batchId)
        SpanGrams.land(grams, statePath, batchId)
        // the arrived-document universe (1 row per doc PER BATCH): what
        // lets spansAsOf serve the one-shot d48 schema — zero-coverage
        // and shorter-than-L documents included — without a corpus join.
        // Gram-producing re-arrivals fail the clash guard above; a
        // gram-FREE doc re-arriving across batches lands two rows here,
        // which spansAsOf collapses (min-batch wins) at serve time
        SpanDoclens.land(batch.select(col("doc_id").as("id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          statePath, batchId)
        events
      } finally grams.unpersist()
    }
  }

  /** The checkpointed streaming form of [[spanDedupBatch]] — replay of
    * an uncommitted batch rewrites its own partitions and re-derives
    * the same events (its landed grams are excluded from its own
    * sweep), so the event log is exactly-once under restart. */
  def spanDedupPerBatch(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      spanDedupBatch(batch, statePath, batchId); ()
    }

  /** Per-document copied-span coverage AS OF a wave, in the ONE-SHOT
    * d48 SCHEMA: (doc_id, n_tokens, n_spans, covered_tokens,
    * longest_span, copied_ppm), EVERY document arrived by the frontier
    * present (zero coverage reports zeros) — equals the one-shot
    * [[graft.operators.SpanDedup.spanProfile]] over the documents
    * arrived by that frontier, column for column (spec-pinned), so a
    * reader can switch between the batch and rolling serve surfaces
    * without a schema shim. The arrived-document universe comes from
    * the `span_doclens` delta each wave lands (1 row per doc — the
    * cheapest state in the family); events are immutable facts stamped
    * at their discovery wave (the media pair-log rule), so both sides
    * are partition-pruned delta reads, never a snapshot pick. */
  def spansAsOf(spark: SparkSession, statePath: String,
      asOf: Long = Long.MaxValue): DataFrame = {
    val events = SpanEvents.through(spark, statePath, asOf)
      .select(col("id"), col("pos"))
    val perDoc = graft.operators.SpanDedup.mergedSpanLens(events, SpanMinLen)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("len")).as("covered_tokens"),
        max(col("len")).as("longest_span"))
    // one universe row per doc even if a doc id ever lands doclens rows
    // in two waves: the gram-side clash guard only sees docs that PRODUCE
    // grams, so a shorter-than-L doc re-arriving across batches would
    // slip it and duplicate here — keep the first arrival's row (min
    // batch), matching the event log's exactly-once discovery stamps
    SpanDoclens.through(spark, statePath, asOf)
      .groupBy(col("id").as("doc_id"))
      .agg(min_by(col("n_tokens"), col("batch_id"))
        .as("n_tokens"))
      .join(perDoc, col("doc_id") === perDoc("id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .withColumn("copied_ppm",
        expr("(1000000 * covered_tokens) div n_tokens"))
  }

  /** Streaming maintenance of the k6 BM25 inverted index — the Lucene
    * segment model expressed as delta partitions: each arriving batch
    * lands its postings (term, id, dli, tf) under
    * `batch_id=<b>/shard=<hex60(term) mod shards>` (dynamic overwrite —
    * a checkpoint replay rewrites its own batch, and probes still
    * partition-prune to the query terms' shards across every segment),
    * and the two corpus scalars BM25 needs (N, Σdl) advance as a
    * mergeable snapshot (the k-anon count mold: previous snapshot + the
    * batch's contribution, pruned to latest+previous).
    *
    * Doc UPDATES (and at-least-once redelivery) are SUPERSEDE-ON-LAND —
    * the Lucene delete-bitmap move: each land finds the batch docs'
    * previous live version (via the `bm25_doclens` delta the land also
    * appends), tombstones it ((id, dead_batch) at `bm25_tombstones`),
    * and subtracts its (1, dli) from the stats merge. Serving anti-joins
    * the tombstone log, so per-term df is the count of the term's LIVE
    * postings rows and a re-ingested doc scores exactly as if only its
    * latest version ever landed (spec-pinned vs a from-scratch scan of
    * the final corpus). The tombstone log stays bounded: it only grows
    * on re-ingest, and [[mergeBm25Segments]] physically reclaims dead
    * rows and clears it. Within one batch a doc id must appear at most
    * once — two versions would mix their term frequencies in the same
    * segment — and the land fails loudly if not (the one upstream
    * requirement; across batches anything goes). Serving
    * ([[bm25ServeRolling]]) reads ONLY the query terms' shard
    * directories + the 1-row stats snapshot + the tombstone log and
    * builds the EXACT k1/k6 scoring expression — scores are
    * bit-identical to a from-scratch corpus scan (spec + oracle). */
  def bm25IndexPerBatch(docs: DataFrame, idCol: String, textCol: String,
      shards: Int, statePath: String, checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      bm25IndexBatch(batch, idCol, textCol, shards, statePath, batchId)
    }

  /** One micro-batch of [[bm25IndexPerBatch]] — package-visible so the
    * spec can force a replay and k11 can drive batch waves. The batch
    * is cached for the body's four passes (duplicate guard, postings,
    * doclens, stats) — one source scan, the composed gate's discipline. */
  private[graft] def bm25IndexBatch(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, statePath: String, batchId: Long): Unit = {
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withBatchShuffleWidth(batch.sparkSession, cached.count(), statePath) {
      bm25IndexBatchImpl(cached, idCol, textCol, shards, statePath, batchId)
    } finally cached.unpersist()
  }

  /** [[bm25IndexBatch]] without the width wrapper — the composed gate
    * calls it inside its own already-narrowed region. */
  private def bm25IndexBatchImpl(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, statePath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val idType = batch.schema(idCol).dataType
    // the one per-batch invariant, guarded loudly: a doc id appearing
    // twice in ONE batch would mix both versions' term frequencies in
    // the same segment's groupBy — undetectable downstream
    val lens = batch.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("dli"))
    requireUniqueIds(lens, "bm25IndexBatch", batchId)
    val posted = batch
      .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .select(col("id"), size(col("toks")).as("dli"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("id"), col("dli"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("shard",
        pmod(graft.operators.PortableHash.hex60(col("term")),
          lit(shards.toLong)).cast("int"))
    Bm25Postings.land(posted, statePath, batchId)
    val superseded = supersedeOnLand(spark, idType, lens, Bm25Doclens,
      Bm25Tombstones, statePath, batchId)
    val prev = Bm25Stats.latest(spark, statePath, batchId, LongType,
      Bm25Stats.empty(spark))
    val batchStats = batch.agg(count(lit(1)).as("n"),
      sum(size(split(col(textCol), " ")).cast("long")).as("sumdl"))
    // the superseded versions leave the corpus scalars as they enter
    // the tombstone log — N and Σdl always describe live docs only
    val deadStats = superseded.agg(
      (-count(lit(1))).as("n"),
      (-coalesce(sum(col("dead_dli")), lit(0L))).as("sumdl"))
    val merged = prev.unionByName(batchStats).unionByName(deadStats)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("sumdl")), lit(0L)).as("sumdl"))
    Bm25Stats.land(merged, statePath, batchId)
  }

  /** BM25 scores for `terms` served from the ROLLING index — the k6
    * serving plan over the accumulated segments: probe only the query
    * terms' shard directories (partition-pruned across every
    * batch_id), per-term df from the probed rows, the corpus scalars
    * from the latest stats snapshot, and the shared
    * [[graft.operators.KeywordSearch.scoreColumn]] expression tree so
    * scores are bit-identical to the corpus-rescan path. Returns
    * (id, score) for docs containing at least one query term.
    *
    * Serve-while-quiet: like the compaction passes, serving assumes the
    * writer is not CONCURRENTLY landing-and-pruning under the reader —
    * the stats snapshot is chosen by directory listing and scanned
    * lazily, so if two more micro-batches land and prune before this
    * frame executes, the chosen `batch_id=` partition may be gone
    * (FileNotFoundException). Keeping two snapshots protects a one-batch
    * lag; a deployment serving from continuously-written state should
    * quiesce the stream for the read window, not retry blind.
    *
    * Time travel: `asOf` serves the index AS OF the completion of that
    * batch id (inclusive) — segments from later batches are partition-
    * pruned away, tombstones LANDED later are ignored (the superseded
    * version was still live then), and the corpus scalars come from
    * that batch's stats snapshot. The answer is reproducible retrieval
    * lineage: the exact scores a query returned when batch `asOf` was
    * the frontier. Retention bounds the reach — the `bm25_stats`
    * snapshot keeps the last two, and [[mergeBm25Segments]]
    * (like any VACUUM) collapses superseded history into the merged
    * view. */
  def bm25ServeRolling(spark: SparkSession, statePath: String,
      terms: Seq[String], shards: Int,
      asOf: Long = Long.MaxValue): DataFrame =
    // the eager localCheckpoint PINS the resolved read version: the
    // scored rows (bounded by the query terms' shards, never the
    // corpus) move off the segment files at serve time, so a
    // [[maintain]] window rewriting those files between a reader's
    // resolve and its read (merge_bm25_segments, compact_bm25_postings)
    // can neither fail the read nor change its answer — maintain-while-
    // serving isolation, spec-pinned in both interleave orders. The
    // plan audits inspect [[bm25ServeRollingPlan]] — the plan that
    // executes inside this pin.
    bm25ServeRollingPlan(spark, statePath, terms, shards, asOf)
      .localCheckpoint()

  /** [[bm25ServeRolling]]'s lazy plan — package-visible so the plan
    * audits can assert the probe shape (shard pruning, pushed term
    * filter, broadcast tombstone anti-join) that executes inside the
    * public wrapper's pin. */
  private[graft] def bm25ServeRollingPlan(spark: SparkSession,
      statePath: String, terms: Seq[String], shards: Int,
      asOf: Long = Long.MaxValue): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val shardIds = terms
      .map(t => (graft.operators.PortableHash.hex60(t) % shards).toInt).distinct
    // hasData, not exists: a postings DIRECTORY with no data
    // files (only empty batches landed) must hit this clear error, not
    // schema inference's opaque one
    if (!Bm25Postings.hasData(spark, statePath))
      sys.error(s"bm25ServeRolling: no postings landed at $statePath — " +
        "run bm25IndexPerBatch (or bm25IndexBatch) first")
    val probed = Bm25Postings.inferred(spark, statePath)
      .filter(col("shard").isin(shardIds: _*) && col("term").isin(terms: _*) &&
        col("batch_id").cast("long") <= asOf)
    // supersede-on-land: a (id, batch_id) named by a tombstone is a dead
    // version's posting — drop it before df/tf ([[dropDeadVersions]])
    val post = dropDeadVersions(spark, probed, Bm25Tombstones, statePath, asOf)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$i") }
    val byDoc = post.groupBy(col("id"), col("dli"))
      .agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, lit(1L)).otherwise(lit(0L))).as(s"df_$i") }
    val dfs = post.agg(dfAggs.head, dfAggs.tail: _*)
    val stats = Bm25Stats.asOf(spark, statePath, asOf, LongType,
      sys.error("bm25ServeRolling: no stats snapshot landed"))
    byDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select(col("id"),
        graft.operators.KeywordSearch.scoreColumn(terms).as("score"))
  }

  /** Streaming k-anonymity monitor — d43's twin in the d40
    * drift-monitor mold: each arriving batch's quasi-identifier
    * equivalence-class counts merge into the accumulated-window class
    * table (class sizes are SUMS — the additive half
    * [[graft.queries.TextOps.kAnonClassCounts]] exposes, so the merge
    * is one |classes|-row addition, never a window rescan), the d43
    * report is re-emitted over the window to `sink`, and the stream
    * FAILS FAST when the FROZEN release level no longer satisfies k —
    * a new tiny class at the released generalization level is a
    * re-identification risk landing in production, and the monitor's
    * job is to stop the release, not note it. The report the sink saw
    * before the failure names the violating level's minimum class size
    * and rows at risk. Batches need (source, lang, n_chars). State:
    * the `kanon` class-count snapshot ([[StateCatalog]]); after any number
    * of waves the window report equals d43's one-shot over everything
    * arrived (spec-pinned). */
  def kAnonPerBatch(docs: DataFrame, frozenLevel: Int, statePath: String,
      checkpoint: String)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(frozenLevel >= 0 && frozenLevel <= 2,
      s"frozenLevel must be one of d43's generalization levels 0..2, got $frozenLevel")
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      val report = kAnonBatch(batch, statePath, batchId)
      sink(report, batchId)
      enforceKAnon(report, frozenLevel)
    }
  }

  /** The release gate both k-anonymity monitors share: throw when the
    * FROZEN level's report row no longer satisfies k. An empty window
    * (cold start, no-data trigger) has no classes and nothing to
    * degrade — skip the gate, don't crash on head(). */
  private def enforceKAnon(report: DataFrame, frozenLevel: Int): Unit =
    report.filter(col("level") === frozenLevel)
      .collect().headOption.foreach { row =>
        if (!row.getBoolean(3))
          throw new IllegalStateException(
            s"k-anonymity degraded at frozen release level $frozenLevel: " +
              s"min class size ${row.getLong(2)} < " +
              s"${graft.queries.TextOps.KAnon} " +
              s"(${row.getLong(4)} rows at risk) — release halted")
      }

  /** One micro-batch of [[kAnonPerBatch]] — package-visible so the spec
    * can force a replay. Returns the accumulated-window d43 report. */
  private[graft] def kAnonBatch(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame =
    withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
      kAnonBatchImpl(batch, statePath, batchId)
    }

  /** [[kAnonBatch]] without the width wrapper — the composed gate calls
    * it inside its own already-narrowed region. */
  private def kAnonBatchImpl(batch: DataFrame, statePath: String,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val prev = Kanon.latest(spark, statePath, batchId, LongType,
      Kanon.empty(spark))
    val merged = prev
      .unionByName(graft.queries.TextOps.kAnonClassCounts(batch))
      .groupBy(col("level"), col("source"), col("lang"), col("len_class"))
      .agg(sum(col("sz")).as("sz"))
      .localCheckpoint() // eager — the snapshot-per-wave plan trap
    Kanon.land(merged, statePath, batchId)
    graft.queries.TextOps.kAnonReport(merged)
  }

  /** [[labelsAsOf]] for the k-anonymity class-count state (`kanon`) —
    * the accumulated (level, source, lang, len_class, sz) table as it
    * stood when batch `asOf` was the frontier; the cold start is an
    * empty count table (the monitor accumulates from nothing). The caller
    * shapes it with [[graft.queries.TextOps.kAnonReport]] — lineage for
    * a release decision: the exact class profile the gate saw when it
    * passed or failed batch `asOf`. */
  def kanonAsOf(spark: SparkSession, statePath: String,
      asOf: Long): DataFrame =
    Kanon.asOf(spark, statePath, asOf, LongType, Kanon.empty(spark))

  /** Streaming twin of c6's split-leakage audit, in its DEPLOYMENT
    * orientation: c6 audits a finished corpus's own split internally;
    * this gate audits ARRIVING documents against the FROZEN train-gram
    * set of an already-released corpus — each batch doc gets its
    * content-hash split assignment (d9's arithmetic, so an arriving doc
    * lands in the same split a batch rebuild would give it), and val /
    * test arrivals that share any word n-gram with the released train
    * set are counted as leaky. Per-doc and against a static gram set,
    * so the per-batch reports SUM to the one-shot audit of the union
    * (spec-pinned). `trainGrams` is the distinct (gh) train-gram table —
    * at scale the persisted output of [[graft.operators.Decontaminate
    * .gramHashes]] over the released train split. */
  def splitLeakagePerBatch(docs: DataFrame, trainGrams: DataFrame,
      idCol: String, textCol: String, n: Int, checkpoint: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      sink(splitLeakageBatch(batch, trainGrams, idCol, textCol, n), batchId)
    }

  /** One batch of [[splitLeakagePerBatch]]: (split, n_docs, n_leaky)
    * over the batch's val/test docs. */
  private[graft] def splitLeakageBatch(batch: DataFrame, trainGrams: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    graft.functions.SketchFunctions.register(batch.sparkSession)
    val split = batch
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        pmod(graft.operators.PortableHash.hex60(col(textCol)), lit(100L))
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
    val grams = graft.operators.Decontaminate
      .gramHashes(split, "doc_id", "text", n)
      .join(split.select(col("doc_id").as("id"), col("split")), "id")
    val leaky = grams.filter(col("split") =!= "train")
      .join(trainGrams.select(col("gh")).distinct(), "gh")
      .select(col("split"), col("id")).distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaky"))
    split.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaky, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaky"), lit(0L)).as("n_leaky"))
  }

  /** Streaming twin of i8's INCREMENTAL IVF indexing (foreachBatch):
    * each arriving micro-batch of vectors is assigned to the FROZEN
    * coarse quantizer — one broadcast-centroid argmin pass, exactly
    * [[graft.operators.IvfSearch.assign]], the same pass the trainer's
    * final step runs — and landed as an assignment delta partitioned by
    * batch_id (dynamic overwrite, so a checkpoint replay rewrites its
    * own partition). Queries probe the GROWN index via
    * [[grownIvfIndex]]: base assignments ∪ landed deltas, answers equal
    * to i8's batch construction after any number of waves (spec-pinned).
    * Retraining stays an audit-driven event (the i6 recall audit),
    * never a per-batch cost — the ANN face of the per-batch-cost-tracks-
    * the-batch contract the dedup gate proves for shingles. */
  def ivfAssignPerBatch(vectors: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String, embCol: String,
      statePath: String, checkpoint: String): StreamingQuery =
    eachBatch(vectors, Some(checkpoint)) { (batch, batchId) =>
      ivfAssignBatch(batch, centroids, idCol, embCol, statePath, batchId)
    }

  /** One micro-batch of [[ivfAssignPerBatch]] — package-visible so the
    * spec can force a replay of a committed batchId and assert the
    * landed assignment deltas are idempotent. */
  private[graft] def ivfAssignBatch(batch: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String, embCol: String,
      statePath: String, batchId: Long): Unit = {
    val e = batch.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("emb"))
    IvfAssign.land(graft.operators.IvfSearch.assign(e, centroids),
      statePath, batchId)
  }

  /** The grown IVF index after any number of [[ivfAssignPerBatch]]
    * waves: the frozen centroids over base ∪ landed assignment deltas.
    *
    * Maintenance isolation: the visible delta rows PIN EAGERLY at
    * resolve time (`localCheckpoint` — the cost is bounded by the
    * since-last-retrain growth, the same rows any probe wave scans, and
    * [[i10RetrainLoop]]'s audit is what keeps that log from growing
    * unbounded), so an index resolved BEFORE a [[maintain]] window
    * answers identically AFTER it: `compact_ivf_assign`'s staged rename
    * can no longer strand a resolved probe on deleted file paths. This
    * closes the one reader that previously required the quiet window by
    * scheduling. When no delta has landed and no tombstone exists the
    * base index returns untouched — zero extra plan nodes on the
    * pre-growth probes.
    *
    * Time travel: `asOf` serves the index as of that batch frontier
    * (inclusive) — later deltas are partition-pruned away, so a probe
    * answers exactly what it answered when that batch was the frontier
    * (reproducible ANN lineage; the centroids are frozen, so unlike the
    * text indexes there is no stats snapshot to bound the reach —
    * as-of works for every batch still in the append-only log).
    *
    * Deletes: vectors tombstoned by [[ivfDeleteBatch]] at a wave ≤
    * `asOf` are anti-joined out (both the log-row and base-row
    * tombstone families), so a probe as of a frontier BEFORE the delete
    * still sees the vector — the audit trail — until
    * [[reclaimIvfDeleted]] physically removes the rows. */
  def grownIvfIndex(spark: SparkSession,
      base: graft.operators.IvfSearch.Index, statePath: String,
      asOf: Long = Long.MaxValue): graft.operators.IvfSearch.Index = {
    val idType = base.assignments.schema("id").dataType
    val tombLogs = Seq(IvfTombstones, IvfBaseTombstones)
    val hasGrow = IvfAssign.hasData(spark, statePath)
    val hasTombs = tombLogs.exists(_.hasData(spark, statePath))
    // nothing landed, nothing deleted: the base serves as-is — the i8
    // cold-start probes pay no union/anti-join for empty state. The
    // assignments get a fresh PLAN NODE (a trivial Project over the
    // cached base), never `base.assignments` itself: callers own the
    // returned index's close(), whose unpersist matches cache entries
    // by plan — handing back the same DataFrame instance would let a
    // contract-honoring close() evict the caller's SHARED base
    // inverted file, while the Project wrapper makes it a no-op
    if (!hasGrow && !hasTombs)
      return graft.operators.IvfSearch.Index(base.centroids,
        base.assignments.select(col("id"), col("emb"), col("centroid_id")))
    // explicit-schema delta reads throughout: a data-file-less directory
    // (an all-empty land, or reclaim draining every batch leaf) must read
    // as zero rows, never throw schema inference into every later probe.
    // ONE read with the asOf filter always applied (correct even if a
    // wave lands between the hasGrow probe and here); the pin
    // (localCheckpoint — the resolve-time isolation documented above)
    // is skipped only when the log was empty at the probe: pinning an
    // empty frame buys nothing
    val deltasRaw = IvfAssign.through(spark, statePath, asOf, idType)
    val deltas = if (hasGrow) deltasRaw.localCheckpoint() else deltasRaw
    // versions carry their landing wave so a tombstone suppresses only
    // versions landed AT OR BEFORE its delete wave — a later re-ingest
    // supersedes the delete (the k11 model); base rows predate every wave
    val grown = base.assignments
      .withColumn("src_batch", lit(-1L))
      .unionByName(deltas.withColumnRenamed("batch_id", "src_batch")
        .select(col("id"), col("emb"), col("centroid_id"), col("src_batch")))
    if (!hasTombs)
      return graft.operators.IvfSearch.Index(base.centroids,
        grown.select(col("id"), col("emb"), col("centroid_id")))
    // request-sized: the tombstone pin costs the forget-list, and makes
    // a resolved index equally immune to a concurrent reclaim's log clear
    val dead = tombLogs
      .map(_.through(spark, statePath, asOf, idType)
        .select(col("id").as("t_id"), col("batch_id").as("del_batch")))
      .reduce(_.unionByName(_))
      .localCheckpoint()
    val live = grown.join(broadcast(dead),
        grown("id") === col("t_id") && grown("src_batch") <= col("del_batch"),
        "left_anti")
      .select(col("id"), col("emb"), col("centroid_id"))
    graft.operators.IvfSearch.Index(base.centroids, live)
  }

  /** DELETE vectors from the grown IVF index — k11's supersede/tombstone
    * model applied to the vector store, the right-to-be-forgotten path a
    * deployed embedding index must serve: ids with a landed assignment
    * version tombstone as (id, dead_batch = their landed wave) under
    * `ivf_tombstones` — physically reclaimable by [[reclaimIvfDeleted]]
    * — while ids present only in the TRAINED BASE (no landed version to
    * name) tombstone with dead_batch = −1 under `ivf_base_tombstones`:
    * serve-suppressed immediately, physically gone at the next retrain
    * (i10's loop), untouched by reclaim. Both logs are batch_id-
    * partitioned on the DELETE wave (replay-idempotent), which is what
    * [[grownIvfIndex]]'s as-of anti-join cuts on. Delete and grow waves
    * share one batch counter — the caller's timeline. */
  def ivfDeleteBatch(ids: DataFrame, statePath: String, batchId: Long): Unit = {
    val spark = ids.sparkSession
    // delete batches are request-sized: pin the id set once — the
    // landed-version lookup and the base-only anti-join both read it
    val del = ids.select(col("id")).distinct().localCheckpoint()
    // declared-schema read: a directory that exists but holds no data
    // files — all grow waves landed empty — reads as zero landed versions
    val landed = IvfAssign.read(spark, statePath, del.schema("id").dataType)
      .join(broadcast(del), Seq("id"))
      .select(col("id"), col("batch_id").as("dead_batch"))
      .localCheckpoint()
    val baseOnly = del
      .join(landed.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("dead_batch"))
    IvfTombstones.land(landed, statePath, batchId)
    IvfBaseTombstones.land(baseOnly, statePath, batchId)
  }

  /** Physical reclaim of deleted GROWN vectors — [[mergeBm25Segments]]'
    * machinery over the assignment log: only the batch partitions the
    * tombstone log names rewrite (live rows only), and the log clears
    * last. Reclaim TRADES the audit trail for physical deletion: as-of
    * probes before the delete frontier no longer return the reclaimed
    * vectors — which is the point of a forget request. Base-index
    * tombstones stay (their rows live inside the trained base until the
    * next retrain replaces it). Quiet-window single-writer, like every
    * compaction. Returns (versions reclaimed, live rows rewritten). */
  def reclaimIvfDeleted(spark: SparkSession, statePath: String): (Long, Long) =
    reclaimDeadVersions(spark, statePath, IvfTombstones, Seq(IvfAssign))

  /** Merge the small files of one append-only state log (`table` names
    * a [[StateCatalog]] log) toward `targetBytes` per partition — the
    * retention an append-only log needs, since every row stays reachable:
    * thousands of one-file micro-batch partitions would make each read a
    * listing storm. Per leaf directory (`batch_id`, plus `shard` for the
    * segment logs), so partition pruning, per-segment df sums and every
    * serve's answer are unchanged (spec-pinned per log). SIGKILL-safe via
    * [[graft.sources.Sources.compactParquet]]; the stream must be quiet
    * for the staging window, like any single-writer compaction. An absent
    * log is (0, 0). Returns (files before, files after). */
  def compact(spark: SparkSession, statePath: String, table: String,
      targetBytes: Long = 128L << 20): (Long, Long) =
    StateCatalog(table).compact(spark, statePath, targetBytes)

  /** Streaming maintenance of the k8 deletion-variant (SymSpell) index —
    * the search tier's SECOND rolling artifact, under the k11 segment
    * discipline: each arriving batch lands its vocabulary's
    * (variant, term, df) rows as a `batch_id=<b>/shard=<hex60(variant)
    * mod shards>` segment (dynamic overwrite — replay-idempotent, and a
    * probe partition-prunes to its query variants' shards across every
    * segment). A term's total document frequency is the SUM of its
    * per-segment df contributions, which equals the one-shot count
    * exactly when each doc lands in exactly one batch — the gate's one
    * upstream requirement (append-only ingest; an update story would be
    * the [[bm25IndexBatchImpl]] supersede move, not needed for the
    * spellchecker artifact whose df only ranks suggestions). Serving
    * ([[fuzzyServeRolling]]) answers k7/k8's typo resolution without
    * ever re-reading corpus text. */
  def fuzzyIndexPerBatch(docs: DataFrame, idCol: String, textCol: String,
      shards: Int, statePath: String, checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      fuzzyIndexBatch(batch, idCol, textCol, shards, statePath, batchId)
    }

  /** One micro-batch of [[fuzzyIndexPerBatch]] — package-visible so the
    * spec can force a replay, k12 can drive batch waves and the composed
    * gate ([[deployGatesBatch]]) can land its fuzzy leg. The rows to land
    * are planned by the size rule ([[fuzzyWave]]), not by a session-wide
    * shuffle width: no count, no conf change. */
  private[graft] def fuzzyIndexBatch(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, statePath: String, batchId: Long): Unit =
    FuzzyVariants.land(fuzzyWave(batch, idCol, textCol, shards, batchId),
      statePath, batchId)

  /** The (term, df, variant, shard, batch_id) rows one wave lands. A batch
    * at or below `maxBytes` ([[graft.operators.SizeRule]]) computes on one
    * partition — the distinct and the df aggregate plan with no
    * `Exchange` — and is then hash-split by shard over at most
    * `defaultParallelism` tasks, so the `shards` files are written in
    * parallel, each leaf by exactly one task. A larger batch keeps the
    * session's parallel plan. Package-visible for the plan audits. */
  private[graft] def fuzzyWave(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, batchId: Long,
      maxBytes: Long = graft.operators.SizeRule.SinglePartitionMaxBytes)
      : DataFrame = {
    val small = graft.operators.SizeRule.isSmall(batch, maxBytes)
    val rows = (if (small) batch.coalesce(1) else batch)
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"),
        explode(graft.queries.SearchOps.deletionVariants(col("term")))
          .as("variant"))
      .withColumn("shard",
        pmod(graft.operators.PortableHash.hex60(col("variant")),
          lit(shards.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
    if (!small) rows
    else rows.repartition(
      math.min(shards, batch.sparkSession.sparkContext.defaultParallelism),
      col("shard"))
  }

  /** Typo-tolerant term resolution served from the ROLLING variant
    * segments — k8's serving plan over [[fuzzyIndexPerBatch]]'s state:
    * expand the query terms driver-side with the same identity-∪-
    * deletions rule the index was built with, probe only the matching
    * variants' shard directories (partition-pruned across every
    * batch_id), collapse multi-variant matches WITHIN a segment, sum
    * each term's per-segment df contributions, and verify `levenshtein`
    * on the blocked candidates. A probe at or below the size rule's
    * cutoff ([[graft.operators.SizeRule]]) runs on one partition. Returns
    * k7's (query_term, matched_term, lev, df) — equal to the one-shot
    * resolution over everything arrived (spec + oracle). */
  def fuzzyServeRolling(spark: SparkSession, statePath: String,
      queryTerms: Seq[String], shards: Int,
      // time travel: suggestions as of a batch frontier (inclusive) —
      // the variant log is append-only, so this is one partition filter
      asOf: Long = Long.MaxValue): DataFrame =
    // pinned read version (the bm25ServeRolling rule): the suggestion
    // table is tiny; a compact_fuzzy_variants between resolve and read
    // cannot break or change the answer; plan audits inspect
    // [[fuzzyServeRollingPlan]]
    fuzzyServeRollingPlan(spark, statePath, queryTerms, shards, asOf)
      .localCheckpoint()

  /** [[fuzzyServeRolling]]'s lazy plan — package-visible for the plan
    * audits (probe shape executing inside the public pin) and for k12,
    * which owns its state and collects the plan once without the pin. */
  private[graft] def fuzzyServeRollingPlan(spark: SparkSession,
      statePath: String, queryTerms: Seq[String], shards: Int,
      asOf: Long = Long.MaxValue): DataFrame = {
    require(queryTerms.nonEmpty, "fuzzy search needs at least one query term")
    val qv = graft.queries.SearchOps.queryVariants(queryTerms)
    val shardIds = qv
      .map(v => (graft.operators.PortableHash.hex60(v._2) % shards).toInt)
      .distinct
    if (!FuzzyVariants.hasData(spark, statePath))
      sys.error(s"fuzzyServeRolling: no variant segments landed at $statePath " +
        "— run fuzzyIndexPerBatch (or fuzzyIndexBatch) first")
    // one root path and partition filters (explicit per-shard paths past
    // 32 start Spark's parallel-listing job); the declared schema plans
    // the probe without a footer-reading job
    val vvar = graft.operators.SizeRule.singlePartitionIfSmall(
      FuzzyVariants.read(spark, statePath)
        .filter(col("shard").isin(shardIds: _*) &&
          col("variant").isin(qv.map(_._2).distinct: _*) &&
          col("batch_id") <= asOf))
    import spark.implicits._
    broadcast(qv.toDF("query_term", "variant"))
      .join(vvar, "variant")
      // a term can match through several variants of one query term —
      // collapse within the segment (its df is one value per segment),
      // then sum the per-segment contributions
      .select(col("query_term"), col("term"), col("batch_id").as("b"),
        col("df"))
      .distinct()
      .groupBy(col("query_term"), col("term"))
      .agg(sum(col("df")).as("df"))
      .filter(levenshtein(col("query_term"), col("term")) <= 1)
      .select(col("query_term"), col("term").as("matched_term"),
        levenshtein(col("query_term"), col("term")).cast("int").as("lev"),
        col("df"))
  }

  /** Streaming maintenance of the POSITIONAL index (k9/k10's at-rest
    * artifact) — the search tier's third rolling artifact, beside
    * [[bm25IndexPerBatch]]'s postings and [[fuzzyIndexPerBatch]]'s
    * variants: each arriving micro-batch tokenizes its docs to
    * (id, pos, term) rows and lands them as a batch_id×shard segment,
    * term-sharded exactly like the one-shot index so probes
    * partition-prune identically. Doc UPDATES (and at-least-once
    * redelivery) are supersede-on-land ([[supersedeOnLand]], the BM25
    * discipline): a re-ingested doc tombstones its previous live
    * version, serving anti-joins the log, and [[mergePosSegments]]
    * physically reclaims. After any number of waves, phrase/NEAR
    * queries over [[posServeRolling]]'s live rows equal the one-shot
    * positional index over each doc's LATEST version (spec + the k13
    * oracle, whose waves deliberately land a stale version first). */
  def posIndexPerBatch(docs: DataFrame, idCol: String, textCol: String,
      shards: Int, statePath: String, checkpoint: String): StreamingQuery =
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      posIndexBatch(batch, idCol, textCol, shards, statePath, batchId)
    }

  /** One micro-batch of [[posIndexPerBatch]] — package-visible so the
    * spec can force a replay and k13 can drive batch waves. */
  private[graft] def posIndexBatch(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, statePath: String, batchId: Long): Unit = {
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withBatchShuffleWidth(batch.sparkSession, cached.count(), statePath) {
      posIndexBatchImpl(cached, idCol, textCol, shards, statePath, batchId)
    } finally cached.unpersist()
  }

  /** [[posIndexBatch]] without the width wrapper — the composed gate
    * calls it inside its own already-narrowed region. */
  private def posIndexBatchImpl(batch: DataFrame, idCol: String,
      textCol: String, shards: Int, statePath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val idType = batch.schema(idCol).dataType
    val ids = batch.select(col(idCol).as("id"))
    requireUniqueIds(ids, "posIndexBatch", batchId)
    PosPostings.land(batch
      .select(col(idCol).as("id"), posexplode(split(col(textCol), " ")))
      .toDF("id", "pos", "term")
      .withColumn("shard",
        pmod(graft.operators.PortableHash.hex60(col("term")),
          lit(shards.toLong)).cast("int")), statePath, batchId)
    supersedeOnLand(spark, idType, ids, PosDocs, PosTombstones, statePath,
      batchId)
    ()
  }

  /** Live (doc_id, pos, term) rows for `terms` from the ROLLING
    * positional segments: probe only the query terms' shard
    * directories (partition-pruned across every batch_id), push the
    * term filter to the scan, then drop tombstoned versions
    * ([[dropDeadVersions]]). The frame feeds the SAME slot-aligned
    * phrase voting and NEAR rollup the at-rest k9/k10 use, so answers
    * equal the one-shot index over each doc's latest version.
    *
    * Time travel: `asOf` replays the live rows as of that batch id
    * (inclusive) — [[bm25ServeRolling]]'s contract: later segments
    * pruned, later-landed tombstones ignored, [[mergePosSegments]]
    * collapses history like any VACUUM. */
  def posServeRolling(spark: SparkSession, statePath: String,
      terms: Seq[String], shards: Int,
      asOf: Long = Long.MaxValue): DataFrame =
    // pinned read version (the bm25ServeRolling rule): the probed live
    // positions move off the segment files at serve time, so a
    // maintenance window between resolve and read cannot break or
    // change the answer; plan audits inspect [[posServeRollingPlan]]
    posServeRollingPlan(spark, statePath, terms, shards, asOf)
      .localCheckpoint()

  /** [[posServeRolling]]'s lazy plan — package-visible for the plan
    * audits (probe shape executing inside the public pin). */
  private[graft] def posServeRollingPlan(spark: SparkSession,
      statePath: String, terms: Seq[String], shards: Int,
      asOf: Long = Long.MaxValue): DataFrame = {
    require(terms.nonEmpty, "positional probe needs at least one term")
    val shardIds = terms
      .map(t => (graft.operators.PortableHash.hex60(t) % shards).toInt).distinct
    if (!PosPostings.hasData(spark, statePath))
      sys.error(s"posServeRolling: no positions landed at $statePath — " +
        "run posIndexPerBatch (or posIndexBatch) first")
    val probed = PosPostings.inferred(spark, statePath)
      .filter(col("shard").isin(shardIds: _*) && col("term").isin(terms: _*) &&
        col("batch_id").cast("long") <= asOf)
    dropDeadVersions(spark, probed, PosTombstones, statePath, asOf)
      .select(col("id").as("doc_id"), col("pos"), col("term"))
  }

  /** [[mergeBm25Segments]] for the positional family: rewrite the
    * tombstoned `batch_id=` partitions live-rows-only and clear the
    * log — same crash ordering, same leaf-dir reclaim. */
  def mergePosSegments(spark: SparkSession, statePath: String): (Long, Long) =
    reclaimDeadVersions(spark, statePath, PosTombstones,
      Seq(PosPostings, PosDocs))

  /** Physical reclaim of SUPERSEDED postings — the Lucene segment merge
    * that applies the delete bitmap: rewrite only the `batch_id=`
    * partitions the tombstone log names, dropping each dead (id, batch)
    * version's postings and doclens rows, then clear the log. Serving
    * needs no tombstone anti-join again until the next re-ingest.
    *
    * Crash-ordering safe at every step because the tombstones are
    * deleted LAST: a crash after the live rewrite (or mid leaf-dir
    * delete) leaves tombstones naming rows that are partly or wholly
    * gone — [[bm25ServeRolling]]'s anti-join treats both states
    * correctly, and a re-run recomputes from whatever survived. Leaf
    * directories whose every row died are deleted explicitly (dynamic
    * overwrite only replaces partitions present in the written data —
    * an all-dead leaf would otherwise resurrect once the log clears).
    * Single-writer quiet window assumed, like every compaction here.
    * Returns (tombstoned versions reclaimed, live postings rewritten). */
  def mergeBm25Segments(spark: SparkSession, statePath: String): (Long, Long) =
    reclaimDeadVersions(spark, statePath, Bm25Tombstones,
      Seq(Bm25Postings, Bm25Doclens))

  /** The segment merge shared by [[mergeBm25Segments]] and
    * [[mergePosSegments]]: physically reclaim the dead versions named
    * by the `tombLog` across the given state `families` (logs whose
    * versions it names, postings first). For each family, only the
    * `batch_id=` partitions the log names are rewritten live-rows-only
    * (materialized BEFORE the overwrite replaces the files they were
    * read from), leaf directories whose EVERY row died are deleted
    * explicitly (dynamic overwrite only replaces partitions present in
    * the written data — an all-dead leaf would otherwise resurrect once
    * the log clears), and the tombstone log clears LAST — every crash
    * point leaves a state the serve anti-join and a re-run both handle.
    * Returns (tombstoned versions reclaimed, live rows rewritten in the
    * first — postings — family).
    *
    * Driver-side bounds: the two collects here are (1) the distinct
    * `dead_batch` values — at most the number of tombstone-NAMED
    * `batch_id=` partitions, and (2) [[distinctPartitionTuples]] over
    * the affected rows — at most the number of (batch_id, shard) leaf
    * DIRECTORIES under those batches (spec-pinned: partition count, not
    * row count). Both are bounded by the on-disk partition layout
    * (#re-ingested batches × shard fan-out), never by postings volume —
    * at 100 TB the collect stays a few thousand tuples while the
    * rewrite itself remains fully distributed. */
  private def reclaimDeadVersions(spark: SparkSession, statePath: String,
      tombLog: Table, families: Seq[Table]): (Long, Long) = {
    if (!tombLog.hasData(spark, statePath)) return (0L, 0L)
    // distinct: a victim deleted in two different waves lands the same
    // (id, dead_batch) tombstone twice — one physical row dies, so the
    // reported count (and the anti/semi join probes) dedup first
    val tombs = tombLog.inferred(spark, statePath)
      .select(col("id").as("t_id"), col("dead_batch"))
      .distinct().localCheckpoint()
    val nDead = tombs.count()
    val deadBatches = tombs.select(col("dead_batch")).distinct()
      .collect().map(_.getLong(0)).toSeq
    def isDead(df: DataFrame) =
      df("id") === col("t_id") && df("batch_id").cast("long") === col("dead_batch")
    val fs = new org.apache.hadoop.fs.Path(tombLog.dir(statePath))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var firstLive = 0L
    families.zipWithIndex.foreach { case (family, fi) =>
      val (path, parts) = (family.dir(statePath), family.partitions)
      val affected = family.inferred(spark, statePath)
        .filter(col("batch_id").isin(deadBatches: _*))
      val live = affected.join(tombs, isDead(affected), "left_anti")
        .localCheckpoint()
      if (fi == 0) firstLive = live.count()
      // leaf dirs where EVERY row died — enumerate before the rewrite
      val deadLeaves = distinctPartitionTuples(
        affected.join(tombs, isDead(affected), "left_semi"), parts)
      val liveLeaves = distinctPartitionTuples(live, parts)
      live.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*)
        .parquet(path)
      (deadLeaves -- liveLeaves).foreach { vals =>
        val leaf = parts.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$leaf"), true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tombLog.dir(statePath)), true)
    (nDead, firstLive)
  }

  /** The distinct partition-column tuples present in `df` — the leaf-
    * directory enumeration [[reclaimDeadVersions]] collects. Its size
    * is bounded by the PARTITION layout (one tuple per `parts`-named
    * leaf dir), never by row count: a million postings under one
    * (batch_id, shard) leaf collect as ONE tuple (spec-pinned). */
  private[graft] def distinctPartitionTuples(df: DataFrame,
      parts: Seq[String]): Set[Seq[Long]] =
    df.select(parts.map(c => col(c).cast("long")): _*)
      .distinct().collect()
      .map(r => parts.indices.map(r.getLong(_)): Seq[Long]).toSet

  /** Streaming twin of a4's SEMANTIC dedup (SemDeDup) — the
    * embedding-space trio composed the way [[rollingCcPerBatch]]
    * composed the shingle-space one: each arriving micro-batch of
    * vectors is (1) assigned to the FROZEN coarse quantizer (one
    * broadcast-centroid argmin — [[graft.operators.IvfSearch.assign]],
    * i8's per-batch step), (2) cosine-compared ONLY against same-cluster
    * members — the static corpus's inverted file ∪ landed earlier-batch
    * deltas ∪ the batch itself — never across clusters (the SemDeDup
    * blocking contract: per-batch cost is Σ over touched clusters of
    * |batch∩cluster|·|cluster|, not |batch|·|corpus|), and (3) the
    * batch's above-threshold pairs advance the dedup groups by
    * [[graft.operators.ConnectedComponents.incrementalStep]]'s
    * star-collapse. After any number of waves the labels equal a
    * from-scratch a4-style clustering of everything arrived under the
    * same frozen quantizer (spec-pinned — the i8-twin equality, not
    * i6's: retraining stays the audit-driven i10 event). State:
    * the `sem_assign` log and the `sem_labels` snapshot ([[StateCatalog]]).
    * `staticAssign` is the corpus inverted file (id, emb, centroid_id);
    * `seedLabels` the labels a batch run produced over the static
    * corpus (empty frame for a cold start). The sink receives the
    * post-batch label table. */
  def semDedupPerBatch(vectors: DataFrame,
      centroids: Seq[(Int, Seq[Double])], staticAssign: DataFrame,
      seedLabels: DataFrame, idCol: String, embCol: String,
      threshold: Double, statePath: String, checkpoint: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(vectors, Some(checkpoint)) { (batch, batchId) =>
      sink(semDedupBatch(batch, centroids, staticAssign, seedLabels,
        idCol, embCol, threshold, statePath, batchId), batchId)
    }

  /** One micro-batch of [[semDedupPerBatch]] — package-visible so the
    * spec can force a replay and batch callers can drive the same code
    * path (the rollingCcBatch precedent). Returns the post-batch label
    * table, localCheckpointed. */
  private[graft] def semDedupBatch(batch: DataFrame,
      centroids: Seq[(Int, Seq[Double])], staticAssign: DataFrame,
      seedLabels: DataFrame, idCol: String, embCol: String,
      threshold: Double, statePath: String, batchId: Long): DataFrame =
    withBatchShuffleWidth(batch.sparkSession, batch.count(), statePath) {
    val spark = batch.sparkSession
    graft.functions.DotProduct.register(spark)
    val dot = graft.functions.DotProduct.dotProduct _
    val idType = batch.schema(idCol).dataType
    // frozen-quantizer assignment + norm once per row (the pair join
    // must never recompute ||x||)
    val asg = graft.operators.IvfSearch.assign(
        batch.select(col(idCol).as("id"),
          col(embCol).cast("array<double>").as("emb")), centroids)
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try semAdvance(asg, staticAssign, seedLabels, idType, threshold,
      statePath, batchId)
    finally asg.unpersist()
  }

  /** The semantic-dedup ADVANCE over an already-computed (and persisted)
    * frozen-quantizer batch assignment `asg` (id, emb, centroid_id, nrm)
    * — the same-cluster sweep, star-collapse, and state lands. Factored
    * out so the composed gate computes the assignment ONCE and feeds
    * both the IVF-growth land and this gate. */
  private def semAdvance(asg: DataFrame, staticAssign: DataFrame,
      seedLabels: DataFrame, idType: DataType,
      threshold: Double, statePath: String, batchId: Long): DataFrame = {
    val spark = asg.sparkSession
    graft.functions.DotProduct.register(spark)
    val dot = graft.functions.DotProduct.dotProduct _
    // landed side: static inverted file ∪ assignment deltas of batches
    // STRICTLY BELOW this one (a replayed batch must not see its own
    // landed delta) ∪ the batch itself (within-batch near-dups). The
    // norm is computed during the same-cluster scan the cosine needs
    // anyway — never a second pass over the corpus.
    val landed = SemAssign.before(spark, statePath, batchId, idType)
    val base = staticAssign.select(col("id"), col("emb"), col("centroid_id"))
      .unionByName(landed)
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .unionByName(asg)
    // same-cluster blocking; least/greatest + distinct because the
    // batch side appears on BOTH ends of within-batch pairs
    val pairs = asg.as("a")
      .join(base.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") =!= col("b.id"))
      .withColumn("cos", round(
        dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val prev = SemLabels.latest(spark, statePath, batchId, idType, seedLabels)
    val labels = graft.operators.ConnectedComponents
      .incrementalStepWith(prev, pairs)(_.localCheckpoint())
    SemAssign.land(asg.select(col("id"), col("emb"), col("centroid_id")),
      statePath, batchId)
    SemLabels.land(labels, statePath, batchId)
    labels
  }

  /** [[labelsAsOf]] for the SEMANTIC dedup label table (`sem_labels`,
    * [[semDedupPerBatch]]'s snapshot family) — which vectors were in
    * the same embedding-space dedup group when batch `asOf` was the
    * frontier. With this and [[kanonAsOf]], every rolling state family
    * the deployment stream maintains is time-travelable. */
  def semLabelsAsOf(spark: SparkSession, statePath: String,
      seedLabels: => DataFrame, idType: DataType, asOf: Long): DataFrame =
    SemLabels.asOf(spark, statePath, asOf, idType, seedLabels)

  /** Everything the composed deployment stream's gates need, bundled:
    * the frozen artifacts a deployment pins (MinHash index over the
    * released corpus, eval set, coarse quantizer, seed labels/state)
    * plus the column names and thresholds. One value constructed at
    * deploy time, immutable across waves — the per-wave state all lives
    * under `statePath`. */
  case class DeployGatesConfig(
      staticIndex: graft.operators.MinHashDedup.DedupIndex,
      staticCorpusIds: DataFrame,
      evalSet: DataFrame,
      sources: DataFrame,
      seedLabels: DataFrame,
      seedRepState: DataFrame,
      scores: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      staticAssign: DataFrame,
      semSeedLabels: DataFrame,
      idCol: String, textCol: String, embCol: String,
      threshold: Double, semThreshold: Double,
      decontamN: Int, bm25Shards: Int, fuzzyShards: Int, frozenLevel: Int,
      outPath: String, statePath: String,
      // the k-anonymity quasi-identifier columns (n_chars derives from
      // textCol); defaulted so existing call sites read unchanged
      sourceCol: String = "source", langCol: String = "lang",
      // positional-index shard count ([[posIndexPerBatch]]'s artifact —
      // phrase/NEAR serving); defaulted like the columns above
      posShards: Int = 16,
      // auto-maintenance cadence: [[deployGatesPerBatch]] runs
      // [[maintain]] over this config's state after every N committed-
      // side batches ((batchId+1) % N == 0); 0 disables. A long-running
      // stream otherwise accumulates small delta files and superseded
      // segments that only a manually-scheduled maintain would reclaim.
      maintainEvery: Int = 8)

  /** What the composed gate hands the sink after each wave — every
    * frame already materialized (localCheckpointed), so the sink can
    * consume them after the wave's caches are released. */
  case class DeployGatesReport(
      overlap: DataFrame, labels: DataFrame, repState: DataFrame,
      kanonReport: DataFrame, semLabels: DataFrame)

  /** The COMPOSED deployment stream — every per-batch gate this module
    * ships, fed from ONE pass over each arriving batch. Run solo, the
    * six gates each re-read the batch and recompute its derived forms
    * (the dedup sweep, rolling CC, and representatives each re-shingle
    * it; the semantic gate and IVF growth each re-run the frozen-
    * quantizer argmin). Composed, the batch is cached once and each
    * expensive derived form is computed ONCE and shared:
    *
    *   - batch shingles/signatures: ONE [[sweepBatchAccum]] sweep feeds
    *     the source-overlap rollup, the clean-corpus promotion
    *     ([[promoteClean]]), and the label advance ([[ccAdvance]]) the
    *     representative monoid rides on ([[repAdvance]]);
    *   - frozen-quantizer assignment: ONE [[graft.operators.IvfSearch
    *     .assign]] lands the IVF growth delta AND drives the semantic
    *     dedup sweep ([[semAdvance]]);
    *   - the BM25, fuzzy-variant, and positional segment lands and the
    *     k-anonymity monitor (n_chars is computed from `textCol` here)
    *     read the cached batch directly.
    *
    * At 100 TB this is the difference between one scan of each arriving
    * batch and seven. State lands under ONE `statePath` in exactly the
    * per-gate layouts, so every solo read path serves unchanged from a
    * composed deployment: [[bm25ServeRolling]], [[fuzzyServeRolling]],
    * [[posServeRolling]], [[grownIvfIndex]], [[compactLanded]],
    * [[maintain]], and the
    * per-gate compactors all point at the same directories — and each gate's output equals its solo run's
    * after any number of waves (spec-pinned, including a batch-scanned-
    * once accumulator audit). The k-anonymity fail-fast contract is
    * [[kAnonPerBatch]]'s: the sink sees the violating report, then the
    * stream dies. */
  def deployGatesPerBatch(docs: DataFrame, cfg: DeployGatesConfig,
      checkpoint: String)(sink: (DeployGatesReport, Long) => Unit)
      : StreamingQuery = {
    require(cfg.frozenLevel >= 0 && cfg.frozenLevel <= 2,
      s"frozenLevel must be one of d43's generalization levels 0..2, got ${cfg.frozenLevel}")
    require(cfg.maintainEvery >= 0,
      s"maintainEvery must be >= 0 (0 disables), got ${cfg.maintainEvery}")
    eachBatch(docs, Some(checkpoint)) { (batch, batchId) =>
      val report = deployGatesBatch(batch, cfg, batchId)
      sink(report, batchId)
      enforceKAnon(report.kanonReport, cfg.frozenLevel)
      // auto-maintenance INSIDE the uncommitted batch: a crash mid-
      // maintain replays the whole foreachBatch body (idempotent
      // lands, then the full maintain) — every maintain step is
      // individually crash-safe (the prefix-replay spec), so the
      // half-done pass is just extra retention work, never a
      // serving-visible state
      if (cfg.maintainEvery > 0 && (batchId + 1) % cfg.maintainEvery == 0) {
        maintain(batch.sparkSession, cfg.statePath,
          Some(LandedCorpus(cfg.outPath, cfg.staticCorpusIds, cfg.idCol)))
        ()
      }
    }
  }

  /** One micro-batch of [[deployGatesPerBatch]] — package-visible so the
    * spec can force replays and drive batch waves. */
  private[graft] def deployGatesBatch(batch: DataFrame,
      cfg: DeployGatesConfig, batchId: Long): DeployGatesReport = {
    val spark = batch.sparkSession
    // the ONE batch materialization every gate reads back from cache —
    // count() is both the caching action and the width signal
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withBatchShuffleWidth(spark, cached.count(), cfg.statePath) {
      val idType = cached.schema(cfg.idCol).dataType
      // text side: the one shingle sweep four gates share
      val pairs = sweepBatchAccum(cached, cfg.staticIndex, cfg.idCol,
        cfg.textCol, cfg.threshold, cfg.statePath, batchId)
      try {
        val overlap = rollupSourcePairs(pairs, cfg.sources, cfg.idCol)
          .localCheckpoint() // eager — consumed after pairs unpersists
        promoteClean(cached, pairs, cfg.staticCorpusIds, cfg.evalSet,
          cfg.idCol, cfg.textCol, cfg.decontamN, cfg.outPath, batchId)
        val prevLabels = Labels.latest(spark, cfg.statePath, batchId, idType,
          cfg.seedLabels)
        val prevState = Rep.latest(spark, cfg.statePath, batchId, idType,
          cfg.seedRepState)
        val labels = ccAdvance(prevLabels, pairs, cfg.statePath, batchId)
        val repState = repAdvance(labels, prevLabels, prevState,
          cfg.scores, idType, cfg.statePath, batchId)
        // token side
        bm25IndexBatchImpl(cached, cfg.idCol, cfg.textCol, cfg.bm25Shards,
          cfg.statePath, batchId)
        fuzzyIndexBatch(cached, cfg.idCol, cfg.textCol, cfg.fuzzyShards,
          cfg.statePath, batchId)
        posIndexBatchImpl(cached, cfg.idCol, cfg.textCol, cfg.posShards,
          cfg.statePath, batchId)
        // profile side — the quasi-identifier projection kAnon expects
        val kanonReport = kAnonBatchImpl(
          cached.select(col(cfg.sourceCol).as("source"),
            col(cfg.langCol).as("lang"),
            length(col(cfg.textCol)).cast("long").as("n_chars")),
          cfg.statePath, batchId)
        // embedding side: the one frozen-quantizer assignment two gates
        // share (norm once — semAdvance's pair join must never recompute it)
        graft.functions.DotProduct.register(spark)
        val dot = graft.functions.DotProduct.dotProduct _
        val asg = graft.operators.IvfSearch.assign(
            cached.select(col(cfg.idCol).as("id"),
              col(cfg.embCol).cast("array<double>").as("emb")),
            cfg.centroids)
          .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          IvfAssign.land(asg.select(col("id"), col("emb"), col("centroid_id")),
            cfg.statePath, batchId)
          val semLabels = semAdvance(asg, cfg.staticAssign,
            cfg.semSeedLabels, idType, cfg.semThreshold, cfg.statePath,
            batchId)
          DeployGatesReport(overlap, labels, repState, kanonReport, semLabels)
        } finally asg.unpersist()
      } finally pairs.unpersist()
    } finally cached.unpersist()
  }

  /** The compaction pass: replay the gate's drop policy over the FULL
    * accumulated pair log and anti-join the landed docs against it. The
    * only rows this removes beyond the per-batch gates are retro-drops —
    * landed docs outranked by a smaller-id near-dup that arrived later.
    * Cost: |pairs| (near-dup pairs only — tiny) + one anti-join over the
    * landed delta; corpus text, batch text, and shingles are never
    * touched, so the pass is schedulable at any cadence at 100 TB.
    * Returns the compacted landed frame; callers persist it (or rewrite
    * `outPath`) as the corpus promotion step. */
  def compactLanded(spark: SparkSession, outPath: String, statePath: String,
                    staticCorpusIds: DataFrame, idCol: String,
                    asOf: Long = Long.MaxValue): DataFrame = {
    // time travel (training-data lineage): `asOf` reads the clean corpus
    // as it stood when that batch was the frontier — only batches landed
    // by then, and only the retro-drops the pair log had surfaced by
    // then (a doc a LATER wave revealed as a near-dup was still in the
    // corpus at this point, and a reproducible training run needs it).
    // compactLandedInPlace truncates this history like any VACUUM.
    val landed = spark.read.parquet(outPath)
      .filter(col("batch_id").cast("long") <= asOf)
    if (!Pairs.exists(spark, statePath)) return landed
    val pairs = Pairs.inferred(spark, statePath)
      .filter(col("batch_id").cast("long") <= asOf)
    val staticIds = staticCorpusIds.select(col(idCol).as("cid"))
    val drops = pairs.select(col("id_b").as("id"))
      .unionByName(pairs.join(staticIds, col("id_b") === col("cid"))
        .select(col("id_a").as("id")))
      .distinct()
    landed.join(drops, landed(idCol) === drops("id"), "left_anti")
  }

  /** [[compactLanded]] applied IN PLACE: rewrite the landed corpus's
    * batch partitions dropping the retro-dropped docs, so the at-rest
    * files themselves shrink to the compacted view (the read-time form
    * stays available for callers that prefer it). Partition-wise like
    * [[mergeBm25Segments]]: only the batch partitions that lost a doc
    * are rewritten (materialized first — the overwrite replaces the
    * files they were read from), all-dead partitions are deleted
    * explicitly, and a crash at any point leaves partitions that are
    * each either compacted or in their pre-compaction state — both
    * correct, because the pair log the drops derive from is untouched
    * and a re-run (or the read-time [[compactLanded]]) re-derives them.
    * Returns (docs dropped, live docs rewritten). */
  def compactLandedInPlace(spark: SparkSession, outPath: String,
      statePath: String, staticCorpusIds: DataFrame, idCol: String)
      : (Long, Long) = {
    if (!hasParquetData(spark, outPath) || !Pairs.exists(spark, statePath))
      return (0L, 0L)
    val landed = spark.read.parquet(outPath)
    val pairs = Pairs.inferred(spark, statePath)
    val staticIds = staticCorpusIds.select(col(idCol).as("cid"))
    val drops = pairs.select(col("id_b").as("id"))
      .unionByName(pairs.join(staticIds, col("id_b") === col("cid"))
        .select(col("id_a").as("id")))
      .distinct()
    val deadBatches = landed.join(drops, landed(idCol) === drops("id"), "left_semi")
      .select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (deadBatches.isEmpty) return (0L, 0L)
    val affected = landed.filter(col("batch_id").isin(deadBatches: _*))
    val nAffected = affected.count()
    val live = affected.join(drops, affected(idCol) === drops("id"), "left_anti")
      .localCheckpoint()
    val nLive = live.count()
    val liveBatches = live.select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    // if the rewrite would leave outPath with NO data files (every
    // landed doc is a retro-drop loser), skip it: a data-file-less
    // partitioned directory fails schema inference for every later
    // reader, and the read-time [[compactLanded]] view already excludes
    // the rows — the reclaim just waits for a wave that lands survivors
    if (nLive == 0L) {
      val p = new org.apache.hadoop.fs.Path(outPath)
      val allBatches = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).iterator
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
        .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)
        .toSet
      if (allBatches.subsetOf(deadBatches.toSet)) return (0L, 0L)
    }
    live.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    deadBatches.filterNot(liveBatches).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/batch_id=$b"), true)
    }
    (nAffected - nLive, nLive)
  }

  /** The landed-corpus half of [[maintain]]'s input — present when the
    * maintenance window should also apply retro-drops to the promoted
    * corpus ([[compactLandedInPlace]]). */
  case class LandedCorpus(outPath: String, staticCorpusIds: DataFrame,
      idCol: String)

  /** ONE maintenance entry point for a gate `statePath` (composed or
    * solo — the layouts are identical): every retention and compaction
    * primitive this module ships, run on one cadence instead of five
    * separate calls. Steps, in order: re-prune every [[StateCatalog]]
    * snapshot (normally pruned inline per land; this is the safety net
    * for lands that crashed after the write and before the prune), apply
    * the BM25 and positional delete bitmaps ([[mergeBm25Segments]],
    * [[mergePosSegments]]), retro-drop the landed corpus when `landed`
    * is given ([[compactLandedInPlace]]), then [[compact]] every
    * append-only log (absent directories are skipped), then sweep the
    * at-rest artifact volume. Single-WRITER quiet window assumed,
    * like each primitive alone. READERS are isolated by the pinned-
    * read-version rule: the text serving paths ([[bm25ServeRolling]],
    * [[posServeRolling]], [[fuzzyServeRolling]]) eagerly pin their
    * probed rows at resolve time, the as-of snapshot readers
    * ([[labelsAsOf]], [[repAsOf]], [[semLabelsAsOf]], [[kanonAsOf]],
    * [[prAsOf]]) target exactly the latest+previous snapshots the
    * prunes retain and those families are never file-compacted here,
    * and [[grownIvfIndex]] pins its visible assignment deltas eagerly
    * at resolve time (cost bounded by since-last-retrain growth) — so
    * EVERY reader resolved BEFORE a maintenance window answers
    * identically after it (spec-pinned, both interleave orders, all
    * tiers — the ANN exception rounds 14–16 documented is closed).
    *
    * Every step is individually idempotent and crash-safe, and the
    * composition adds no new failure mode: a crash BETWEEN steps is
    * exactly a prefix run, every read path is green at every prefix,
    * and the next maintenance (or the next wave) picks up where it
    * died (spec-pinned by replaying all prefixes). Returns one
    * (task, before, after) row per step — counts mean partitions for
    * prunes, reclaimed/kept rows for the two rewrites, and data files
    * for the merges. */
  def maintain(spark: SparkSession, statePath: String,
      landed: Option[LandedCorpus] = None,
      targetBytes: Long = 128L << 20): Seq[(String, Long, Long)] =
    maintainSteps(spark, statePath, landed, targetBytes)
      .map { case (name, step) => val (b, a) = step(); (name, b, a) }

  /** [[maintain]]'s ordered step list — package-visible so the spec can
    * replay every crash prefix. */
  private[graft] def maintainSteps(spark: SparkSession, statePath: String,
      landed: Option[LandedCorpus], targetBytes: Long)
      : Seq[(String, () => (Long, Long))] = {
    Seq(
      tables.filter(_.kind == Snapshot).map(t =>
        s"prune_${t.name}" -> (() => t.prune(spark, statePath))),
      Seq("merge_bm25_segments" -> (() => mergeBm25Segments(spark, statePath)),
        "merge_pos_segments" -> (() => mergePosSegments(spark, statePath))),
      landed.toSeq.map { lc =>
        "compact_landed" -> (() => compactLandedInPlace(spark, lc.outPath,
          statePath, lc.staticCorpusIds, lc.idCol))
      },
      tables.filter(_.kind == Log).map(t =>
        s"compact_${t.name}" -> (() => t.compact(spark, statePath, targetBytes))),
      // the at-rest artifact volume's retention sweep (round 19): evict
      // every family's non-current fingerprints under that family's
      // FileLock — see [[graft.queries.ScaleOps.gcArtifacts]]. Reported
      // as (roots evicted, roots remaining).
      Seq("gc_artifacts" -> { () =>
        val evicted = graft.queries.ScaleOps.gcArtifacts()
        (evicted.size.toLong,
          graft.queries.ScaleOps.artifactManifest().size.toLong)
      })).flatten
  }

  /** Checkpointed parquet sink: exactly-once file output via the commit
    * log in `checkpoint` — restarting the query from the same checkpoint
    * resumes after the last committed batch instead of re-emitting it.
    * Returns the started query (caller stops it). */
  def sinkParquet(df: DataFrame, path: String, checkpoint: String)
      : StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Convenience: drain a streaming transform into an in-memory table and
    * block until all available data is processed (test/debug surface). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }
}
