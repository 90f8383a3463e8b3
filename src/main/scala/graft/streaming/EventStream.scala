package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event operators. The reference is
  * batch-only (SURVEY §2.9) — batch is the parity surface — but the engine's
  * scale path for a continuously-arriving event feed is `readStream` over
  * the same transforms: identical logical plans, incremental execution.
  */
object EventStream {

  /** Event row as read from the events table (ts already converted from
    * nanos — see graft.operators.EventQueries). */
  final case class Event(event_id: Long, user_id: Long, ts_us: Long,
                         event_type: String, value: Double)

  final case class SessionizedEvent(user_id: Long, event_id: Long,
                                    session_seq: Long)

  // public: the state encoder's generated code instantiates it reflectively
  final case class SessionState(sessionSeq: Long, lastTsUs: Long)

  /** Watermarked tumbling-hour aggregation — the streaming twin of
    * EventQueries.eventsHourly. Works unchanged on a batch frame (the
    * watermark is a no-op there), which is how the spec cross-checks it. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: md5-fingerprint, first arrival of each distinct
    * payload kept. `dropDuplicatesWithinWatermark` is the load-bearing
    * choice: plain `dropDuplicates("fingerprint")` NEVER evicts state when
    * the event-time column is not part of the key set, so at 100 TB/day the
    * state store grows without bound. The within-watermark variant expires
    * each fingerprint once it falls behind the watermark horizon — the
    * horizon IS the dedup-memory design decision. Works identically on a
    * batch frame modulo state expiry. */
  def streamingDedup(docs: DataFrame, idCol: String, textCol: String,
                     tsCol: String, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col(idCol), col("fingerprint"))

  /** Watermarked stream-stream INTERVAL JOIN: every (view, purchase) pair
    * of the same user with the purchase inside `maxGapMinutes` after the
    * view — the canonical two-stream enrichment (Spark's stream-stream
    * join with an event-time range condition). Both sides carry a
    * watermark and the join condition bounds their time skew, which is
    * what lets the state store evict a view once the purchase-side
    * watermark passes `v_ts + maxGap` — at 100 TB/day the state held is
    * one join-window of data, not the stream's history. Inner-join
    * matches emit as soon as the second side arrives (append mode), so
    * the emitted set is the exact relational interval join as long as no
    * state was evicted before its partner arrived — the replay gate pins
    * that with an over-span horizon; bounded-horizon eviction is the
    * production memory/completeness trade. Works unchanged on batch
    * frames (watermarks are no-ops there). */
  def viewPurchaseJoin(events: DataFrame, maxGapMinutes: Long = 60,
                       horizon: String = "1 hour"): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_us").as("view_us"), timestamp_micros(col("ts_us")).as("v_ts"))
      .withWatermark("v_ts", horizon)
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"), timestamp_micros(col("ts_us")).as("p_ts"))
      .withWatermark("p_ts", horizon)
    v.join(p, expr("v_user = p_user AND p_ts >= v_ts AND " +
        s"p_ts <= v_ts + interval $maxGapMinutes minutes"))
      .select(col("p_user").as("user_id"), col("view_id"),
        col("purchase_id"), (col("p_us") - col("view_us")).as("gap_us"))
  }

  /** Event row with the derived event-time column the watermark rides on. */
  final case class EventTs(event_id: Long, user_id: Long, ts_us: Long,
                           event_type: String, value: Double,
                           event_ts: java.sql.Timestamp)

  final case class AttributedPurchase(event_id: Long, user_id: Long,
                                      purchase_us: Long,
                                      last_view_us: Option[Long])
  // public: the state encoder's generated code instantiates it reflectively
  final case class ViewState(lastViewUs: Long)

  final case class StageReached(user_id: Long, stage: Int, event_id: Long,
                                ts_us: Long)
  // public: the state encoder's generated code instantiates it reflectively
  final case class FunnelState(fvUs: Long, fcUs: Long, fpUs: Long)

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.operators.EventQueries.eventsFunnel]]: emits a row the moment
    * a user REACHES a new funnel stage (1 = first view, 2 = first click
    * after that view, 3 = first purchase after that click). Append-mode
    * streaming cannot revise rows, so where the batch operator reports
    * each user's final stage, the streaming twin reports the stage
    * TRANSITIONS as they happen — the shape an alerting or activation
    * pipeline consumes. Per-user state is three timestamps; idle users are
    * evicted behind the watermark + horizon like [[sessionize]] and
    * [[attribute]]. */
  def funnelStages(events: Dataset[Event], horizonMinutes: Long = 60)
                  (implicit spark: SparkSession): Dataset[StageReached] = {
    import spark.implicits._
    val streaming = events.isStreaming
    val horizon = s"$horizonMinutes minutes"
    val horizonMs = horizonMinutes * 60L * 1000L
    val U = Long.MaxValue // sentinel: stage not reached
    val withTs = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventTs], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.getOrElse(FunnelState(U, U, U))
            var lastEventUs = Long.MinValue
            val out = batch.flatMap { e =>
              lastEventUs = e.ts_us
              e.event_type match {
                case "view" if st.fvUs == U =>
                  st = st.copy(fvUs = e.ts_us)
                  Some(StageReached(userId, 1, e.event_id, e.ts_us))
                case "click" if st.fcUs == U && st.fvUs != U && e.ts_us > st.fvUs =>
                  st = st.copy(fcUs = e.ts_us)
                  Some(StageReached(userId, 2, e.event_id, e.ts_us))
                case "purchase" if st.fpUs == U && st.fcUs != U && e.ts_us > st.fcUs =>
                  st = st.copy(fpUs = e.ts_us)
                  Some(StageReached(userId, 3, e.event_id, e.ts_us))
                case _ => None
              }
            }
            // Only hold state for users with funnel progress: a stream of
            // never-viewing users (bot clicks, out-of-horizon views) must
            // not allocate sentinel-only state entries.
            if (st.fvUs != U) {
              state.update(st)
              if (streaming)
                state.setTimeoutTimestamp(
                  math.max(lastEventUs / 1000L + horizonMs,
                    state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
      }
  }

  /** Streaming as-of attribution — the twin of
    * [[graft.operators.EventQueries.eventsAttribution]]: each purchase is
    * attributed to the user's most recent view at or before it. Per-user
    * state is ONE timestamp (the running max view time), so total state is
    * O(active users) regardless of event volume — the property that makes
    * the as-of join streamable where a range join is not.
    *
    * State EVICTION mirrors [[sessionize]]: a user idle past the watermark
    * + `horizon` has their view state dropped, so a purchase after a long
    * absence reports a null attribution (batch, with its unbounded
    * lookback, would still attribute — the documented drift any bounded-
    * state streaming twin accepts; within-horizon data agrees exactly).
    * Cross-micro-batch ordering: a view arriving AFTER a purchase was
    * already emitted cannot retro-attribute it; in-order feeds agree with
    * batch. */
  def attribute(events: Dataset[Event], horizonMinutes: Long = 60)
               (implicit spark: SparkSession): Dataset[AttributedPurchase] = {
    import spark.implicits._
    val streaming = events.isStreaming
    val horizon = s"$horizonMinutes minutes"
    val horizonMs = horizonMinutes * 60L * 1000L
    val withTs = events
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .flatMapGroupsWithState[ViewState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventTs], state: GroupState[ViewState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var last: Option[Long] = state.getOption.map(_.lastViewUs)
            var lastEventUs = Long.MinValue
            val out = batch.flatMap { e =>
              lastEventUs = e.ts_us
              if (e.event_type == "view") {
                last = Some(last.fold(e.ts_us)(math.max(_, e.ts_us)))
                None
              } else Some(AttributedPurchase(e.event_id, userId, e.ts_us, last))
            }
            last.foreach(v => state.update(ViewState(v)))
            if (streaming && state.exists)
              state.setTimeoutTimestamp(
                math.max(lastEventUs / 1000L + horizonMs,
                  state.getCurrentWatermarkMs + 1))
            out.iterator
          }
      }
  }

  final case class RecentFeatures(user_id: Long, event_id: Long,
                                  n_prev: Int,
                                  max_prev_value: Option[Double],
                                  gap_us: Option[Long])

  /** Minimal per-event state record for the trailing history — only the
    * two fields the features read (the full EventTs would serialize
    * event_type/event_ts/redundant ids through RocksDB every batch,
    * ~2-3x the BYTES, for an operator whose point is small state).
    * Measured (an A/B of this processor against the full record at 10⁶
    * keys, recorded in SCALE.md): the byte saving
    * buys ~6% wall-clock on local disk, where per-key put/commit
    * overhead dominates — the trim pays where state bytes are the
    * constraint (remote changelog uploads, block-cache pressure, fat
    * payload columns); see SCALE.md. */
  final case class RecentEvent(ts_us: Long, value: Double)

  /** ONLINE FEATURE computation over a bounded per-user history — the
    * feature-store shape: for every event, features over that user's
    * PREVIOUS up-to-`n` events (count, max value, microseconds since the
    * immediately-previous event), emitted at event time. State is a
    * `transformWithState` ListState holding the trailing `n` events per
    * user — O(n) per key however long the stream runs — trimmed on every
    * append and evicted by the same re-armed event-time timer contract
    * as [[sessionizeTws]]. Equality contract: events are processed in
    * (ts_us, event_id) order (slices are time-contiguous, batches
    * sorted), so AS LONG AS NO EVICTION FIRES the emitted features equal
    * the batch window `rowsBetween(-n, -1)` over the same ordering
    * exactly — which is what the replay gate hash-pins (over-span
    * horizon). At a production horizon, a user idle past watermark + gap
    * has the history cleared and their next event restarts from
    * n_prev = 0 — the same bounded-state freshness trade [[attribute]]
    * and [[sessionize]] document (features older than the gap are stale
    * anyway); EventStreamSpec pins that reset behavior. */
  def recentFeaturesTws(events: Dataset[Event], n: Int = 5,
                        gapMinutes: Long = 30, horizon: String = "1 hour")
                       (implicit spark: SparkSession): Dataset[RecentFeatures] = {
    // n = 0 would leave the processor's post-append buffer empty and its
    // timer registration (buf.last) throwing at RUNTIME inside a task —
    // fail at plan-build time instead.
    require(n >= 1, s"trailing-history size must be >= 1; got $n")
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val withTs = events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .transformWithState(
        new RecentFeaturesProcessor(n, gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[RecentFeatures]])
  }

  /** Trailing-`n` event history as explicit ListState. */
  private final class RecentFeaturesProcessor(n: Int, gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventTs, RecentFeatures] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues}
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[RecentEvent] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[RecentEvent]("recent",
        org.apache.spark.sql.Encoders.product[RecentEvent], TTLConfig.NONE)

    override def handleInputRows(userId: Long, it: Iterator[EventTs],
                                 timerValues: TimerValues): Iterator[RecentFeatures] = {
      val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var buf: Vector[RecentEvent] =
        if (recent.exists()) recent.get().toVector else Vector.empty
      val out = batch.map { e =>
        val feats = RecentFeatures(userId, e.event_id, buf.size,
          if (buf.isEmpty) None else Some(buf.map(_.value).max),
          if (buf.isEmpty) None else Some(e.ts_us - buf.last.ts_us))
        buf = (buf :+ RecentEvent(e.ts_us, e.value)).takeRight(n)
        feats
      }
      recent.put(buf.toArray)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        math.max(buf.last.ts_us / 1000L + gapMs,
          timerValues.getCurrentWatermarkInMs + 1))
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[RecentFeatures] = {
      recent.clear()
      Iterator.empty
    }
  }

  final case class TypeCount(user_id: Long, event_id: Long,
                             event_type: String, n_prev_same_type: Long)

  /** ONLINE per-(user, event_type) running counts — the THIRD
    * `transformWithState` state shape (MapState), completing the typed
    * triad with [[sessionizeTws]]'s ValueState and [[recentFeaturesTws]]'s
    * ListState: for every event, emit how many of that user's PREVIOUS
    * events shared its type — the frequency feature a personalization or
    * abuse model reads at event time. State is ONE MapState[event_type →
    * count] per user: bounded by the type alphabet (and each entry is a
    * single long), not by stream length, and keyed access means a batch
    * touches only the types it contains — the property a ValueState
    * holding a whole map would lose (full deserialize/reserialize per
    * update). Evicted by the same re-armed event-time timer contract as
    * the sibling processors; after eviction a user's counts restart from
    * 0 — the bounded-state freshness trade every per-user operator here
    * documents. Equality contract: events processed in (ts_us, event_id)
    * order, so absent eviction the emitted counts equal the batch window
    * `COUNT(*) OVER (PARTITION BY user_id, event_type ORDER BY ts_us,
    * event_id ROWS UNBOUNDED PRECEDING → 1 PRECEDING)` exactly — what the
    * replay gate hash-pins across checkpointed restarts. Like the sibling
    * processors, ordering is per-BATCH: the contract additionally needs
    * equal-ts events of one user never split across replay batches in
    * event_id-inverted order, which the gate's slice cut guarantees (a
    * pure function of ts_us — asserted at slice-fixture build in
    * StreamGates.replaySlices). */
  def typeCountsTws(events: Dataset[Event], gapMinutes: Long = 30,
                    horizon: String = "1 hour")
                   (implicit spark: SparkSession): Dataset[TypeCount] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val withTs = events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .transformWithState(
        new TypeCountsProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[TypeCount]])
  }

  /** One initial-state row per user for [[typeCountsTwsWithInit]]:
    * parallel arrays of (event_type, running count) — a SINGLE row per
    * key, so the bootstrap is independent of whether the engine invokes
    * `handleInitialState` once per key or once per initial-state row. */
  final case class TypeSeed(user_id: Long, types: Array[String],
                            counts: Array[Long])

  /** [[typeCountsTws]] with BATCH-BOOTSTRAPPED state
    * (`StatefulProcessorWithInitialState` — the production migration
    * path: a backfill job computes per-key state from the historical
    * table, the streaming query starts FROM that state instead of
    * replaying history through the state store). `init` carries one
    * [[TypeSeed]] row per user (the per-type running counts the batch
    * leg computed); events then stream on top, and absent eviction the
    * combined batch + streamed output must equal the full batch window
    * exactly — what the replay gate hash-pins. Initial state applies
    * only on the FIRST query start; checkpointed restarts resume from
    * the state store and skip it (the semantics the gate's restart leg
    * exercises). */
  def typeCountsTwsWithInit(events: Dataset[Event], init: Dataset[TypeSeed],
                            gapMinutes: Long = 30, horizon: String = "1 hour")
                           (implicit spark: SparkSession): Dataset[TypeCount] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val withTs = events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .transformWithState(
        new TypeCountsProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append(),
        init.groupByKey(_.user_id),
        implicitly[org.apache.spark.sql.Encoder[TypeCount]],
        implicitly[org.apache.spark.sql.Encoder[TypeSeed]])
  }

  /** Per-user running type counts as explicit MapState — ONE processor
    * for both the cold-start and the bootstrapped gate:
    * `StatefulProcessorWithInitialState` IS a `StatefulProcessor`, so
    * the plain `transformWithState` overload accepts it and simply never
    * invokes `handleInitialState` (q_stream_typecounts_tws), while the
    * initial-state overload loads the batch-computed per-type counts
    * into the MapState before the first input batch
    * (q_stream_typecounts_init). No timer is armed for
    * bootstrapped-only users — their first live event arms one exactly
    * like a cold-start user's. */
  private final class TypeCountsProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, EventTs, TypeCount, TypeSeed] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues}
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(userId: Long, seed: TypeSeed,
                                    timerValues: TimerValues): Unit = {
      var i = 0
      while (i < seed.types.length) {
        counts.updateValue(seed.types(i), seed.counts(i))
        i += 1
      }
    }

    override def handleInputRows(userId: Long, it: Iterator[EventTs],
                                 timerValues: TimerValues): Iterator[TypeCount] = {
      val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var lastTsUs = Long.MinValue
      val out = batch.map { e =>
        val prev =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L
        counts.updateValue(e.event_type, prev + 1L)
        lastTsUs = e.ts_us
        TypeCount(userId, e.event_id, e.event_type, prev)
      }
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        math.max(lastTsUs / 1000L + gapMs,
          timerValues.getCurrentWatermarkInMs + 1))
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TypeCount] = {
      counts.clear()
      Iterator.empty
    }
  }

  /** [[sessionize]] on Spark 4's `transformWithState` — the state API a
    * NEW deployment would build on (SPARK-49564: explicit typed state
    * handles + first-class timers, replacing flatMapGroupsWithState's
    * single state object + timeout conflation; requires the RocksDB
    * state-store provider). Identical per-user gap logic and output; the
    * behavioral twin the A/B gate (q_stream_sessionize_tws) hash-pins
    * against the classic operator. State is one ValueState[SessionState]
    * per user (O(1)); eviction is an explicit event-time timer at
    * last-event + gap, re-armed per batch exactly like the classic
    * `setTimeoutTimestamp` (delete-then-register: one live timer per
    * key). Timers fire only when the watermark passes them, so the
    * over-span-horizon replay contract carries over unchanged. */
  def sessionizeTws(events: Dataset[Event], gapMinutes: Long = 30,
                    horizon: String = "1 hour")
                   (implicit spark: SparkSession): Dataset[SessionizedEvent] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    val withTs = events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapUs, gapMs),
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[SessionizedEvent]])
  }

  /** The per-user session state machine as a `StatefulProcessor` — the
    * explicit-handle form of [[sessionize]]'s closure. */
  private final class SessionizeProcessor(gapUs: Long, gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventTs, SessionizedEvent] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues}
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, it: Iterator[EventTs],
                                 timerValues: TimerValues): Iterator[SessionizedEvent] = {
      // Micro-batch iterators are unordered within the group: sort by
      // event time before applying the gap rule (same as the classic op).
      val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = if (state.exists()) state.get() else SessionState(0L, Long.MinValue)
      val out = batch.map { e =>
        val newSession = st.sessionSeq == 0L || e.ts_us - st.lastTsUs > gapUs
        st = SessionState(if (newSession) st.sessionSeq + 1 else st.sessionSeq,
          e.ts_us)
        SessionizedEvent(userId, e.event_id, st.sessionSeq)
      }
      state.update(st)
      // One live eviction timer per key, re-armed each batch: delete the
      // stale one, then arm at gap-close (strictly ahead of the watermark
      // — the same contract setTimeoutTimestamp enforced).
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        math.max(st.lastTsUs / 1000L + gapMs,
          timerValues.getCurrentWatermarkInMs + 1))
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionizedEvent] = {
      // Idle past watermark + gap: nothing can join this session any
      // more — drop the state, emit nothing.
      state.clear()
      Iterator.empty
    }
  }

  /** Stateful sessionization with `flatMapGroupsWithState`: per-user state
    * carries (current session seq, last event time); a >`gapMinutes` gap
    * opens a new session.
    *
    * State is EVICTED via `EventTimeTimeout`: a user's state expires once
    * the watermark passes their last event + session gap (the session can
    * never continue past the gap anyway, so eviction is lossless for
    * in-watermark data; a user returning later simply restarts session
    * numbering — the same bounded-memory contract as streamingDedup's
    * horizon). Without this, idle users' state grows without bound at
    * stream scale. `horizon` is the watermark lateness allowance — NOTE
    * the watermark also means streaming events arriving more than
    * `horizon` behind the max seen event time are dropped as late before
    * the session function runs (the earlier NoTimeout version had no
    * watermark and sessionized every event, at unbounded state cost);
    * batch execution is unaffected. */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30,
                 horizon: String = "1 hour")
                (implicit spark: SparkSession): Dataset[SessionizedEvent] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    // Timeouts never fire in batch execution, and batch GroupState has no
    // watermark to read — only register them on a real stream.
    val streaming = events.isStreaming
    val withTs = events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .as[EventTs]
      .withWatermark("event_ts", horizon)
    withTs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventTs], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Idle past watermark + gap: nothing can join this session any
            // more — drop the state, emit nothing.
            state.remove()
            Iterator.empty
          } else {
            // Micro-batch iterators are unordered within the group: sort by
            // event time before applying the gap rule.
            val batch = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            val out = batch.map { e =>
              val newSession = st.sessionSeq == 0L || e.ts_us - st.lastTsUs > gapUs
              st = SessionState(if (newSession) st.sessionSeq + 1 else st.sessionSeq,
                e.ts_us)
              SessionizedEvent(userId, e.event_id, st.sessionSeq)
            }
            state.update(st)
            if (streaming) {
              // Expire when the gap closes; a timeout must sit strictly
              // ahead of the current watermark (late groups otherwise throw).
              state.setTimeoutTimestamp(
                math.max(st.lastTsUs / 1000L + gapMs,
                  state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
      }
  }
}
