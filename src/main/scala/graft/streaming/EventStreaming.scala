package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured Streaming over the `events` shape (event_id, ts,
  * user_id, event_type, value): the streaming face of the engine.
  * The reference is batch-only (SURVEY §1.1 — "incremental" means
  * date-partitioned batch), so these are the engine's forward path:
  * the same transforms run on `readStream` sources unchanged.
  *
  * Each function takes a (possibly streaming) DataFrame and returns a
  * lazy plan — callers attach `writeStream` with their sink/trigger.
  */
object EventStreaming {

  /** Windowed per-type revenue: event-time tumbling windows with a
    * watermark bounding state (late events beyond it are dropped). */
  def windowedTotals(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", windowLen), $"event_type")
      .agg(sum($"value").as("total_value"),
        count(lit(1)).as("n_events"))
      .select($"window.start".as("window_start"),
        $"window.end".as("window_end"),
        $"event_type", $"total_value", $"n_events")
  }

  /** Late-data accounting: total input rows the WATERMARK silently
    * discarded across a query's recent progress (summed over every
    * stateful operator's `numRowsDroppedByWatermark`). Structured
    * Streaming drops too-late rows without any data-plane signal, so
    * an ingest SLO has to read the control plane — this is the number
    * a completeness dashboard alarms on ("0.3% of events arrive
    * beyond the 2-hour watermark; widen it or accept the loss").
    * Snapshot-valued: `recentProgress` is a bounded ring buffer
    * (spark.sql.streaming.numRecentProgressUpdates), so poll and
    * accumulate per batch for lifetime totals. */
  def lateDrops(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator)
      .map(_.numRowsDroppedByWatermark)
      .sum

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String,
                         value: Double)
  final case class SessionState(start: Long, lastSeen: Long,
                                nEvents: Long, totalValue: Double)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp,
                           n_events: Long, total_value: Double)

  private def toSession(key: Long, s: SessionState): Session =
    Session(key, new java.sql.Timestamp(s.start),
      new java.sql.Timestamp(s.lastSeen), s.nEvents, s.totalValue)

  /** The gap rule for one event: `e` extends the `open` session when it
    * falls within `gapMillis` of its last event; otherwise it starts a
    * new session and the open one (returned first) closes. */
  def nextSession(open: Option[SessionState], e: Event,
                  gapMillis: Long): (Option[SessionState], SessionState) = {
    val t = e.ts.getTime
    open match {
      case Some(s) if t - s.lastSeen <= gapMillis =>
        (None, s.copy(lastSeen = math.max(s.lastSeen, t),
          nEvents = s.nEvents + 1, totalValue = s.totalValue + e.value))
      case closed => (closed, SessionState(t, t, 1, e.value))
    }
  }

  /** One key's events folded in time order through [[nextSession]],
    * starting from `open`: the sessions they closed and the session
    * left open. */
  def foldSessions(open: Option[SessionState], rows: Iterator[Event],
                   gapMillis: Long): (Seq[SessionState], Option[SessionState]) =
    rows.toSeq.sortBy(_.ts.getTime)
      .foldLeft((Vector.empty[SessionState], open)) {
        case ((closed, cur), e) =>
          val (done, next) = nextSession(cur, e, gapMillis)
          (closed ++ done, Some(next))
      }

  /** Per-user sessionization with an inactivity gap: custom state via
    * flatMapGroupsWithState (the engine's arbitrary-stateful path).
    * A session closes when a later event arrives past `gapMillis`
    * (data-driven, deterministic). Pass
    * `GroupStateTimeout.ProcessingTimeTimeout()` to ALSO close idle
    * sessions on quiet streams — that trigger is wall-clock-driven,
    * so keep the default for reproducible batch tests. */
  def sessionize(events: Dataset[Event],
                 gapMillis: Long = 30L * 60 * 1000,
                 timeout: GroupStateTimeout =
                   GroupStateTimeout.NoTimeout(),
                 emitOpen: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val useTimeout =
      timeout == GroupStateTimeout.ProcessingTimeTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(toSession(userId, s))
          } else {
            val (closed, cur) =
              foldSessions(state.getOption, rows, gapMillis)
            val flushed = cur match {
              case Some(st) if emitOpen =>
                // batch mode: each key is visited exactly once, so the
                // trailing session must flush here or it is lost
                state.remove()
                closed :+ st
              case Some(st) =>
                state.update(st)
                if (useTimeout) state.setTimeoutDuration(gapMillis)
                closed
              case None => closed
            }
            flushed.iterator.map(toSession(userId, _))
          }
      }
  }

  /** Per-user sessionization on the Spark 4 arbitrary-state v2 API
    * (`transformWithState`), with EVENT-TIME timers closing idle
    * sessions: a timer is (re)registered at `lastSeen + gap` on every
    * update and fires when the watermark passes it — deterministic
    * and replayable, unlike the wall-clock ProcessingTimeTimeout of
    * the v1 path above. State lives in the RocksDB state store
    * (required by this API), so per-key state scales far past heap.
    * Data-driven closes (a later event beyond the gap) behave exactly
    * like [[sessionize]].
    *
    * Extends `StatefulProcessorWithInitialState` (an IS-A of plain
    * `StatefulProcessor`), so the SAME class serves both the cold
    * start ([[sessionizeTws]]) and the batch-cutover bootstrap
    * ([[sessionizeBootstrapped]]) — bootstrapped keys load their open
    * session and arm its idle timer before the first micro-batch. */
  final class SessionProcessor(gapMillis: Long)
      extends StatefulProcessorWithInitialState[
        Long, Event, Session, SessionState] {

    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    /** One live timer per key, at the current idle deadline. */
    private def armTimer(deadline: Long): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(deadline)
    }

    override def handleInitialState(key: Long, initial: SessionState,
                                    tv: TimerValues): Unit = {
      state.update(initial)
      armTimer(initial.lastSeen + gapMillis)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Session] = {
      val (closed, cur) = foldSessions(
        if (state.exists) Some(state.get) else None, rows, gapMillis)
      cur.foreach { st =>
        state.update(st)
        armTimer(st.lastSeen + gapMillis)
      }
      closed.iterator.map(toSession(key, _))
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[Session] =
      if (state.exists &&
          state.get.lastSeen + gapMillis <= info.getExpiryTimeInMs) {
        val s = state.get
        state.clear()
        Iterator.single(toSession(key, s))
      } else Iterator.empty
  }

  /** [[SessionProcessor]] wired to a watermarked stream. `watermark`
    * bounds how late events may arrive; the idle-timeout timers fire
    * off the same watermark clock. */
  def sessionizeTws(events: Dataset[Event],
                    gapMillis: Long = 30L * 60 * 1000,
                    watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[SessionProcessor]] with its INITIAL-STATE bootstrap wired in:
    * `initial` carries (user_id, open-session state) rows from the
    * batch backfill — e.g. the still-open tail of
    * `sessionize(history, emitOpen = false)`'s state, or a snapshot
    * table the batch job wrote at cutover — loaded into the state
    * store (timers armed) before the first micro-batch, so the
    * batch-to-stream cutover loses no in-flight sessions. */
  def sessionizeBootstrapped(events: Dataset[Event],
                             initial: Dataset[(Long, SessionState)],
                             gapMillis: Long = 30L * 60 * 1000,
                             watermark: String = "0 seconds")
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMillis),
        TimeMode.EventTime(), OutputMode.Append(),
        initial.groupByKey(_._1).mapValues(_._2))
  }

  final case class ChannelSession(user_id: Long, channel: String,
                                  session_start: java.sql.Timestamp,
                                  session_end: java.sql.Timestamp,
                                  n_events: Long, total_value: Double)

  /** CONCURRENT per-channel sessions under one key: a user's clicks
    * and views (different devices, surfaces, event types) session
    * independently, so the per-user state is a `MapState[channel →
    * SessionState]` instead of a single value — the state-v2 API's
    * multi-entity-per-key shape. One event-time timer per user fires
    * at the EARLIEST open deadline; on expiry every overdue channel
    * closes and the timer re-arms at the next-earliest remaining one.
    *
    * Scale note: MapState reads/writes individual map entries from
    * RocksDB — a hot user with many channels never deserializes the
    * whole map per event, which is exactly why this beats a
    * ValueState[Map[...]] spelling at scale. */
  final class ChannelSessionProcessor(gapMillis: Long)
      extends StatefulProcessor[Long, Event, ChannelSession] {

    @transient private var state: MapState[String, SessionState] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getMapState("channel_sessions",
        Encoders.STRING, Encoders.product[SessionState], TTLConfig.NONE)
      armed = getHandle.getValueState("armed_deadline",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def toSession(key: Long, ch: String,
                          s: SessionState): ChannelSession =
      ChannelSession(key, ch, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.lastSeen), s.nEvents, s.totalValue)

    /** One live timer per key at the EXACT earliest open deadline,
      * tracked incrementally in `armed` so the input path never scans
      * the whole map (the point of MapState for hot users). A touched
      * channel can only LOWER the min (handled in O(1) by
      * [[pullEarlier]]) — unless it was itself the min-holder, which
      * the per-entry read detects (its old deadline == the armed
      * timer); only then does [[rearmExact]] rescan. So the full scan
      * runs once per gap expiry or min-holder extension, not once per
      * input batch. */
    private def pullEarlier(candidate: Long): Unit =
      if (!armed.exists || candidate < armed.get) {
        if (armed.exists) getHandle.deleteTimer(armed.get)
        getHandle.registerTimer(candidate)
        armed.update(candidate)
      }

    private def rearmExact(): Unit = {
      val deadlines = state.values().map(_.lastSeen + gapMillis).toSeq
      if (deadlines.isEmpty) {
        if (armed.exists) { getHandle.deleteTimer(armed.get); armed.clear() }
      } else if (!armed.exists || armed.get != deadlines.min) {
        if (armed.exists) getHandle.deleteTimer(armed.get)
        getHandle.registerTimer(deadlines.min)
        armed.update(deadlines.min)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues)
        : Iterator[ChannelSession] = {
      val closed =
        scala.collection.mutable.ListBuffer.empty[ChannelSession]
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      var minHolderMoved = false
      val armedAt = if (armed.exists) armed.get else Long.MinValue
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val ch = e.event_type
        val old = Option(state.getValue(ch))
        if (old.exists(_.lastSeen + gapMillis == armedAt))
          minHolderMoved = true
        val (done, next) = nextSession(old, e, gapMillis)
        closed ++= done.map(toSession(key, ch, _))
        state.updateValue(ch, next)
        touched += ch
      }
      if (minHolderMoved) rearmExact()
      else if (touched.nonEmpty) {
        // min over the FINAL deadlines of touched channels (per-entry
        // reads — intermediate deadlines within the batch are stale)
        val finals = touched.iterator
          .flatMap(ch => Option(state.getValue(ch)))
          .map(_.lastSeen + gapMillis)
        if (finals.nonEmpty) pullEarlier(finals.min)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[ChannelSession] = {
      // the one place the map is scanned whole — once per gap expiry
      val (expired, live) = state.iterator().toSeq
        .partition { case (_, s) =>
          s.lastSeen + gapMillis <= info.getExpiryTimeInMs }
      expired.foreach { case (ch, _) => state.removeKey(ch) }
      if (armed.exists && armed.get == info.getExpiryTimeInMs)
        armed.clear()
      if (live.nonEmpty)
        pullEarlier(live.map(_._2.lastSeen + gapMillis).min)
      else if (armed.exists && armed.get != info.getExpiryTimeInMs) {
        getHandle.deleteTimer(armed.get); armed.clear()
      }
      expired.iterator.map { case (ch, s) => toSession(key, ch, s) }
    }
  }

  /** [[ChannelSessionProcessor]] wired to a watermarked stream. */
  def sessionizeByChannel(events: Dataset[Event],
                          gapMillis: Long = 30L * 60 * 1000,
                          watermark: String = "0 seconds")
      : Dataset[ChannelSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new ChannelSessionProcessor(gapMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class Burst(user_id: Long, burst_start: java.sql.Timestamp,
                         burst_end: java.sql.Timestamp, n_events: Long)

  /** Velocity/burst detector: alert when one user produces ≥ `n`
    * events inside a trailing `windowMillis` — the fraud-check state
    * shape. Per-user state is a `ListState` ring of recent event
    * times, trimmed on every input (so it never exceeds `n−1`
    * entries), plus one event-time timer at last-activity + window
    * that clears an idle user's ring — idle users cost zero state.
    * (A processing-time TTL would also GC the ring, but processing-
    * time mode schedules a no-data micro-batch per trigger FOREVER —
    * a livelock under processAllAvailable; the event-time timer only
    * fires when the watermark moves.)
    * Alert-and-reset: emitting a burst clears the ring, so a sustained
    * flood alerts once per `n` events rather than once per event. */
  final class BurstProcessor(n: Int, windowMillis: Long)
      extends StatefulProcessor[Long, Event, Burst] {

    @transient private var recent: ListState[Long] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState("recent_ts", Encoders.scalaLong,
        TTLConfig.NONE)
      armed = getHandle.getValueState("burst_gc", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Burst] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      recent.get().foreach(buf += _)
      val out = scala.collection.mutable.ListBuffer.empty[Burst]
      var maxT = Long.MinValue
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        maxT = math.max(maxT, t)
        // keep the ring SORTED: a nonzero watermark delay admits
        // cross-batch out-of-order events, and both the trim and the
        // burst span below assume time order (the ring is ≤ n long,
        // so the in-place sort is trivial)
        buf += t
        if (buf.length > 1 && t < buf(buf.length - 2)) buf.sortInPlace()
        // trim relative to the ring's NEWEST entry, not this event —
        // an out-of-order arrival must not widen the window
        val cut = buf.last - windowMillis
        while (buf.nonEmpty && buf.head < cut) buf.remove(0)
        if (buf.length >= n) {
          out += Burst(key, new java.sql.Timestamp(buf.head),
            new java.sql.Timestamp(buf.last), buf.length.toLong)
          buf.clear()
        }
      }
      recent.clear()
      if (buf.nonEmpty) recent.put(buf.toArray)
      if (maxT != Long.MinValue) {
        // single GC timer at last activity + window, re-armed LATER
        // only — an out-of-order batch (maxT below a previous batch's)
        // must never pull the deadline earlier than live entries need
        val dl = maxT + windowMillis
        if (!armed.exists || dl > armed.get) {
          if (armed.exists) getHandle.deleteTimer(armed.get)
          getHandle.registerTimer(dl)
          armed.update(dl)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[Burst] = {
      recent.clear(); armed.clear()
      Iterator.empty
    }
  }

  /** [[BurstProcessor]] wired to a watermarked stream (event-time
    * mode: the GC timer fires off the watermark clock). */
  def detectBursts(events: Dataset[Event], n: Int = 3,
                   windowMillis: Long = 5L * 60 * 1000,
                   watermark: String = "0 seconds")
      : Dataset[Burst] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new BurstProcessor(n, windowMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // -------------------------------------------------- online features
  final case class UserFeatures(user_id: Long, n_events: Long,
                                n_purchases: Long, total_value: Double,
                                last_seen: java.sql.Timestamp)

  /** Online feature-store maintenance — the streaming twin of the
    * batch feature snapshot (EventOps q120). A ValueState row per user
    * carries the running features; each micro-batch folds its rows in
    * (ts, event_id) order — data-defined, so replays reproduce the
    * same fold — and emits ONE updated row per TOUCHED user, the
    * upsert a feature store ingests. Untouched users emit nothing, so
    * output volume tracks input, not state size.
    *
    * 100 TB design: state is one fixed-size row per user in RocksDB
    * (point get + put per touched key, no timers, no map scans);
    * Update output keyed on user_id makes the sink an idempotent
    * upsert. Trailing-window features (q120's 7-day slice) belong in
    * the BATCH snapshot read off this state's changelog — keeping an
    * event buffer per user here would turn O(users) state into
    * O(events). */
  final class FeatureProcessor
      extends StatefulProcessor[Long, Event, UserFeatures] {
    @transient private var st: ValueState[UserFeatures] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("features",
        Encoders.product[UserFeatures], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues)
        : Iterator[UserFeatures] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var f =
        if (st.exists()) st.get()
        else UserFeatures(key, 0L, 0L, 0.0, new java.sql.Timestamp(0L))
      sorted.foreach { e =>
        f = UserFeatures(key, f.n_events + 1,
          f.n_purchases + (if (e.event_type == "purchase") 1L else 0L),
          f.total_value + e.value,
          if (e.ts.getTime > f.last_seen.getTime) e.ts else f.last_seen)
      }
      st.update(f)
      Iterator.single(f)
    }
  }

  /** [[FeatureProcessor]] wired to a stream: no timers, no watermark
    * dependency — pure keyed state maintenance in Update mode. */
  def maintainFeatures(events: Dataset[Event]): Dataset[UserFeatures] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FeatureProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // --------------------------------------------- touch attribution
  final case class Attribution(user_id: Long, purchase_id: Long,
                               first_touch: String, last_touch: String,
                               value: Double)
  final case class TouchState(first_touch: String, last_touch: String)

  /** Streaming first/last-touch attribution — the streaming twin of
    * the batch q178 report. One ValueState row per user carries the
    * first-ever and most recent non-purchase event type; each
    * purchase emits an attribution row crediting both, the same
    * allocation q178 derives with a keyed window over full history.
    * Purchases before any touch emit nothing (q178's
    * `first_touch IS NOT NULL` gate). Each micro-batch folds in
    * (ts, event_id) order, so crash-replays reproduce the same walk.
    *
    * 100 TB design: state is two strings per user (O(users),
    * timer-free, point get/put per touched key); output volume tracks
    * purchases, not events. The q178 census aggregates these rows
    * downstream. Late cross-batch reordering is accepted the way
    * every online attribution system accepts it — the batch q178 over
    * the event log is the reconciliation. */
  final class AttributionProcessor
      extends StatefulProcessor[Long, Event, Attribution] {
    @transient private var st: ValueState[TouchState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("touches",
        Encoders.product[TouchState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues)
        : Iterator[Attribution] = {
      val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[Attribution]
      var s = if (st.exists()) st.get() else TouchState(null, null)
      sorted.foreach { e =>
        if (e.event_type == "purchase") {
          if (s.first_touch != null)
            out += Attribution(key, e.event_id, s.first_touch,
              s.last_touch, e.value)
        } else {
          s = TouchState(
            if (s.first_touch == null) e.event_type else s.first_touch,
            e.event_type)
        }
      }
      st.update(s)
      out.result().iterator
    }
  }

  /** [[AttributionProcessor]] wired to a stream: pure keyed state,
    * no timers — Append mode (attribution rows are immutable facts). */
  def attributeStream(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ------------------------------------------------ drift monitoring
  final case class DriftAlarm(event_type: String, ts: java.sql.Timestamp,
                              side: String, cusum: Double)
  final case class CusumState(up: Double, dn: Double)

  /** Streaming CUSUM drift monitor — the streaming twin of the batch
    * q158 detector, split the way production monitoring splits: the
    * BATCH tier fits the baseline (per-type μ/σ, the q158 profile)
    * and the stream folds each arriving value into one-sided CUSUM
    * state against that FIXED baseline (allowance k = σ/2, threshold
    * h = 4σ), emitting an alarm row the moment either side crosses h
    * and then resetting that side — alert-and-reset, so a sustained
    * level shift alarms once per crossing rather than once per event
    * (the BurstProcessor contract).
    *
    * State is TWO DOUBLES per event_type (O(types), timer-free);
    * each micro-batch folds in (ts, event_id) order so crash-replays
    * reproduce the same walk. Types absent from the baseline emit
    * nothing — monitoring without a baseline is noise. */
  final class DriftProcessor(baseline: Map[String, (Double, Double)])
      extends StatefulProcessor[String, Event, DriftAlarm] {
    @transient private var st: ValueState[CusumState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("cusum",
        Encoders.product[CusumState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[DriftAlarm] =
      baseline.get(key) match {
        case Some((mu, sigma)) if sigma > 0.0 =>
          val k = sigma * 0.5
          val h = sigma * 4.0
          var s = if (st.exists()) st.get() else CusumState(0.0, 0.0)
          val out = scala.collection.mutable.ListBuffer.empty[DriftAlarm]
          rows.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach {
            e =>
              var up = math.max(0.0, s.up + (e.value - mu - k))
              var dn = math.max(0.0, s.dn + (mu - e.value - k))
              if (up > h) { out += DriftAlarm(key, e.ts, "up", up); up = 0.0 }
              if (dn > h) { out += DriftAlarm(key, e.ts, "down", dn); dn = 0.0 }
              s = CusumState(up, dn)
          }
          st.update(s)
          out.iterator
        case _ => Iterator.empty
      }
  }

  /** [[DriftProcessor]] wired to a stream: pure keyed state, no
    * timers, Append mode (alarms are immutable facts). */
  def monitorDrift(events: Dataset[Event],
                   baseline: Map[String, (Double, Double)])
      : Dataset[DriftAlarm] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new DriftProcessor(baseline),
        TimeMode.None(), OutputMode.Append())
  }

  /** STREAM-STREAM interval join: each purchase enriched with the same
    * user's signup inside the trailing `lookback` — the streaming
    * attribution join. Both sides carry watermarks and the join
    * condition bounds event time on both ends, so Spark can EXPIRE
    * buffered state (an unbounded-condition stream-stream join would
    * grow state forever — the interval bound is what makes this run
    * indefinitely on a cluster). */
  def purchaseAttribution(events: DataFrame,
                          lookback: String = "7 days",
                          watermark: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"),
        $"value".as("purchase_value"))
      .withWatermark("p_ts", watermark)
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("s_ts"), $"value".as("signup_value"))
      .withWatermark("s_ts", watermark)
    purchases.as("p").join(signups.as("s"),
      expr(s"""p.user_id = s.user_id AND
               s_ts <= p_ts AND s_ts >= p_ts - INTERVAL $lookback"""))
      .select($"p.user_id", $"purchase_id", $"p_ts",
        $"purchase_value", $"s_ts", $"signup_value")
  }
}
