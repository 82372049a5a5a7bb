package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via the typed KeyValueGroupedDataset API —
  * the Spark-native replacement for hand-rolled per-key state machines.
  *
  * `sessionCounts` maintains one small state record per user (last event
  * time + running session/event counters) and emits the updated totals on
  * every batch. State size is O(active users) and independent of event
  * volume — the property that lets this run indefinitely at stream scale.
  *
  * `sessionRows` emits one row per CLOSED session instead, and drops a
  * user's state when an event-time timeout closes the session, so a user
  * seen once on day 1 does not hold state forever. Event-time (not
  * processing-time) closing keeps the semantics deterministic and
  * replay-safe — the same input stream closes the same sessions
  * regardless of wall-clock pacing.
  */
object Sessionize {

  final case class UserEvent(event_id: Long, ts_us: Long, user_id: Long)
  /** `UserEvent` plus the TimestampType column the watermark is declared
    * on — EventTimeTimeout requires the watermarked attribute to survive
    * into the stateful operator's child plan, so `sessionRows` groups this
    * shape instead of projecting `ts` away.
    */
  final case class UserEventTs(event_id: Long, ts_us: Long, user_id: Long,
                               ts: java.sql.Timestamp)
  final case class SessionState(lastTsUs: Long, nSessions: Long, nEvents: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)
  /** The one open session a user can have: its start, the last event seen,
    * and the running event count. This is the ENTIRE per-key state of
    * `sessionRows` — O(1) per active user, independent of session length.
    */
  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long)
  /** One CLOSED session — the emit-once row shape a downstream consumer
    * (session table, funnel join, retention model) actually wants, vs the
    * per-user running totals `sessionCounts` refreshes every batch.
    */
  final case class SessionRow(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)

  /** Gaps-and-islands sessionization as streaming state: a new session
    * starts when the gap since the user's previous event exceeds
    * `gapMinutes`. Events inside one batch are sorted by (ts, id) before
    * folding — the group iterator carries no order guarantee.
    */
  def updateUser(gapUs: Long)(
      user: Long, events: Iterator[UserEvent],
      state: GroupState[SessionState]): Iterator[UserSessions] = {
    val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
    sorted.foreach { e =>
      val newSession = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs
      st = SessionState(e.ts_us,
        st.nSessions + (if (newSession) 1 else 0),
        st.nEvents + 1)
    }
    if (sorted.nonEmpty) state.update(st)
    if (sorted.isEmpty) Iterator.empty
    else Iterator.single(UserSessions(user, st.nSessions, st.nEvents))
  }

  /** Per-session fold for `sessionRows`: a session CLOSES in exactly two
    * ways, and each closure emits its row exactly once.
    *
    *   1. In-data gap break: an event arrives more than `gapUs` after the
    *      open session's last event — the open session is final (no
    *      non-late event can land inside it any more), so it emits and the
    *      new event opens the next session.
    *   2. Watermark close: the event-time timeout fires once the watermark
    *      passes `last_event + gap` with no further data for the key —
    *      at that point NO event the watermark still admits can extend the
    *      session, so it is provably complete: emit and drop the state.
    *
    * The timeout is armed at session-end + gap (clamped just above the
    * current watermark, which Spark requires), so emission latency is the
    * session gap plus the watermark delay — the earliest moment the row is
    * semantically final. Events inside one batch are sorted by (ts, id)
    * before folding; the group iterator carries no order guarantee.
    */
  def closeUserSessions(gapUs: Long)(
      user: Long, events: Iterator[UserEventTs],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      Iterator.single(SessionRow(user, st.startUs, st.lastUs, st.nEvents))
    } else {
      val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val closed = Seq.newBuilder[SessionRow]
      var open = state.getOption
      sorted.foreach { e =>
        open = open match {
          case Some(st) if e.ts_us - st.lastUs > gapUs =>
            closed += SessionRow(user, st.startUs, st.lastUs, st.nEvents)
            Some(OpenSession(e.ts_us, e.ts_us, 1L))
          case Some(st) =>
            Some(OpenSession(st.startUs, e.ts_us, st.nEvents + 1L))
          case None =>
            Some(OpenSession(e.ts_us, e.ts_us, 1L))
        }
      }
      open.foreach { st =>
        state.update(st)
        state.setTimeoutTimestamp(math.max(st.lastUs / 1000L + gapUs / 1000L,
          state.getCurrentWatermarkMs() + 1L))
      }
      closed.result().iterator
    }
  }

  /** Streaming sessionization that emits ONE ROW PER CLOSED SESSION
    * (user, start, end, n_events) — the session-table sink shape — in
    * append mode, as sessions become semantically final (gap break or
    * watermark passing session-end + gap). State is one `OpenSession` per
    * active user and is removed at watermark close, so long-idle users cost
    * nothing; `lateMinutes` is the watermark delay (lateness tolerance).
    */
  def sessionRows(events: Dataset[UserEvent], gapMinutes: Int,
                  lateMinutes: Int): Dataset[SessionRow] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionRow]
    implicit val keyEnc = Encoders.scalaLong
    implicit val evEnc = Encoders.product[UserEventTs]
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$lateMinutes minutes")
      .as[UserEventTs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        closeUserSessions(gapMinutes.toLong * 60L * 1000000L))
  }

  /** Wire a (streaming or batch) typed event Dataset through the stateful
    * operator. Update output mode: each batch emits refreshed per-user
    * totals for users seen in that batch.
    */
  def sessionCounts(events: Dataset[UserEvent], gapMinutes: Int): Dataset[UserSessions] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[UserSessions]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        updateUser(gapMinutes.toLong * 60L * 1000000L))
  }
}
