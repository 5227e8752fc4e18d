package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One raw event for stateful streaming sessionization. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state kept per user (seconds since epoch). */
case class SessionState(
    start: Long, last: Long, n_events: Long, sum_value: Double)

/** A closed session emitted downstream. */
case class ClosedSession(
    user_id: Long, session_start: Long, n_events: Long,
    sum_value: Double, duration_secs: Long)

/** Stateful Structured Streaming sessionization: the incremental form
  * of the batch Events.sessionize, run end to end (file source → state
  * store → checkpointed sink) by graft.tools.StreamSmoke.
  *
  * At cluster scale: the state store is keyed by user_id — partition
  * count = shuffle partitions; the watermark bounds state size so
  * 100 TB/day of events holds only the open sessions.
  */
object StreamingAggs {

  /** Stateful streaming sessionization: gap-based sessions per user
    * via flatMapGroupsWithState — the streaming twin of the batch
    * Events.sessionize (same 30-min-gap semantics).
    *
    * A session closes two ways, both emitting exactly one row:
    *  - inline, when a user's next event arrives more than `gapSecs`
    *    after their previous one;
    *  - by EVENT-TIME TIMEOUT, when the watermark passes
    *    last-event + gap with no new events (state is removed — this
    *    is what bounds state size at 100 TB/day: open sessions only,
    *    keyed by user, expired by watermark, never a full history).
    */
  def sessionizeStream(
      events: Dataset[SessionEvent], gapSecs: Long,
      disorderDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      // disorderDelay is the cross-batch event-time disorder the
      // stream tolerates before an event counts as late — a real feed
      // sets it to its observed skew (the 0s default assumes ordered
      // arrival, fine for tests, lossy on production streams)
      .withWatermark("ts", disorderDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def close(s: SessionState) = ClosedSession(
            uid, s.start, s.n_events, s.sum_value, s.last - s.start)
          if (state.hasTimedOut) {
            val out = close(state.get)
            state.remove()
            Iterator(out)
          } else {
            // events within one micro-batch are not order-guaranteed
            val evs = it.map(e => (e.ts.getTime / 1000L, e.value)).toSeq.sortBy(_._1)
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption
            evs.foreach { case (sec, v) =>
              open match {
                case Some(s) if sec - s.last <= gapSecs =>
                  open = Some(SessionState(s.start, sec, s.n_events + 1, s.sum_value + v))
                case Some(s) =>
                  closed += close(s)
                  open = Some(SessionState(sec, sec, 1L, v))
                case None =>
                  open = Some(SessionState(sec, sec, 1L, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              // flatMapGroupsWithState does NOT pre-filter late rows
              // (the watermark only drives timeouts/eviction), so a
              // group touched by BELOW-watermark events — arrival
              // disorder past disorderDelay — computes a timeout in
              // the past, which the API rejects and the whole QUERY
              // dies (r20, found by the advise-mode smoke's
              // tie-broken file ordering). Clamp to just past the
              // watermark: the late-touched session then closes at
              // the next watermark advance — the same best-possible
              // answer a correct-delay stream would give it, and a
              // one-group degradation instead of a query failure.
              state.setTimeoutTimestamp(math.max(
                (s.last + gapSecs) * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            }
            closed.result().iterator
          }
      }
  }
}
