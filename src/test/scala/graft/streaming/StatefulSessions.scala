package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Two stateful-operator formulations of [[EventStreams.sessionizeBatch]]
  * (the qe1 path), kept as its cross-checks: StreamingSpec runs them over
  * the same events, in one batch and across micro-batches, and compares
  * their per-user counts with the window-function form.
  */
object StatefulSessions {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)
  private case class SessionState(lastEpoch: Long, sessions: Long, events: Long)

  /** Streaming-stateful sessionization via mapGroupsWithState — the custom
    * per-key state operator (KeyValueGroupedDataset) the §2.10 mandate asks
    * for. Batch-callable too (state then spans the whole group at once).
    *
    * ORDERING CONTRACT: events are sorted within each micro-batch, but the
    * compact state keeps only `lastEpoch` — an event arriving in a LATER
    * batch with an EARLIER timestamp (out-of-order across batches) cannot
    * retroactively re-split earlier sessions. Such a late event is folded
    * into the current session and never rewinds `lastEpoch` (so it cannot
    * fabricate a new session for the next on-time event either). For
    * exact event-time semantics under disorder, use the native
    * `session_window` path (qe3 in SparkEntry) with a watermark, which
    * buffers per-window state until the watermark closes it.
    */
  def sessionizeStateful(events: Dataset[Event], gapSec: Long = 1800): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionSummary](GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val epoch = e.ts.getTime / 1000
            val isNew = st.lastEpoch == Long.MinValue || epoch - st.lastEpoch > gapSec
            // math.max: a cross-batch late event joins the current session
            // but must not rewind the gap anchor (see ordering contract)
            st = SessionState(math.max(st.lastEpoch, epoch), st.sessions + (if (isNew) 1 else 0), st.events + 1)
          }
          state.update(st)
          SessionSummary(userId, st.sessions, st.events)
      }
  }

  /** Event-time-correct stateful sessionization: events buffer in per-key
    * state and sessions finalize only when the EVENT-TIME timeout fires
    * (watermark passes last-seen + gap), so cross-batch disorder within
    * the watermark horizon cannot mis-split sessions — the exactness
    * `sessionizeStateful`'s compact state gives up (see its ordering
    * contract). Cost: state holds the key's in-flight events, bounded by
    * the watermark horizon; emission is deferred until quiescence.
    *
    * Output contract (inherent to Append mode): one `SessionSummary` per
    * QUIESCENCE EPOCH, not per key. State is removed when the event-time
    * timeout fires, so a key that becomes active again after a summary was
    * emitted starts from zero and eventually emits a SECOND independent
    * row. Downstream consumers wanting per-key lifetime totals must
    * aggregate (`groupBy(user_id).agg(sum(sessions), sum(events))`) —
    * summaries are disjoint (each event counted in exactly one row), so
    * the sums are exact. The batch twin (`sessionize`) emits exactly one
    * row per key because it sees the whole input at once.
    */
  /** State for `sessionizeBuffered`: running summary of watermark-closed
    * sessions + the still-open tail buffer. Public: the streaming state
    * encoder generates accessor code for it.
    */
  case class BufferedSessions(sessions: Long, events: Long, lastEpoch: Long, buf: List[Event])

  def sessionizeBuffered(events: Dataset[Event], gapSec: Long = 1800): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._

    def fold(st: BufferedSessions, sorted: Seq[Event]): BufferedSessions =
      sorted.foldLeft(st) { (s, e) =>
        val epoch = e.ts.getTime / 1000
        val isNew = s.lastEpoch == Long.MinValue || epoch - s.lastEpoch > gapSec
        BufferedSessions(
          s.sessions + (if (isNew) 1 else 0),
          s.events + 1,
          math.max(s.lastEpoch, epoch),
          s.buf)
      }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BufferedSessions, SessionSummary](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[BufferedSessions]) =>
          val zero = BufferedSessions(0L, 0L, Long.MinValue, Nil)
          if (state.hasTimedOut) {
            val st0 = state.getOption.getOrElse(zero)
            state.remove()
            val done = fold(st0, st0.buf.sortBy(e => (e.ts.getTime, e.event_id)))
            Iterator.single(SessionSummary(userId, done.sessions, done.events))
          } else {
            val st0 = state.getOption.getOrElse(zero)
            val merged = (st0.buf ++ it).sortBy(e => (e.ts.getTime, e.event_id))
            // Compaction keeps state bounded by the watermark horizon even
            // for a continuously-active key: events at least one full gap
            // older than the watermark can neither be re-split nor re-joined
            // by any in-watermark arrival, so their prefix folds into the
            // running (sessions, events, lastEpoch) summary and only the
            // open tail stays buffered.
            val foldBoundary = state.getCurrentWatermarkMs() / 1000 - gapSec
            val (closed, open) = merged.partition(_.ts.getTime / 1000 <= foldBoundary)
            val st = fold(st0, closed).copy(buf = open)
            state.update(st)
            // finalize once the watermark clears the last event by a full
            // gap. Clamp above the current watermark: a LATE event
            // (admitted by Spark — flatMapGroupsWithState does not
            // pre-filter) can put lastMs+gap below the watermark, and
            // setTimeoutTimestamp throws on a sub-watermark target.
            val foldedMs = if (st.lastEpoch == Long.MinValue) Long.MinValue else st.lastEpoch * 1000
            val openMs = if (open.isEmpty) Long.MinValue else open.iterator.map(_.ts.getTime).max
            val lastMs = math.max(foldedMs, openMs)
            state.setTimeoutTimestamp(math.max(lastMs + gapSec * 1000, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}
