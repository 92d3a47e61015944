package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.Schemas.Event

/** Custom-state streaming: gap-based sessionization with
  * `flatMapGroupsWithState` (the stateful primitive beyond windowed
  * aggregation — SURVEY.md §2.7 notes the reference never needed it;
  * a training-data event pipeline does).
  *
  * A session = consecutive events of one user with gaps < `gapMinutes`;
  * closed sessions are emitted once (append semantics).
  *
  * Correctness under disorder: events may arrive across micro-batches
  * in any order within the watermark. State per user is the buffer of
  * events not yet provably final; a session is emitted only once
  * `session_end + gap <= watermark` — any future event has
  * `t >= watermark >= end + gap`, so it can neither merge into the
  * emitted session nor extend it backwards. That makes the streamed
  * output EXACTLY the batch sessionization of the non-late events
  * (state is O(events inside the watermark horizon) per user — the
  * price of exactness; an O(1) open-session accumulator silently
  * absorbs out-of-order events that predate the open session).
  *
  * Works identically on a batch Dataset via [[sessionizeBatch]]
  * (sort-within-group implementation) — used as the oracle for the
  * streamed path in SessionizeSpec.
  */
object Sessionize {

  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long, total_value: Double)

  /** Buffered (ts, value) events awaiting a watermark that closes them. */
  case class EventBuffer(events: Vector[(Long, Double)])

  /** Streaming path: exact event-time sessionization with bounded
    * buffering (see object scaladoc).
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EventBuffer, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[EventBuffer]) =>
          val incoming = it.map(e => (e.ts.getTime, e.value)).toVector
          val buffered = state.getOption.map(_.events).getOrElse(Vector.empty)
          val all = (buffered ++ incoming).sorted
          val wm = state.getCurrentWatermarkMs()
          val sessions = sessionsOf(userId, all, gapMs)
          // a session is final iff nothing at/after the watermark can touch it
          val (closed, open) = sessions.partition(s =>
            s.session_end.getTime + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            val keepFrom = open.head.session_start.getTime
            state.update(EventBuffer(all.filter(_._1 >= keepFrom)))
            // wake when the earliest open session becomes closable
            state.setTimeoutTimestamp(open.head.session_end.getTime + gapMs)
          }
          closed.iterator
      }
  }

  /** Sessions of one user's time-sorted events. */
  private def sessionsOf(userId: Long, sorted: Vector[(Long, Double)],
                         gapMs: Long): Vector[Session] = {
    val out = Vector.newBuilder[Session]
    var start, end, n = 0L
    var sum = 0.0
    var openFlag = false
    sorted.foreach { case (t, v) =>
      if (!openFlag) { start = t; end = t; n = 1; sum = v; openFlag = true }
      else if (t - end < gapMs) { end = math.max(end, t); n += 1; sum += v }
      else {
        out += Session(userId, new Timestamp(start), new Timestamp(end), n, sum)
        start = t; end = t; n = 1; sum = v
      }
    }
    if (openFlag)
      out += Session(userId, new Timestamp(start), new Timestamp(end), n, sum)
    out.result()
  }

  /** Batch oracle: same session semantics via sort-within-group,
    * including each user's final (still-open) session.
    */
  def sessionizeBatch(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
      val sorted = it.map(e => (e.ts.getTime, e.value)).toVector.sorted
      sessionsOf(userId, sorted, gapMs).iterator
    }
  }
}
