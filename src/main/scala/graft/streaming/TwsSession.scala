package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState, ExpiredTimerInfo}
import graft.streaming.EventsStream.{Event, SessionState, SessionOut}

/** The same 30-minute-gap sessionization as
  * [[EventsStream.sessionizeWithState]], expressed on Spark 4's
  * `transformWithState` — the successor API to
  * map/flatMapGroupsWithState and the one new stateful operators should
  * target. What the new API buys at scale:
  *
  *  - **Typed state primitives** (ValueState/ListState/MapState) stored
  *    as individually-addressable RocksDB entries — a MapState update
  *    touches one entry, where GroupState serializes the whole state
  *    object per key per batch. (transformWithState REQUIRES the
  *    RocksDB provider — the heap provider isn't supported.)
  *  - **Explicit timers** (register/delete, multiple per key) instead of
  *    the single implicit timeout slot.
  *  - **State TTL** per state variable (TTLConfig) — retention without
  *    hand-rolled timestamp bookkeeping.
  *  - Schema evolution support for state types across restarts.
  *
  * Semantics here are IDENTICAL to the fMGWS version by construction
  * (same fold, same merge rules) and [[TwsSessionSpec]] pins the two
  * implementations' outputs equal on the same input stream — the
  * migration-path witness for every custom state machine in this
  * library. */
object TwsSession {

  private val gapMs = 30L * 60 * 1000

  final class SessionProcessor
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      // same machine as sessionizeWithState: sort by full-precision event
      // time, fold, emit sessions closed by in-batch gaps, keep the open
      // session in state with a timer at its gap horizon
      val sorted = rows.toSeq.sortBy(e => EventsStream.micros(e.ts))
      var cur = Option(state.get())
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts.getTime - s.lastTs.getTime < gapMs =>
            cur = Some(SessionState(
              if (e.ts.before(s.start)) e.ts else s.start,
              if (e.ts.after(s.lastTs)) e.ts else s.lastTs,
              s.n + 1, s.total + e.value))
          case Some(s) =>
            closed += SessionOut(userId, s.start, s.n, s.total)
            cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
          case None =>
            cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // replace any previous horizon with the new one (explicit timer
        // management — the API allows several, this machine wants one).
        // Materialize the listing first: deleting while the state-store
        // iterator is open is mutation-under-iteration.
        getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.lastTs.getTime + gapMs)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = Option(state.get())
        .map(s => SessionOut(userId, s.start, s.n, s.total)).toSeq
      state.clear()
      out.iterator
    }
  }

  /** transformWithState twin of [[EventsStream.sessionizeWithState]]. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
