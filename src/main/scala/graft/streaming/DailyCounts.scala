package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

/** A day-count monitor's event: keyed by `event_type`, placed by `ts`. */
private[streaming] trait TypedEvent {
  def event_type: String
  def ts: Timestamp
}

/** A day-count monitor's per-type state: the open day and its count. */
private[streaming] trait DayCount {
  def day: Long
  def n: Long
}

/** The day loop of the day-count monitors: count each event type's
  * events per event-time day and, when an event of a LATER day arrives,
  * close the open day through the monitor's `close` (one row, and the
  * state its sums carry) and open the new day. An event of an EARLIER
  * day — which only a later micro-batch can deliver — clamps into the
  * open day, as [[WindowedMonitor]] clamps a late event: each day is
  * emitted once, with its count whole, and the sums fold days in order.
  * `at(s, day, n)` sets a state's day and count.
  */
private[streaming] object DailyCounts {

  val DayMs = 86400000L

  def apply[E <: TypedEvent, S <: DayCount with Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[E], zero: S)(
      at: (S, Long, Long) => S)(
      close: (String, S) => (O, S)): Dataset[O] =
    events
      .groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[E], state: GroupState[S]) =>
          val sorted = batch.toSeq.sortBy(_.ts.getTime)
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(at(zero, sorted.head.ts.getTime / DayMs, 0L))
            val out = ArrayBuffer.empty[O]
            sorted.foreach { e =>
              val d = e.ts.getTime / DayMs
              if (d > st.day) {
                val (row, closed) = close(tpe, st)
                out += row
                st = at(closed, d, 1L)
              } else st = at(st, st.day, st.n + 1)
            }
            state.update(st)
            out.iterator
          }
      }(Encoders.product[S], Encoders.product[O])
}
