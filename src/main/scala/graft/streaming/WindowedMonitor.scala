package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

/** An event a windowed monitor folds: keyed by `source`, placed by `ts`. */
private[streaming] trait SourceEvent {
  def source: String
  def ts: Timestamp
}

/** A windowed monitor's per-source state: `win` is the open window's
  * index (event time ÷ window length). */
private[streaming] trait InWindow {
  def win: Long
}

/** The one window-rollover core behind the windowed monitors (Auc,
  * Calibration, Conformal, Cvm, Drift, Ks, Kuiper, Parity, Precision,
  * ScoreDrift, Sprt, TopK, Wasserstein). It owns the per-source
  * `flatMapGroupsWithState(Append, NoTimeout)` plan, the stable ts sort of
  * each micro-batch, the clamp rule, the rollover and the output buffer;
  * a monitor supplies only
  *   - `open(w)`: the empty state of window `w`, for a source's first event;
  *   - `step(s, e)`: fold one event into the open window;
  *   - `emit(src, s)`: the rows of a window being closed (none, one or many);
  *   - `carry(s, w)`: the state of window `w` after `s` closes — what the
  *     cumulative columns keep, and any reset (SprtMonitor's decided test).
  *
  * The emission contract of the whole family:
  *   - Only closed windows emit. A window closes when an event of a LATER
  *     window arrives for the same source, so each source emits every
  *     window but its last. A closed window has folded at least one event.
  *   - A late event — older than the source's open window, which only a
  *     later micro-batch can deliver — clamps into the open window. A
  *     close-and-reopen would emit a `window_start` twice and split one
  *     window's counts across two rows.
  *   - A source that goes quiet holds its last window, and its state,
  *     indefinitely: there is no timeout and no eviction, so state grows
  *     with the number of sources ever seen.
  *   - Within a micro-batch, events fold in ts order by a stable sort, so
  *     ties keep the order the group's rows arrive in (TopKMonitor's
  *     Misra–Gries fold depends on it).
  *
  * The day-count monitors ([[CusumMonitor]], [[PageHinkleyMonitor]],
  * [[AdwinMonitor]]) follow the same rules with the event-time day as the
  * window, a late day's event included: it clamps into the open day, so
  * no day is emitted twice. They share [[DailyCounts]].
  */
private[streaming] object WindowedMonitor {

  def apply[E <: SourceEvent, S <: InWindow with Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[E], windowMs: Long)(
      open: Long => S,
      step: (S, E) => S,
      emit: (String, S) => IterableOnce[O],
      carry: (S, Long) => S): Dataset[O] =
    events
      .groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[E], state: GroupState[S]) =>
          val sorted = batch.toSeq.sortBy(_.ts.getTime)
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(open(sorted.head.ts.getTime / windowMs))
            val out = ArrayBuffer.empty[O]
            sorted.foreach { e =>
              val w = e.ts.getTime / windowMs
              if (w > st.win) {
                out ++= emit(src, st)
                st = carry(st, w)
              }
              st = step(st, e)
            }
            state.update(st)
            out.iterator
          }
      }(Encoders.product[S], Encoders.product[O])
}
