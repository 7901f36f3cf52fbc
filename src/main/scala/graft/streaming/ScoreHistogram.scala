package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** What the binned two-sample monitors share — [[KsMonitor]],
  * [[KuiperMonitor]], [[CvmMonitor]], [[WassersteinMonitor]] and
  * [[ScoreDriftMonitor]] (and, with its own tokenized event,
  * [[DriftMonitor]]): one scored event, one O(bins) window-plus-cumulative
  * histogram state, the batch side's bin draw and the validation of the
  * caller's cuts and reference histogram. Each monitor is then its
  * statistic over a window's `counts` plus its row.
  */
object ScoreHistogram {

  final case class Scored(source: String, ts: Timestamp, value: Double)
      extends SourceEvent

  final case class HistState(win: Long, counts: Seq[Long], cumCounts: Seq[Long])
      extends InWindow {
    private[streaming] def bump(b: Int): HistState =
      copy(counts = counts.updated(b, counts(b) + 1L),
        cumCounts = cumCounts.updated(b, cumCounts(b) + 1L))
  }

  /** The batch operator's bin draw: the first cut the value is below,
    * else the last bin (cuts are the B−1 ascending reference quantiles). */
  def binOf(v: Double, cuts: Seq[Double]): Int = {
    var i = 0
    while (i < cuts.length && !(v < cuts(i))) i += 1
    i
  }

  /** A window-histogram monitor over `bins` bins: `binsOf` draws each
    * event's bins, and `row(src, windowStart, n, counts, cumCounts)`
    * renders a closed window holding n > 0 counts. */
  private[streaming] def monitor[E <: SourceEvent, O <: Product : TypeTag](
      events: Dataset[E], bins: Int, windowMs: Long)(binsOf: E => Iterator[Int])(
      row: (String, Long, Long, Seq[Long], Seq[Long]) => O): Dataset[O] = {
    val zero = Vector.fill(bins)(0L)
    WindowedMonitor[E, HistState, O](events, windowMs)(
      open = w => HistState(w, zero, zero),
      step = (s, e) => binsOf(e).foldLeft(s)(_.bump(_)),
      emit = (src, s) => {
        val n = s.counts.sum
        if (n > 0) Some(row(src, s.win * windowMs, n, s.counts, s.cumCounts)) else None
      },
      carry = (s, w) => HistState(w, zero, s.cumCounts))
  }

  /** [[monitor]] over scored events binned by `cuts`, after the checks
    * every binned two-sample monitor makes of its calibration products;
    * `ceilingPositive` is the monitor's own alarm-ceiling check. */
  private[streaming] def scored[O <: Product : TypeTag](
      events: Dataset[Scored], cuts: Seq[Double], refCounts: Seq[Long],
      ceilingPositive: Boolean, windowMs: Long)(
      row: (String, Long, Long, Seq[Long], Seq[Long]) => O): Dataset[O] = {
    val bins = refCounts.length
    require(bins > 1 && cuts.length == bins - 1,
      "need B >= 2 reference bins and B-1 cutpoints")
    require(cuts.zip(cuts.tail).forall { case (a, b) => a <= b },
      "cutpoints must be non-decreasing")
    require(refCounts.forall(_ >= 0) && refCounts.sum > 0,
      "reference histogram must be non-negative with positive mass")
    require(ceilingPositive && windowMs > 0, "positive ceiling and window")
    val cutsArr = cuts.toArray
    monitor(events, bins, windowMs)(e => Iterator.single(binOf(e.value, cutsArr)))(row)
  }
}
