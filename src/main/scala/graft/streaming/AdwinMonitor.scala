package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming ADWIN change detector (Bifet & Gavaldà 2007, "Learning from
  * Time-Changing Data with Adaptive Windowing" — ADWIN0 with the
  * exponential-histogram memory bound): per event type, daily counts
  * enter an ADAPTIVE window; whenever two sub-windows' means differ
  * beyond the Hoeffding-style cut
  * ε = √(1/(2m)·ln(4W/δ)), m = 1/(1/W₀ + 1/W₁),
  * the oldest buckets drop until no split disagrees. One row per closed
  * day: (type, day, n, width, mean_bp, cut).
  *
  * The division of labor on the live shelf: [[CusumMonitor]] and
  * [[PageHinkleyMonitor]] test against a CALLER-FITTED reference μ —
  * right when a trusted baseline exists; ADWIN needs NO reference and
  * no window size — it learns the current level and adapts its own
  * memory, which is the tool when the "normal" level itself drifts
  * legitimately (weekly growth) and a fixed μ would alarm forever. The
  * price is the weaker guarantee (Hoeffding bound, two-sided δ).
  *
  * Memory: the exponential histogram keeps ≤ M buckets per power-of-two
  * capacity class (M = 5 here, the paper's choice), so state is
  * O(M·log(W/M)) per type — bounded for any stream length. All bucket
  * sums/counts are exact longs; only the cut check floats.
  *
  * Days close by the day-count rules on [[WindowedMonitor]], through
  * [[DailyCounts]]. Two of those rules weigh more here than for the
  * fixed-reference monitors: a quiet type holds its last day, and its
  * state, indefinitely, which also delays ADWIN's adaptive cut decision;
  * and a late day's event clamps into the open day, so the window never
  * takes a day out of order.
  */
object AdwinMonitor {

  final case class Ev(event_type: String, ts: Timestamp) extends TypedEvent
  /** newest-first bucket lists: sums(i)/counts(i) is the i-th newest. */
  final case class AdwinState(
      day: Long, n: Long, sums: List[Long], counts: List[Long]) extends DayCount
  final case class DayRow(
      event_type: String, day: Long, n: Long,
      width: Long, mean_bp: Long, cut: Boolean)

  private val MaxPerClass = 5

  /** Merge the two OLDEST buckets of any capacity class exceeding
    * MaxPerClass (one pass per insertion keeps the histogram legal —
    * a merge can cascade into the next class, hence the loop).
    */
  private def compress(sums: List[Long], counts: List[Long])
      : (List[Long], List[Long]) = {
    var s = sums
    var c = counts
    var changed = true
    while (changed) {
      changed = false
      c.zipWithIndex.groupBy(_._1)
        .find { case (_, xs) => xs.size > MaxPerClass } match {
        case Some((_, xs)) =>
          // indices are newest-first: the two largest indices of this
          // class are the two OLDEST buckets — merge them, and the
          // merged (doubled-capacity) bucket takes the older slot so
          // temporal order stays intact
          val idx = xs.map(_._2).sorted.takeRight(2)
          val (i1, i2) = (idx(0), idx(1))
          val mergedSum = s(i1) + s(i2)
          val mergedCount = c(i1) + c(i2)
          val keep = s.indices.filterNot(i => i == i1 || i == i2)
          val pos = keep.count(_ < i2)
          s = keep.map(s).toList.patch(pos, List(mergedSum), 0)
          c = keep.map(c).toList.patch(pos, List(mergedCount), 0)
          changed = true
        case None =>
      }
    }
    (s, c)
  }

  /** Drop oldest buckets while any split's mean gap beats the cut. */
  private def detect(sums: List[Long], counts: List[Long], delta: Double)
      : (List[Long], List[Long], Boolean) = {
    var s = sums
    var c = counts
    var cut = false
    var again = true
    while (again && c.size > 1) {
      again = false
      val w = c.sum.toDouble
      val totS = s.sum.toDouble
      // walk splits oldest-side growing: suffix of the newest-first list
      var w0 = 0.0; var s0 = 0.0
      var k = c.size - 1
      var found = false
      while (k >= 1 && !found) {
        w0 += c(k); s0 += s(k)
        val w1 = w - w0
        val s1 = totS - s0
        if (w0 >= 1 && w1 >= 1) {
          val m = 1.0 / (1.0 / w0 + 1.0 / w1)
          val eps = math.sqrt(1.0 / (2 * m) * math.log(4 * w / delta))
          if (math.abs(s0 / w0 - s1 / w1) > eps) found = true
        }
        k -= 1
      }
      if (found) {
        // drop the single oldest bucket and re-check (the paper's loop)
        s = s.init
        c = c.init
        cut = true
        again = true
      }
    }
    (s, c, cut)
  }

  def monitor(
      events: Dataset[Ev],
      delta: Double = 0.01): Dataset[DayRow] = {
    require(delta > 0 && delta < 1, "confidence delta must be in (0, 1)")
    DailyCounts[Ev, AdwinState, DayRow](events, AdwinState(0L, 0L, Nil, Nil))(
        (s, d, n) => s.copy(day = d, n = n)) { (tpe, s) =>
      val (s1, c1) = compress(s.n :: s.sums, 1L :: s.counts)
      val (s2, c2, cutFlag) = detect(s1, c1, delta)
      val width = c2.sum
      val meanBp = math.floor(s2.sum.toDouble / width * 10000 + 0.5).toLong
      (DayRow(tpe, s.day, s.n, width, meanBp, cutFlag), s.copy(sums = s2, counts = c2))
    }
  }
}
