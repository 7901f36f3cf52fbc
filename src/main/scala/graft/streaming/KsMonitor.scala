package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming two-sample Kolmogorov-Smirnov monitor — the live twin of
  * [[graft.operators.Quality.ksTest]] (the r13 batch audit shipped
  * without one): scored events arriving per source count into
  * caller-supplied fixed bins, and when an event-time window rolls over
  * the KS distance between the window's binned sample and the
  * CALLER-SUPPLIED reference histogram is emitted — "how far apart are
  * the CDFs anywhere, JUST NOW?", where the batch operator answers it
  * between snapshots. Distance above a caller ceiling trips the alarm
  * (KS D is in [0, 1]; 0.1 is a common drift tripwire).
  *
  * A live monitor cannot keep the batch operator's exact per-value CDFs
  * (state would grow with distinct values), so it monitors the
  * BIN-QUANTIZED distributions — and on those it is arithmetic parity,
  * not approximation: the supremum is the integer cross-mass max
  * |cumRef_b·n_cur − cumCur_b·n_ref| over bin boundaries (BigInt, the
  * CalibrationMonitor discipline), divided once and floor-rounded to 4
  * digits exactly like the batch ks_d — so the monitor equals
  * `Quality.ksTest` run on the bin indices (spec-pinned term-for-term).
  * Bin edges AND the reference histogram are the batch side's job to
  * produce (percentileValues cuts + one binned count — the X214–X227
  * division: batch calibrates, stream monitors).
  *
  * State is O(sources × bins) counters — never events; the cumulative
  * distance rides the same mergeable histogram.
  */
object KsMonitor extends Serializable {

  type Scored = ScoreHistogram.Scored
  val Scored = ScoreHistogram.Scored

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      ks_d: Double, cum_ks_d: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      cuts: Seq[Double],
      refCounts: Seq[Long],
      ksCeiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val bins = refCounts.length
    // reference cumulative masses, precomputed once on the driver
    val nRef: Long = refCounts.sum
    val cumRef: Array[Long] = refCounts.scanLeft(0L)(_ + _).tail.toArray
    // the batch supremum on a window histogram: integer cross-masses at
    // every bin boundary (a superset of ksTest's distinct-value axis —
    // boundaries absent from both samples repeat the previous cumulative
    // pair and never move the max), ONE division, the batch ks_d
    // floor-form display rounding
    def ksOf(counts: Seq[Long]): Double = {
      val nCur = counts.sum
      var cum = 0L
      var best = BigInt(0)
      var b = 0
      while (b < bins) {
        cum += counts(b)
        val num = (BigInt(cumRef(b)) * nCur - BigInt(cum) * nRef).abs
        if (num > best) best = num
        b += 1
      }
      val d = best.toDouble / (nRef.toDouble * nCur.toDouble)
      math.floor(d * 10000 + 0.5) / 10000
    }
    ScoreHistogram.scored(events, cuts, refCounts, ksCeiling > 0, windowMs) {
      (src, start, n, counts, cum) =>
        val d = ksOf(counts)
        WinRow(src, start, n, d, ksOf(cum), d > ksCeiling)
    }
  }
}
