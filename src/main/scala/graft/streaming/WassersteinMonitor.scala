package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming 1-Wasserstein drift monitor — the live twin of
  * [[graft.operators.Quality.wassersteinDistance]] (paired with
  * [[KsMonitor]] the way the batch audits pair: KS flags the worst CDF
  * gap, W₁ prices the whole move): scored events count into
  * caller-supplied fixed bins per source, and at event-time window
  * rollover the transport distance between the window's binned sample
  * and the CALLER-SUPPLIED reference histogram is emitted, in BIN-INDEX
  * units. Cost above a caller ceiling trips the alarm.
  *
  * Parity on the quantized axis is term-for-term, not approximate: the
  * monitor walks the PRESENT bins (reference or window mass — exactly
  * the distinct values the batch operator would see on bin-quantized
  * samples), takes the same BigInt cross-mass numerator per gap, the
  * same floor(term·2²⁰) per-gap quantization, the same integer sum, and
  * the same floor-form display — so it EQUALS `Quality
  * .wassersteinDistance` run on the bin indices (spec-pinned).
  * Calibration (cuts + reference histogram) stays the batch side's job,
  * the X214–X227 division.
  *
  * State is O(sources × bins) counters — never events.
  */
object WassersteinMonitor extends Serializable {

  type Scored = ScoreHistogram.Scored
  val Scored = ScoreHistogram.Scored

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      w1: Double, cum_w1: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      cuts: Seq[Double],
      refCounts: Seq[Long],
      w1Ceiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val bins = refCounts.length
    val nRef: Long = refCounts.sum
    // the batch operator's per-gap walk on the quantized axis: distinct
    // values = bins where EITHER side has mass; gap = index distance;
    // floor(term*2^20) integers sum exactly as the batch sum does
    def w1Of(counts: Seq[Long]): Double = {
      val nCur = counts.sum
      var s2 = 0L
      var prev = -1
      var cumR = 0L
      var cumC = 0L
      var prevNum = BigInt(0)
      var b = 0
      while (b < bins) {
        if (refCounts(b) + counts(b) > 0) {
          if (prev >= 0) {
            val term = prevNum.toDouble * (b - prev).toDouble /
              (nRef.toDouble * nCur.toDouble) * 1048576
            s2 += math.floor(term).toLong
          }
          cumR += refCounts(b)
          cumC += counts(b)
          prevNum = (BigInt(cumR) * nCur - BigInt(cumC) * nRef).abs
          prev = b
        }
        b += 1
      }
      math.floor(s2.toDouble / 1048576 * 10000 + 0.5) / 10000
    }
    ScoreHistogram.scored(events, cuts, refCounts, w1Ceiling > 0, windowMs) {
      (src, start, n, counts, cum) =>
        val d = w1Of(counts)
        WinRow(src, start, n, d, w1Of(cum), d > w1Ceiling)
    }
  }
}
