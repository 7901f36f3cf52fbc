package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming ROC-AUC monitor — the live twin of
  * [[graft.operators.Ranking.scoreAuc]]: scored, labeled predictions
  * accumulate per source into a fixed k-bin score histogram within
  * event-time windows, and when a window rolls over one row
  * (source, window_start, n_pos, n_neg, auc, cum_auc, alarm) is emitted.
  * AUC dropping below a caller floor trips the alarm — the "has this
  * quality signal stopped separating the classes?" tripwire behind any
  * threshold a filter config trained offline.
  *
  * Exact Mann-Whitney AUC needs a global rank over every score in the
  * window — O(events) state, which a monitor must not hold. The bounded
  * form: quantize scores into k caller-declared bins and keep only the
  * per-bin positive/negative counts (state O(sources × bins), never
  * events). Over binned scores the midrank Mann-Whitney statistic has
  * the closed form
  *   AUC = Σ_b pos_b · (negBelow_b + neg_b/2) / (P·N)
  * — each positive beats the negatives in strictly lower bins and
  * half-ties with negatives in its own bin — which is EXACTLY the batch
  * operator's tie-adjusted rank arithmetic whenever the live scores are
  * already bin-quantized (the spec pins decision-for-decision agreement
  * with [[graft.operators.Ranking.scoreAuc]] on such a frame, same
  * floor-form 1e-4 display rounding). For continuous scores the binned
  * statistic is the standard histogram AUC estimate whose bias is
  * bounded by the bin resolution the caller chose.
  *
  * Like [[CusumMonitor]] and [[ConformalMonitor]], the frame of
  * reference (score range, bin count, AUC floor) is CALLER-SUPPLIED from
  * the batch side; event-time window rollover inside the sorted
  * micro-batch keeps emission deterministic under replay. The cumulative
  * AUC rides the same histogram — histograms are mergeable, so the
  * since-start statistic costs no extra state class.
  */
object AucMonitor {

  final case class Scored(source: String, ts: Timestamp, score: Double, label: Boolean)
      extends SourceEvent

  final case class HistState(
      win: Long, pos: Seq[Long], neg: Seq[Long],
      cumPos: Seq[Long], cumNeg: Seq[Long]) extends InWindow

  final case class WinRow(
      source: String, window_start: Long, n_pos: Long, n_neg: Long,
      auc: Double, cum_auc: Double, alarm: Boolean)

  /** Tie-adjusted AUC from a binned histogram; NaN when a class is absent
    * (mirrors the batch operator's 0/0 on single-class input). */
  private def histAuc(pos: Seq[Long], neg: Seq[Long]): Double = {
    val p = pos.sum
    val n = neg.sum
    var negBelow = 0L
    var num = 0.0
    var b = 0
    while (b < pos.length) {
      num += pos(b).toDouble * (negBelow.toDouble + neg(b).toDouble / 2)
      negBelow += neg(b)
      b += 1
    }
    math.floor(num / (p.toDouble * n.toDouble) * 10000 + 0.5) / 10000
  }

  def monitor(
      events: Dataset[Scored],
      scoreMin: Double,
      scoreMax: Double,
      bins: Int,
      aucFloor: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(bins > 0 && bins <= 65536, "bins in [1, 65536]")
    require(scoreMax > scoreMin, "need scoreMax > scoreMin")
    require(windowMs > 0, "windowMs must be positive")
    val width = (scoreMax - scoreMin) / bins
    val zero = Vector.fill(bins)(0L)
    WindowedMonitor[Scored, HistState, WinRow](events, windowMs)(
      open = w => HistState(w, zero, zero, zero, zero),
      step = (st, e) => {
        val b = math.min(bins - 1,
          math.max(0, math.floor((e.score - scoreMin) / width).toInt))
        if (e.label)
          st.copy(pos = st.pos.updated(b, st.pos(b) + 1L),
            cumPos = st.cumPos.updated(b, st.cumPos(b) + 1L))
        else
          st.copy(neg = st.neg.updated(b, st.neg(b) + 1L),
            cumNeg = st.cumNeg.updated(b, st.cumNeg(b) + 1L))
      },
      emit = (src, s) => {
        val auc = histAuc(s.pos, s.neg)
        Some(WinRow(src, s.win * windowMs, s.pos.sum, s.neg.sum, auc,
          histAuc(s.cumPos, s.cumNeg),
          // a single-class window can't witness separation loss
          !auc.isNaN && auc < aucFloor))
      },
      carry = (s, w) => HistState(w, zero, zero, s.cumPos, s.cumNeg))
  }
}
