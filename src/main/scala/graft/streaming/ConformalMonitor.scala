package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming conformal-coverage monitor — the live twin of
  * [[graft.operators.Quality.conformalInterval]]: per source, predictions
  * scored against the batch-calibrated interval ŷ ± q̂ accumulate in
  * event-time windows, and when the window rolls over one row
  * (source, window_start, n_eval, covered, coverage, cum_coverage, alarm)
  * is emitted. Coverage dropping below the conformal target 1−α (minus a
  * caller tolerance) trips the alarm — the distribution-shift tripwire
  * split-conformal theory promises: under exchangeability windowed
  * coverage concentrates at ≥ 1−α, so a sustained dip is evidence the
  * live distribution has left the calibration regime.
  *
  * Like [[CusumMonitor]], the model parameters (slope, intercept, q̂,
  * target) are CALLER-SUPPLIED references fitted by the batch operator:
  * a stream cannot use the calibration split it hasn't seen — that
  * division of labor is the point of the pairing. The residual
  * arithmetic |y − (a + b·x)| ≤ q̂ mirrors the batch eval predicate
  * term-for-term so the two engines agree decision-for-decision on
  * identical inputs (spec-pinned against a batch recount on the same
  * window).
  *
  * Windows close and late events clamp by the family's rules on
  * [[WindowedMonitor]]. State is one small case class per
  * source — the stream never buffers events, only counters, so state is
  * O(sources) regardless of throughput.
  */
object ConformalMonitor {

  final case class Pred(source: String, ts: Timestamp, x: Double, y: Double)
      extends SourceEvent

  final case class WinState(
      win: Long, n: Long, covered: Long, cumN: Long, cumCovered: Long)
      extends InWindow

  final case class WinRow(
      source: String, window_start: Long, n_eval: Long, covered: Long,
      coverage: Double, cum_coverage: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Pred],
      slope: Double,
      intercept: Double,
      qHat: Double,
      target: Double,
      windowMs: Long = 3600000L,
      tolerance: Double = 0.05): Dataset[WinRow] = {
    require(windowMs > 0, "windowMs must be positive")
    require(target > 0 && target < 1, "target coverage in (0,1)")
    WindowedMonitor[Pred, WinState, WinRow](events, windowMs)(
      open = w => WinState(w, 0L, 0L, 0L, 0L),
      step = (st, e) => {
        // term-for-term the batch eval predicate: |y − (a + b·x)| ≤ q̂
        val hit = if (math.abs(e.y - (intercept + slope * e.x)) <= qHat) 1L else 0L
        st.copy(
          n = st.n + 1L, covered = st.covered + hit,
          cumN = st.cumN + 1L, cumCovered = st.cumCovered + hit)
      },
      emit = (src, s) => {
        val cov = s.covered.toDouble / s.n
        Some(WinRow(src, s.win * windowMs, s.n, s.covered, cov,
          s.cumCovered.toDouble / s.cumN, cov < target - tolerance))
      },
      carry = (s, w) => WinState(w, 0L, 0L, s.cumN, s.cumCovered))
  }
}
