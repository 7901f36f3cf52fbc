package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming CUSUM level-shift monitor — the live twin of
  * [[graft.operators.Sessions.cusumDailyCounts]]: per event type, daily
  * counts accumulate in state and, when the event-time day rolls over,
  * the completed day folds into Page's one-sided sums
  * S⁺ = max(0, S⁺ + (c − μ − k)) / S⁻ = max(0, S⁻ + (μ − c − k)) and one
  * row (type, day, n, s_up, s_down, alarm) is emitted.
  *
  * Unlike the batch operator, μ/k/h are CALLER-SUPPLIED reference
  * parameters (tuned on history): a stream cannot use the in-sample mean
  * it hasn't seen yet — that difference is the point of the pairing, and
  * the batch operator is where the reference gets fitted.
  *
  * Days close by the day-count rules on [[WindowedMonitor]] (a late day's
  * event clamps into the open day; the loop is [[DailyCounts]]). State is
  * one small case class per type.
  */
object CusumMonitor {

  final case class Ev(event_type: String, ts: Timestamp) extends TypedEvent
  final case class SumState(day: Long, n: Long, sUp: Double, sDown: Double)
      extends DayCount
  final case class DayRow(
      event_type: String, day: Long, n: Long,
      s_up: Double, s_down: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Ev],
      mu: Double,
      slack: Double,
      threshold: Double): Dataset[DayRow] = {
    DailyCounts[Ev, SumState, DayRow](events, SumState(0L, 0L, 0.0, 0.0))(
        (s, d, n) => s.copy(day = d, n = n)) { (tpe, s) =>
      val su = math.max(0.0, s.sUp + (s.n - mu - slack))
      val sd = math.max(0.0, s.sDown + (mu - s.n - slack))
      (DayRow(tpe, s.day, s.n, su, sd, su > threshold || sd > threshold),
        s.copy(sUp = su, sDown = sd))
    }
  }
}
