package graft

import graft.streaming.{AdwinMonitor, CusumMonitor, PageHinkleyMonitor}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** The late-day rule of the day-count monitors, over several micro-batches:
  * an event of a day earlier than the open one clamps into the open day,
  * so each day is emitted once with its whole count. Batches {day 5 x3},
  * {day 3 x1}, {day 5 x1, day 6 x1} close day 5 once, with n = 5, in
  * Cusum, PageHinkley and Adwin alike.
  */
class DailyCountsSpec extends SparkSpec {
  import spark.implicits._

  private val DayMs = 86400000L

  private def at(day: Int, i: Int) = new Timestamp(day * DayMs + i * 1000L)

  private def drain[I: Encoder, O: Encoder](mon: Dataset[I] => Dataset[O])(
      batches: Seq[I]*): Seq[O] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[I]
    val name = s"daycount${System.nanoTime()}"
    val q = mon(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      spark.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  /** The three batches for one type, built by the monitor's event class. */
  private def lateDay[E](ev: (String, Timestamp) => E): Seq[Seq[E]] = Seq(
    (0 until 3).map(i => ev("t", at(5, i))),
    Seq(ev("t", at(3, 0))),
    Seq(ev("t", at(5, 9)), ev("t", at(6, 0))))

  test("Cusum: a late day clamps into the open day, which closes once with its whole count") {
    val out = drain[CusumMonitor.Ev, CusumMonitor.DayRow](
      CusumMonitor.monitor(_, mu = 5.0, slack = 0.0, threshold = 100.0))(
      lateDay(CusumMonitor.Ev): _*)
    assert(out.map(r => (r.day, r.n)) == Seq((5L, 5L)), out)
    // the sums fold the one closed day: c = mu, so both stay at zero
    assert(out.head.s_up == 0.0 && out.head.s_down == 0.0)
  }

  test("PageHinkley: a late day clamps into the open day, which closes once") {
    val out = drain[PageHinkleyMonitor.Ev, PageHinkleyMonitor.DayRow](
      PageHinkleyMonitor.monitor(_, mu = 5.0, delta = 0.0, lambda = 100.0))(
      lateDay(PageHinkleyMonitor.Ev): _*)
    assert(out.map(r => (r.day, r.n)) == Seq((5L, 5L)), out)
  }

  test("Adwin: a late day clamps into the open day, which closes once") {
    val out = drain[AdwinMonitor.Ev, AdwinMonitor.DayRow](
      AdwinMonitor.monitor(_))(lateDay(AdwinMonitor.Ev): _*)
    assert(out.map(r => (r.day, r.n)) == Seq((5L, 5L)), out)
    assert(out.head.width == 1L)
  }

  test("days still close in order; the late event never opens a day of its own") {
    val out = drain[CusumMonitor.Ev, CusumMonitor.DayRow](
      CusumMonitor.monitor(_, mu = 0.0, slack = 0.0, threshold = 100.0))(
      Seq(CusumMonitor.Ev("t", at(5, 0))),
      Seq(CusumMonitor.Ev("t", at(2, 0)), CusumMonitor.Ev("t", at(6, 0))),
      Seq(CusumMonitor.Ev("t", at(4, 0)), CusumMonitor.Ev("t", at(7, 0))))
    assert(out.sortBy(_.day).map(r => (r.day, r.n)) == Seq((5L, 2L), (6L, 2L)), out)
    // Page's upper sum folds 2 then 2 more
    assert(out.sortBy(_.day).map(_.s_up) == Seq(2.0, 4.0))
  }
}
