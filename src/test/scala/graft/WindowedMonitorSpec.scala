package graft

import graft.streaming.{KsMonitor, TopKMonitor}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** The rollover rules every windowed monitor shares, driven through a
  * MemoryStream over several micro-batches: a late event clamps into
  * the open window, a batch spanning several windows closes them in
  * order with the cumulative carried, and a source that goes quiet
  * never emits its last window. [[KsMonitor]] stands for the
  * one-row-per-window monitors, [[TopKMonitor]] for the many-row one.
  */
class WindowedMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def drain[I: Encoder, O: Encoder](mon: Dataset[I] => Dataset[O])(
      batches: Seq[I]*): Seq[O] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[I]
    val name = s"winmon${System.nanoTime()}"
    val q = mon(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      spark.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  // three bins: 0.5 -> bin 0, 1.5 -> bin 1, 2.5 -> bin 2
  private val cuts = Seq(1.0, 2.0)
  private val refCounts = Seq(1L, 1L, 1L)

  private def ks(batches: Seq[KsMonitor.Scored]*): Seq[KsMonitor.WinRow] =
    drain[KsMonitor.Scored, KsMonitor.WinRow](
      KsMonitor.monitor(_, cuts, refCounts, 1.0, windowMs = HourMs))(batches: _*)
      .sortBy(r => (r.source, r.window_start))

  private def topK(batches: Seq[TopKMonitor.KeyedEvent]*): Seq[TopKMonitor.WinRow] =
    drain[TopKMonitor.KeyedEvent, TopKMonitor.WinRow](
      TopKMonitor.monitor(_, k = 8, topM = 8, expected = Set("a", "b", "c"),
        minNovelShare = 1.0, windowMs = HourMs))(batches: _*)
      .sortBy(r => (r.source, r.window_start, r.rank))

  test("KS: a late event folds into the open window, which emits once") {
    val out = ks(
      Seq(KsMonitor.Scored("s", at(1, 0), 0.5), KsMonitor.Scored("s", at(1, 1), 1.5)),
      // late: window 0 is older than the open window 1
      Seq(KsMonitor.Scored("s", at(0, 5), 2.5), KsMonitor.Scored("s", at(1, 2), 0.5)),
      Seq(KsMonitor.Scored("s", at(2, 0), 0.5)))
    assert(out.map(_.window_start) == Seq(HourMs), s"one row for window 1: $out")
    assert(out.head.n_events == 4L)
    // the same four values inside window 1 in one batch give the same row
    val direct = ks(
      Seq(0.5, 1.5, 2.5, 0.5).zipWithIndex.map { case (v, i) =>
        KsMonitor.Scored("s", at(1, i), v) },
      Seq(KsMonitor.Scored("s", at(2, 0), 0.5)))
    assert(out == direct)
  }

  test("TopK: a late event folds into the open window, which emits once") {
    val out = topK(
      Seq(TopKMonitor.KeyedEvent("s", at(2, 0), "x")),
      Seq(TopKMonitor.KeyedEvent("s", at(0, 0), "y"), // late
        TopKMonitor.KeyedEvent("s", at(2, 1), "x")),
      Seq(TopKMonitor.KeyedEvent("s", at(3, 0), "a")))
    assert(out.map(_.window_start).distinct == Seq(2 * HourMs), s"$out")
    assert(out.map(r => (r.rank, r.key, r.est_count, r.n_events)) ==
      Seq((1, "x", 2L, 3L), (2, "y", 1L, 3L)))
  }

  test("KS: one batch spanning several windows closes them in order, carrying the cumulative") {
    val byWin = Seq(
      0 -> Seq(0.5, 0.5, 1.5),
      1 -> Seq(2.5, 2.5),
      2 -> Seq(1.5, 0.5, 2.5),
      3 -> Seq(0.5))
    val evs = byWin.flatMap { case (w, vs) =>
      vs.zipWithIndex.map { case (v, i) => KsMonitor.Scored("s", at(w, i), v) } }
    // fed out of time order: the rollover sorts the batch by ts
    val out = ks(evs.reverse)
    assert(out.map(_.window_start) == Seq(0L, HourMs, 2 * HourMs))
    assert(out.map(_.n_events) == Seq(3L, 2L, 3L))
    // each window's cumulative distance is the window distance of
    // everything seen so far, folded into one window
    val prefixes = (0 to 2).map { upTo =>
      val vs = byWin.takeWhile(_._1 <= upTo).flatMap(_._2)
      ks(vs.zipWithIndex.map { case (v, i) => KsMonitor.Scored("s", at(0, i), v) },
        Seq(KsMonitor.Scored("s", at(1, 0), 0.5))).head.ks_d
    }
    assert(out.map(_.cum_ks_d) == prefixes)
    assert(out.head.cum_ks_d == out.head.ks_d)
  }

  test("TopK: one batch spanning several windows closes them in order, carrying the cumulative") {
    val byWin = Seq(
      0 -> Seq("a", "a", "b"),
      1 -> Seq("a", "c"),
      2 -> Seq("c", "c", "c"),
      3 -> Seq("a"))
    val evs = byWin.flatMap { case (w, ks) =>
      ks.zipWithIndex.map { case (k, i) => TopKMonitor.KeyedEvent("s", at(w, i), k) } }
    val out = topK(evs.reverse)
    assert(out.map(r => (r.window_start / HourMs, r.n_events, r.rank, r.key,
      r.est_count, r.cum_est_count)) == Seq(
      (0L, 3L, 1, "a", 2L, 2L), (0L, 3L, 2, "b", 1L, 1L),
      (1L, 2L, 1, "a", 1L, 3L), (1L, 2L, 2, "c", 1L, 1L),
      (2L, 3L, 1, "c", 3L, 4L)))
  }

  test("a source that goes quiet emits nothing for its last window") {
    val ksOut = ks(
      Seq(KsMonitor.Scored("a", at(0, 0), 0.5), KsMonitor.Scored("a", at(1, 0), 1.5),
        KsMonitor.Scored("b", at(0, 1), 2.5)),
      Seq(KsMonitor.Scored("a", at(2, 0), 0.5), KsMonitor.Scored("a", at(5, 0), 0.5)))
    assert(ksOut.map(r => (r.source, r.window_start / HourMs)) ==
      Seq(("a", 0L), ("a", 1L), ("a", 2L)))
    val topOut = topK(
      Seq(TopKMonitor.KeyedEvent("a", at(0, 0), "a"), TopKMonitor.KeyedEvent("a", at(1, 0), "b"),
        TopKMonitor.KeyedEvent("b", at(0, 1), "c")),
      Seq(TopKMonitor.KeyedEvent("a", at(2, 0), "c"), TopKMonitor.KeyedEvent("a", at(5, 0), "a")))
    assert(topOut.map(r => (r.source, r.window_start / HourMs, r.key)) ==
      Seq(("a", 0L, "a"), ("a", 1L, "b"), ("a", 2L, "c")))
  }
}
