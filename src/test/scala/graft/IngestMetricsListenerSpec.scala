package graft

import graft.streaming.IngestMetricsListener
import org.apache.spark.sql.streaming.ProgressEvents
import org.scalatest.funsuite.AnyFunSuite
import java.util.UUID

/** The listener's memory is bounded while its totals cover every batch. */
class IngestMetricsListenerSpec extends AnyFunSuite {

  test("keeps the last 1,024 batches; totals and mean rate cover all 1,100") {
    val listener = new IngestMetricsListener
    val q = UUID.randomUUID()
    // batch b moves b rows in 2*b ms (batch 0: an idle trigger)
    (0 until 1100).foreach { b =>
      listener.onQueryProgress(ProgressEvents.progress(q, b.toLong, b.toLong, 2L * b))
    }
    val kept = listener.metrics
    assert(IngestMetricsListener.Kept == 1024)
    assert(kept.size == 1024)
    assert(kept.map(_.batchId) == (76L until 1100L))
    assert(kept.last.rows == 1099L && kept.last.durationMs == 2198L)
    val all = (0L until 1100L).sum
    assert(listener.totalRows == all)
    // rows / (2 * rows ms) = 500 rows/s, over every busy batch
    assert(math.abs(listener.meanRate - 500.0) < 1e-9)
  }

  test("no busy batch: mean rate is 0") {
    val listener = new IngestMetricsListener
    listener.onQueryProgress(ProgressEvents.progress(UUID.randomUUID(), 0L, 0L, 5L))
    assert(listener.totalRows == 0L)
    assert(listener.meanRate == 0.0)
    assert(listener.metrics.size == 1)
  }
}
