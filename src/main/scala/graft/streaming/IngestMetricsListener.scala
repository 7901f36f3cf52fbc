package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-batch ingest telemetry — the reference's insert-latency stopwatch
  * ("Inserting $size records took $time_ sec", venus/db/write.py:70 via
  * `@aiodec.astopwatch`) and health surface (venus/main.py:40-47)
  * re-expressed as a `StreamingQueryListener`: every micro-batch's row
  * count and trigger latency is captured as it completes, with no code in
  * the hot path (Spark publishes progress events off the query thread).
  *
  * Attach with `spark.streams.addListener(listener)`; scope to one query
  * by filtering on `queryId`.
  *
  * Memory is bounded: running totals cover every batch ever seen
  * ([[totalRows]], [[meanRate]]), while [[metrics]] keeps only the last
  * [[IngestMetricsListener.Kept]] batches — a live stream reports progress
  * for as long as it runs.
  */
final class IngestMetricsListener extends StreamingQueryListener {

  /** One completed micro-batch: rows ingested and wall-clock trigger ms. */
  final case class BatchMetric(
      queryId: java.util.UUID, batchId: Long, rows: Long, durationMs: Long)

  // guarded by `this`
  private val recent = new java.util.ArrayDeque[BatchMetric]()
  private var rows = 0L
  private var busyRows = 0L
  private var busyMs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val duration = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue()).getOrElse(0L)
    val m = BatchMetric(p.id, p.batchId, p.numInputRows, duration)
    synchronized {
      recent.addLast(m)
      if (recent.size > IngestMetricsListener.Kept) recent.removeFirst()
      rows += m.rows
      if (m.rows > 0 && m.durationMs > 0) {
        busyRows += m.rows
        busyMs += m.durationMs
      }
    }
  }

  /** The last [[IngestMetricsListener.Kept]] completed triggers, oldest first. */
  def metrics: Seq[BatchMetric] = synchronized {
    val out = Seq.newBuilder[BatchMetric]
    recent.forEach(m => out += m)
    out.result()
  }

  /** Rows over every batch seen. */
  def totalRows: Long = synchronized(rows)

  /** Mean ingest rate in rows/sec over every batch that moved data. */
  def meanRate: Double = synchronized {
    if (busyMs == 0L) 0.0 else busyRows.toDouble / (busyMs / 1000.0)
  }
}

object IngestMetricsListener {

  /** How many recent batches [[IngestMetricsListener.metrics]] keeps. */
  val Kept = 1024
}
