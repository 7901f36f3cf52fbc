package org.apache.spark.sql.streaming

import java.util.UUID

/** Builds `QueryProgressEvent`s for listener specs: the event and progress
  * constructors are private to Spark's `sql` package. */
object ProgressEvents {

  def progress(
      queryId: UUID, batchId: Long, rows: Long, triggerMs: Long): StreamingQueryListener.QueryProgressEvent = {
    val source = new SourceProgress("test", "0", "1", "1", rows, 0.0, 0.0,
      java.util.Collections.emptyMap[String, String]())
    val durations = new java.util.HashMap[String, java.lang.Long]()
    durations.put("triggerExecution", triggerMs)
    new StreamingQueryListener.QueryProgressEvent(new StreamingQueryProgress(
      queryId, UUID.randomUUID(), "test", "1970-01-01T00:00:00.000Z", batchId, triggerMs,
      durations, java.util.Collections.emptyMap[String, String](),
      Array.empty[StateOperatorProgress], Array(source), new SinkProgress("test"),
      java.util.Collections.emptyMap[String, org.apache.spark.sql.Row]()))
  }
}
