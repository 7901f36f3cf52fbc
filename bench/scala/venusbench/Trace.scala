package venusbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so spans from
  * the benchmark line up with Spark's epoch-millisecond event times. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def nowMs: Long = nowUs / 1000L
}

/** One traced interval: `parent` 0 is a root. */
final case class Span(
    id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, run: String)

/** Spans kept in memory and written out when the run ends. The id of the
  * innermost open span is also set as a Spark local property, so every job
  * a call starts is attached to the call that was active. Disabled, `span`
  * only runs its body.
  */
final class Tracer(val enabled: Boolean, val run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var sc: SparkContext = _

  def all: Seq[Span] = spans.asScala.toSeq

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val prev = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = Clock.nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, layer, start, Clock.nowUs, run))
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }
}

object Tracer {
  val SpanProperty = "venusbench.span"
}

/** Every micro-batch's progress, per streaming query: the record the
  * ingest metrics and the batch spans are built from. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(
      batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long,
      startOffset: Long, endOffset: Long, latestOffset: Long)

  private val byQuery = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[Batch]]()
  private val ends = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  private def offset(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch") && p.sources.nonEmpty) {
      val s = p.sources.head
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d,
        p.numInputRows, offset(s.startOffset), offset(s.endOffset), offset(s.latestOffset))
      byQuery.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[Batch]()).add(b)
      ends.merge(p.id, b.endOffset, (a, c) => math.max(a, c))
    }
  }

  def batches(q: java.util.UUID): Seq[Batch] =
    Option(byQuery.get(q)).map(_.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)

  /** Highest end offset a completed micro-batch has committed. */
  def committed(q: java.util.UUID): Long = Option(ends.get(q)).map(_.longValue).getOrElse(0L)
}

/** Spark's job, stage and task events, for the `spark.*` metrics and the
  * job/stage spans. Each job carries the benchmark span that was active on
  * the thread that started it, or the micro-batch it ran for. */
final class EngineListener extends SparkListener {
  final case class Job(
      id: Int, startMs: Long, span: Long, streamBatch: Long,
      streamQuery: String, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(
      id: Int, attempt: Int, submitMs: Long, endMs: Long, tasks: Int,
      cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = Job(e.jobId, e.time,
      prop(Tracer.SpanProperty).map(_.toLong).getOrElse(0L),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").orNull,
      e.stageIds)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = Option(si.taskMetrics)
    stages.add(Stage(si.stageId, si.attemptNumber(),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
  }

  def jobOf(stage: Int): Option[Int] = Option(stageJob.get(stage)).map(_.intValue)
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def allStages: Seq[Stage] = stages.asScala.toSeq
}

/** File-scan statistics of every successful query, in completion order:
  * files and bytes the scans read and rows they produced. */
final class ScanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, bytes: Long, rows: Long)
  val scans = new ConcurrentLinkedQueue[Scan]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val found = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    if (found.nonEmpty) {
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      scans.add(Scan(found.map(metric(_, "numFiles")).sum,
        found.map(metric(_, "filesSize")).sum,
        found.map(metric(_, "numOutputRows")).sum))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Scans recorded since the last drain. */
  def drain(): Seq[Scan] = {
    val out = Seq.newBuilder[Scan]
    var s = scans.poll()
    while (s != null) { out += s; s = scans.poll() }
    out.result()
  }
}
