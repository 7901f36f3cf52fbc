package venusbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its listeners, the tracer, the
  * generator and the run's bounds. */
final class Ctx(val cfg: Obj, val spark: SparkSession) {
  val dir: String = cfg.str("workdir")
  val run: String = s"w${cfg.str("workload")}-s${cfg.long("seed")}-${System.nanoTime() % 100000}"
  val seconds: Double = cfg.dbl("seconds")
  val traced: Boolean = cfg.bool("trace")
  val spec: Obj = cfg.obj("spec")
  val plan: Obj = Obj(Json.read(s"$dir/plan.json").asInstanceOf[Map[String, Any]])
  val cpus: Int = cfg.int("cpus")
  val tracer = new Tracer(traced, run)
  tracer.sc = spark.sparkContext
  val progress = new StreamProgress
  val engine: Option[EngineListener] = if (traced) Some(new EngineListener) else None
  val scans: Option[ScanListener] = if (traced) Some(new ScanListener) else None
  val gen = new Generator(cfg.str("python"), cfg.str("gen"), dir)
  private val deadlineMs = System.currentTimeMillis() + (cfg.dbl("deadline_s") * 1000).toLong

  /** Result fields the workload adds; written to result.json at the end. */
  val out = mutable.LinkedHashMap.empty[String, Any]
  /** Every ingest stream the workload started, in order. */
  val streams = mutable.ArrayBuffer.empty[IngestStream]

  def checkDeadline(what: String): Unit =
    if (System.currentTimeMillis() > deadlineMs) sys.error(s"deadline passed while $what")

  /** Scan statistics of the queries since the last call (traced runs). */
  def scanStats(): Map[String, Long] = scans match {
    case Some(l) =>
      org.apache.spark.venusbench.Bus.drain(spark.sparkContext)
      val s = l.drain()
      Map("files" -> s.map(_.files).sum, "bytes" -> s.map(_.bytes).sum,
        "rows" -> s.map(_.rows).sum)
    case None => Map.empty
  }
}

/** The benchmark's JVM side: runs one workload against the program and
  * writes what it observed (timings, progress, answers, traced events) to
  * `<workdir>/result.json`. `bench/run.py` computes metrics and checks.
  *
  *   java ... venusbench.Main <config.json>
  */
object Main {
  def timed[A](f: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - s) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Obj(Json.read(args(0)).asInstanceOf[Map[String, Any]])
    val settings = cfg.obj("spark")
    val builder = SparkSession.builder().appName("venusbench")
    settings.m.foreach { case (k, v) => builder.config(k, v.toString) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = new Ctx(cfg, spark)
    spark.streams.addListener(c.progress)
    c.engine.foreach(spark.sparkContext.addSparkListener(_))
    c.scans.foreach(spark.listenerManager.register(_))
    val workload = cfg.str("workload")
    c.out("workload") = workload
    c.out("cpus") = c.cpus
    try {
      workload match {
        case "ingest_burst" => Workloads.ingestBurst(c)
        case "log_queries" => Workloads.logQueries(c)
        case "live_tail" => Workloads.liveTail(c)
        case "corpus_batch" => Workloads.corpusBatch(c)
        case other => sys.error(s"unknown workload $other")
      }
      c.out("heap_live_mb") = liveHeapMb()
      if (c.traced) Workloads.ageFlushProbe(c)
      spark.streams.active.foreach(_.stop())
      org.apache.spark.venusbench.Bus.drain(spark.sparkContext)
      c.out("streams") = c.streams.map(_.export).toVector
      if (c.traced) c.out("trace") = traceExport(c)
      Json.write(s"${c.dir}/result.json", c.out)
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }

  /** Heap in use after full collections: what the run keeps alive. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def traceExport(c: Ctx): Map[String, Any] = {
    val e = c.engine.get
    Map(
      "run" -> c.run,
      "spans" -> c.tracer.all.map(s => Vector(s.id, s.parent, s.name, s.layer, s.startUs, s.endUs)),
      "jobs" -> e.allJobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "span" -> j.span, "batch" -> j.streamBatch, "query" -> j.streamQuery, "stages" -> j.stages)),
      "stages" -> e.allStages.map(s => Map("id" -> s.id, "job" -> e.jobOf(s.id).getOrElse(-1),
        "submit_ms" -> s.submitMs, "end_ms" -> s.endMs, "tasks" -> s.tasks,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill)))
  }
}
