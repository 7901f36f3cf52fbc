package venusbench

import java.io.{BufferedReader, InputStreamReader}

import graft.store.LogStore
import graft.streaming.{PushSocketSource, StreamIngest}

/** One `gen.py send` process pushing one stream. It prints a JSON line per
  * wave it has sent, waits for a line on stdin before the next wave, and
  * ends with a summary line. */
final class GenProcess(p: Process) {
  private val out = new BufferedReader(new InputStreamReader(p.getInputStream))
  private val in = p.getOutputStream

  def next(): Obj = {
    val line = out.readLine()
    if (line == null) {
      p.waitFor()
      sys.error(s"generator exited with ${p.exitValue} before its summary")
    }
    Obj(Json.parse(line).asInstanceOf[Map[String, Any]])
  }
  def go(): Unit = { in.write('\n'); in.flush() }
  def alive: Boolean = p.isAlive
}

/** `PushSocketSource.readStream` -> `StreamIngest.start(sourceFlushGated =
  * true)` -> `LogStore`, the ingest path every workload drives, plus the
  * pushes made into it. Completion is read from the streaming listener's
  * committed offsets, never by polling the store. */
final class IngestStream(c: Ctx, val store: LogStore, tag: String, maxQueue: Int) {
  val name = s"${c.run}-$tag"
  private val raw = PushSocketSource.readStream(c.spark, name, maxQueue = maxQueue)
  val query = StreamIngest.start(raw, store, s"${c.dir}/ckpt-$name", sourceFlushGated = true)
  val port: Int = {
    while (PushSocketSource.boundPort(name).isEmpty) {
      c.checkDeadline(s"binding $name")
      Thread.sleep(5)
    }
    PushSocketSource.boundPort(name).get
  }
  private var pushed = 0L
  private val pushes = Vector.newBuilder[Map[String, Any]]

  def committed: Long = c.progress.committed(query.id)

  /** Wait until `total` frames are committed or dropped. */
  def await(total: Long): Unit =
    while (committed + PushSocketSource.dropped(name) < total) {
      query.exception.foreach(e => throw e)
      c.checkDeadline(s"draining $name")
      Thread.sleep(2)
    }

  def start(desc: Map[String, Any]): GenProcess = c.gen.start(desc, port)

  /** Push one stream and wait until all of it has landed: each wave is sent
    * only once the previous one is committed. Returns the generator's
    * summary. */
  def push(desc: Map[String, Any]): Obj = finish(desc, start(desc))

  /** Follow a started push to its end (see [[push]]). */
  def finish(desc: Map[String, Any], g: GenProcess): Obj = {
    val base = pushed
    var line = g.next()
    val waveEnds = Vector.newBuilder[Long]
    while (line.has("wave")) {
      waveEnds += line.long("end")
      await(base + line.long("end"))
      if (!line.bool("last")) g.go()
      line = g.next()
    }
    pushed = base + line.long("sent")
    await(pushed)
    pushes += Map("desc" -> desc, "base" -> base, "wave_ends" -> waveEnds.result(),
      "summary" -> line.m)
    line
  }

  def stop(): Unit = query.stop()

  def export: Map[String, Any] = Map(
    "name" -> name,
    "dropped" -> PushSocketSource.dropped(name),
    "pushes" -> pushes.result(),
    "batches" -> c.progress.batches(query.id).map(b => Map(
      "batch" -> b.batchId, "start_ms" -> b.startMs,
      "end_ms" -> (b.startMs + b.durations.getOrElse("triggerExecution", 0L)),
      "rows" -> b.rows, "start" -> b.startOffset, "end" -> b.endOffset,
      "latest" -> b.latestOffset, "durations" -> b.durations)),
    "query" -> query.id.toString,
    "store_bytes" -> store.fileStats(c.spark, "logs").map(_._3).sum)
}

/** Starts generator processes; every stream description is written to the
  * work directory so a run can be replayed by hand. */
final class Generator(python: String, script: String, dir: String) {
  private var n = 0
  def start(desc: Map[String, Any], port: Int): GenProcess = synchronized {
    n += 1
    val f = s"$dir/stream-$n.json"
    Json.write(f, desc)
    val pb = new ProcessBuilder(python, script, "send", "--stream", f, "--port", port.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    new GenProcess(pb.start())
  }
}
