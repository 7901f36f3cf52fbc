package graft.streaming

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayDeque

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming source for the reference's ingest edge: a bound collector
  * port that any number of fire-and-forget pushers connect to
  * (reference: venus/io/__init__.py:78-108 — PULL socket `bind`, senders
  * PUSH-connect per contrib/zmqlog/bind_collector/). The collector speaks
  * BOTH wire formats, sniffed from the first byte of each connection:
  *  - real ZMTP 3.x (first byte 0xFF, the greeting signature): full
  *    greeting + NULL handshake + multipart frames via [[Zmtp]], so an
  *    actual `zmq.PUSH` producer connects unmodified; the reference's
  *    2-frame [level, message] shape maps to the message payload
  *    (io/__init__.py:89-94 `recv_multipart` → `Message(*raw)`);
  *  - newline-delimited UTF-8 JSON (anything else): the zero-ceremony
  *    path used by fixtures and simple forwarders. A line is held to the
  *    same [[Zmtp.MaxFrameBytes]] cap as a ZMTP frame, and a sender that
  *    passes it is disconnected ([[PushSocketSource.readLines]]).
  *
  * Reference semantics preserved:
  *  - bind-side collector, N connecting senders, fan-in to one stream
  *    (io/__init__.py:85 `sock.bind`);
  *  - bounded receive queue with DROP on overflow, never backpressure —
  *    "the source of the data is application logging and that cannot be
  *    slowed down" (io/__init__.py:97-104 `q.put_nowait` / QueueFull);
  *    drops are counted and observable via [[PushSocketSource.dropped]];
  *  - malformed frames are the DOWNSTREAM dead-letter path's problem
  *    ([[IngestTransform]]), not the socket's (io/__init__.py:91-94 only
  *    guards arity, not content).
  *
  * Schema is `value STRING` — one row per received frame — feeding the
  * same `value`-column contract every other ingest source uses
  * (StreamIngest.scala). Like Spark's own socket source, the buffer is
  * driver-memory and NOT fault-tolerant across driver restarts; the
  * exactly-once story starts at the idempotent sink (LogStore), matching
  * the reference's at-least-once ingest.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.PushSocketSourceProvider")
  *     .option("name", "ingest")       // registry key for the bound port
  *     .option("port", "0")            // 0 = ephemeral
  *     .option("maxQueue", "10000")    // RCVHWM analog
  *     .load()
  * }}}
  */
object PushSocketSource {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  private val ports = new ConcurrentHashMap[String, Integer]()
  private val drops = new ConcurrentHashMap[String, java.lang.Long]()

  /** Port the named source actually bound (for ephemeral `port=0`). */
  def boundPort(name: String): Option[Int] = Option(ports.get(name)).map(_.intValue)

  /** Frames dropped by the named source's full queue (HWM analog). */
  def dropped(name: String): Long = Option(drops.get(name)).map(_.longValue).getOrElse(0L)

  private[streaming] def register(name: String, port: Int): Unit =
    if (name != null) ports.put(name, port)
  private[streaming] def countDrop(name: String): Unit =
    if (name != null) drops.merge(name, 1L, (a, b) => a + b)

  /** Reader builder wiring an [[graft.model.IngestConfig]] to the source's
    * micro-batcher: `maxBatchSize` → `flushSize`, `maxBatchAgeSeconds` →
    * `flushAgeMs` — the reference's MAX_BATCH_SIZE / MAX_BATCH_AGE_SECONDS
    * knobs land where the flush decision now lives. Source options are
    * pinned at query start (the stop/restart contract LiveConfig
    * documents).
    */
  def readStream(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      port: Int = 0,
      config: graft.model.IngestConfig = graft.model.IngestConfig(),
      maxQueue: Int = 10000): org.apache.spark.sql.DataFrame =
    spark.readStream
      .format("graft.streaming.PushSocketSourceProvider")
      .option("name", name)
      .option("port", port.toString)
      .option("maxQueue", maxQueue.toString)
      .option("flushSize", config.maxBatchSize.toString)
      .option("flushAgeMs", (config.maxBatchAgeSeconds * 1000L).toString)
      .load()

  /** Newline-delimited frames off `in`, ended as `BufferedReader.readLine`
    * ends them (`\n`, `\r` or `\r\n`, plus a final unterminated line),
    * decoded as UTF-8 and passed to `admit` while `running()` holds. Reads
    * are block-buffered. A line longer than [[Zmtp.MaxFrameBytes]] throws
    * IllegalArgumentException once the cap is passed, before the line is
    * held whole: one sender that never ends its line cannot exhaust the
    * driver heap, and the caller drops it as it drops a ZMTP violation.
    */
  private[graft] def readLines(
      in: InputStream,
      running: () => Boolean,
      admit: String => Unit): Unit = {
    val buf = new Array[Byte](8192)
    val pending = new ByteArrayOutputStream() // a line that spans reads
    def hold(from: Int, until: Int): Unit = {
      if (pending.size.toLong + (until - from) > Zmtp.MaxFrameBytes)
        throw new IllegalArgumentException(
          s"line longer than ${Zmtp.MaxFrameBytes} bytes")
      pending.write(buf, from, until - from)
    }
    def emit(from: Int, until: Int): Unit = {
      val line =
        if (pending.size == 0) new String(buf, from, until - from, StandardCharsets.UTF_8)
        else { hold(from, until); pending.toString(StandardCharsets.UTF_8) }
      pending.reset()
      if (running()) admit(line)
    }
    var skipLf = false // the last read ended on '\r': a leading '\n' is its pair
    var n = in.read(buf)
    while (n >= 0 && running()) {
      var i = if (skipLf && n > 0 && buf(0) == '\n') 1 else 0
      skipLf = false
      var start = i
      while (i < n) {
        val b = buf(i)
        if (b == '\n' || b == '\r') {
          emit(start, i)
          if (b == '\r') {
            if (i + 1 == n) skipLf = true
            else if (buf(i + 1) == '\n') i += 1
          }
          start = i + 1
        }
        i += 1
      }
      hold(start, n)
      n = in.read(buf)
    }
    if (n < 0 && pending.size > 0) emit(0, 0)
  }

  /** Minimal PUSH-side client, the `tests/sender.py` analog: connect and
    * write one frame per message. Used by the e2e spec and usable as a
    * contrib-style forwarder body (ZMQ PULL loop → `send`).
    */
  def send(host: String, port: Int, frames: Seq[String]): Unit = {
    val sock = new Socket(host, port)
    try {
      val out = sock.getOutputStream
      frames.foreach { f => out.write((f + "\n").getBytes(StandardCharsets.UTF_8)) }
      out.flush()
    } finally sock.close()
  }
}

class PushSocketSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PushSocketSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PushSocketTable(new CaseInsensitiveStringMap(properties))
}

final class PushSocketTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"push_socket(${options.getOrDefault("name", "?")})"
  override def schema(): StructType = PushSocketSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = PushSocketSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PushSocketMicroBatchStream(
          options.getInt("port", 0),
          options.get("name"),
          options.getInt("maxQueue", 10000),
          options.getInt("flushSize", 100),
          options.getLong("flushAgeMs", 5000L))
    }
}

/** Row-count offsets over a driver-side buffer (the same scheme as
  * Spark's TextSocketMicroBatchStream): `latestOffset` is the total
  * frames admitted, `commit(n)` trims everything below n.
  */
final case class CountOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** @param flushSize  expose pending frames to the engine as soon as this
  *                    many are buffered — the MAX_BATCH_SIZE flush half
  *                    (reference: venus/db/write.py:58-59); under load,
  *                    micro-batches fire back-to-back on size, not on a
  *                    wall-clock cadence
  * @param flushAgeMs  ... and no later than this after the oldest pending
  *                    frame arrived — the MAX_BATCH_AGE_SECONDS half
  *                    (write.py:24-28); bounds trickle latency
  */
final class PushSocketMicroBatchStream(
    requestedPort: Int,
    name: String,
    maxQueue: Int,
    flushSize: Int,
    flushAgeMs: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val server = new ServerSocket(requestedPort)
  PushSocketSource.register(name, server.getLocalPort)

  @volatile private var stopped = false
  private val lock = new Object
  // rows [baseOffset, baseOffset + buffer.size) are retained; committed
  // prefixes are trimmed. `times` parallels `buffer` with admit timestamps
  // (for the age half of the flush gate); `exposed` is the highest offset
  // latestOffset has released to the engine. ArrayDeque: the flush gate
  // indexes the oldest-pending timestamp and commit trims a prefix on
  // every micro-batch — both O(1)/amortized-O(1) on a deque, where the
  // previous ListBuffer paid a linear scan/copy under the same lock the
  // acceptor threads contend on.
  private val buffer = ArrayDeque.empty[UTF8String]
  private val times = ArrayDeque.empty[Long]
  private var baseOffset = 0L
  private var exposed = 0L

  private val acceptor = new Thread(s"push-socket-acceptor-$name") {
    override def run(): Unit =
      try {
        while (!stopped) {
          val client = server.accept()
          val h = new Thread(() => handle(client), s"push-socket-conn-$name")
          h.setDaemon(true)
          h.start()
        }
      } catch {
        case _: SocketException => // closed during stop()
      }
  }
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(client: Socket): Unit =
    try {
      val raw = new java.io.PushbackInputStream(client.getInputStream)
      val first = raw.read()
      if (first == 0xFF) {
        // a real ZMQ peer: every ZMTP connection opens with the 0xFF...0x7F
        // signature, which no UTF-8 JSON line can start with. Decode
        // multipart messages; the reference's arity rule (Message(level,
        // message), venus/io/__init__.py:91-94) maps [level, payload] ->
        // payload, a bare 1-frame message -> itself, anything else skipped.
        Zmtp.serveAfterSignatureByte(raw, client.getOutputStream,
          () => !stopped,
          parts =>
            if (parts.nonEmpty && parts.length <= 2)
              admit(new String(parts.last, StandardCharsets.UTF_8)))
      } else if (first >= 0) {
        raw.unread(first)
        PushSocketSource.readLines(raw, () => !stopped, admit)
      }
    } catch {
      case _: java.io.IOException => // sender went away: fire-and-forget
      case _: IllegalArgumentException => // ZMTP violation or over-cap line: drop the peer
    } finally client.close()

  private def admit(frame: String): Unit = lock.synchronized {
    if (buffer.size >= maxQueue) PushSocketSource.countDrop(name)
    else {
      buffer += UTF8String.fromString(frame)
      times += System.currentTimeMillis()
    }
  }

  override def initialOffset(): Offset = CountOffset(0L)
  override def deserializeOffset(json: String): Offset = CountOffset(json.toLong)

  /** Size-or-age flush gate: pending frames become visible to the engine
    * when at least `flushSize` are buffered OR the oldest pending frame is
    * `flushAgeMs` old — the reference micro-batcher's exact dual condition
    * (write.py:24-28,58-59). Paired with an as-available trigger, batches
    * fire immediately at size under load and within the age bound under
    * trickle, instead of on a fixed wall-clock cadence.
    *
    * Trigger.AvailableNow bypasses the gate: the engine announces the
    * catch-up run via [[prepareForTriggerAvailableNow]] and its contract
    * is "drain everything in the source AT PREPARE TIME" — a fresh
    * sub-size tail must be exposed, not held for more data, and frames
    * arriving DURING the catch-up run must NOT extend it (with live
    * producers an uncapped drain would never terminate), so prepare
    * snapshots the end offset and the gate caps exposure there.
    */
  @volatile private var drainAll = false
  private var preparedOffset = Long.MaxValue // under lock; set at prepare

  override def prepareForTriggerAvailableNow(): Unit =
    lock.synchronized {
      drainAll = true
      preparedOffset = baseOffset + buffer.size
    }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    lock.synchronized(CountOffset(baseOffset + buffer.size))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    gatedLatestOffset()

  override def latestOffset(): Offset = gatedLatestOffset()

  private def gatedLatestOffset(): Offset = lock.synchronized {
    val total = baseOffset + buffer.size
    val cap = if (drainAll) math.min(total, preparedOffset) else total
    val pending = cap - exposed
    if (pending > 0) {
      val oldest = times((exposed - baseOffset).toInt)
      if (drainAll || pending >= flushSize ||
        System.currentTimeMillis() - oldest >= flushAgeMs)
        exposed = cap
    }
    CountOffset(exposed)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[CountOffset].n, end.asInstanceOf[CountOffset].n)
    val rows = lock.synchronized {
      require(s >= baseOffset,
        s"offset $s already committed and trimmed (base $baseOffset)")
      buffer.slice((s - baseOffset).toInt, (e - baseOffset).toInt).toArray
    }
    Array(PushSocketInputPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val rows = partition.asInstanceOf[PushSocketInputPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = InternalRow(rows(i))
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = lock.synchronized {
    val n = end.asInstanceOf[CountOffset].n
    val trim = (n - baseOffset).toInt
    if (trim > 0) {
      buffer.dropInPlace(trim)
      times.dropInPlace(trim)
      baseOffset = n
      if (exposed < n) exposed = n
    }
  }

  override def stop(): Unit = {
    stopped = true
    try server.close()
    catch { case _: java.io.IOException => () }
  }
}

final case class PushSocketInputPartition(rows: Array[UTF8String]) extends InputPartition
