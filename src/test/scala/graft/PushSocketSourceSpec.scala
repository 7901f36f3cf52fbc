package graft

import java.net.Socket
import java.nio.file.{Files, Paths}
import java.util.UUID

import java.nio.charset.StandardCharsets

import graft.store.LogStore
import graft.streaming.{PushSocketSource, StreamIngest, Zmtp}

/** End-to-end over the real network edge — the Spark analog of the
  * reference's black-box sender tests (reference: tests/test_sender.py:
  * 37-61 one sender's messages all arrive, :64-94 two concurrent senders
  * fan into one collector). Senders are real TCP clients connecting to
  * the bound collector port, mirroring PUSH-connect / PULL-bind
  * (reference: venus/io/__init__.py:85, contrib/zmqlog/bind_collector/).
  */
class PushSocketSourceSpec extends SparkSpec {
  import spark.implicits._

  private def record(msg: String): String =
    s"""{"created":${System.currentTimeMillis() / 1000.0},"message":"$msg",""" +
      s""""correlation_id":"${UUID.randomUUID()}","filename":"sender.py"}"""

  /** A collector named `name` feeding `store` through the ingest stream,
    * and the port it bound. The source (and its server socket) is created
    * lazily when the stream plans its first batch, so wait for it.
    */
  private def collector(
      name: String,
      store: LogStore,
      root: String): (org.apache.spark.sql.streaming.StreamingQuery, Int) = {
    val raw = spark.readStream
      .format("graft.streaming.PushSocketSourceProvider")
      .option("name", name)
      .option("port", "0")
      .load()
    val q = StreamIngest.start(raw, store, s"$root/ckpt",
      sourceFlushGated = true) // push source carries its own flush gate
    val bindDeadline = System.currentTimeMillis() + 15000
    while (PushSocketSource.boundPort(name).isEmpty &&
      System.currentTimeMillis() < bindDeadline) Thread.sleep(50)
    PushSocketSource.boundPort(name) match {
      case Some(port) => (q, port)
      case None => q.stop(); fail("collector never bound")
    }
  }

  /** Drain micro-batches until every message in `want` is in `logs`. */
  private def awaitMessages(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      store: LogStore,
      want: Set[String]): Set[String] = {
    def delivered(): Set[String] =
      scala.util.Try(store.read(spark, "logs")
        .select("message").as[String].collect().toSet)
        .getOrElse(Set.empty)
    val deadline = System.currentTimeMillis() + 20000
    var messages = delivered()
    while (!want.subsetOf(messages) && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      Thread.sleep(100)
      messages = delivered()
    }
    messages
  }

  test("two concurrent senders -> bound collector -> logs superset (e2e)") {
    val root = Files.createTempDirectory("graft-pushsock").toString
    val store = new LogStore(s"$root/store")
    val name = s"ingest-${UUID.randomUUID()}"

    val (q, port) = collector(name, store, root)
    try {
      val sent1 = (1 to 10).map(_ => UUID.randomUUID().toString)
      val sent2 = (1 to 10).map(_ => UUID.randomUUID().toString)
      // two producers, concurrent connections (test_sender.py:64-94 shape)
      val t1 = new Thread(() =>
        PushSocketSource.send("localhost", port, sent1.map(record)))
      val t2 = new Thread(() =>
        PushSocketSource.send("localhost", port, sent2.map(record)))
      t1.start(); t2.start(); t1.join(); t2.join()
      // frames are admitted by the acceptor threads asynchronously; keep
      // draining micro-batches until everything sent has landed
      val messages = awaitMessages(q, store, sent1.toSet ++ sent2)
      // the reference's exact assertion: delivered ⊇ sent, both senders
      assert(sent1.toSet.subsetOf(messages), "sender 1 messages missing")
      assert(sent2.toSet.subsetOf(messages), "sender 2 messages missing")
      assert(PushSocketSource.dropped(name) == 0)
    } finally q.stop()
  }

  test("real ZMTP producer: venus-shaped 2-frame multipart lands in logs (e2e)") {
    val root = Files.createTempDirectory("graft-zmtp").toString
    val store = new LogStore(s"$root/store")
    val name = s"zmtp-${UUID.randomUUID()}"

    val (q, port) = collector(name, store, root)
    try {
      // a zmq.PUSH producer's wire shape (PUBHandler / Message(level,
      // message), reference: models.py:5-7): frame 0 = level topic,
      // frame 1 = the JSON payload — sent over real ZMTP framing
      val sent = (1 to 25).map(_ => UUID.randomUUID().toString)
      val messages = sent.map { m =>
        Seq("INFO".getBytes(StandardCharsets.UTF_8),
          record(m).getBytes(StandardCharsets.UTF_8))
      }
      // plus one long frame (>255 bytes) to cross the short/long boundary
      val longMsg = "L" * 300
      Zmtp.sendMultipart("localhost", port,
        messages :+ Seq("INFO".getBytes(StandardCharsets.UTF_8),
          record(longMsg).getBytes(StandardCharsets.UTF_8)))
      val want = sent.toSet + longMsg
      // the reference's exact assertion shape: delivered ⊇ sent
      assert(want.subsetOf(awaitMessages(q, store, want)), "ZMTP producer messages missing")
      assert(PushSocketSource.dropped(name) == 0)
    } finally q.stop()
  }

  test("a JSON line over the frame cap drops its sender and is never admitted") {
    val root = Files.createTempDirectory("graft-overcap").toString
    val store = new LogStore(s"$root/store")
    val name = s"overcap-${UUID.randomUUID()}"
    val (q, port) = collector(name, store, root)
    try {
      // a broken sender: one line just past Zmtp.MaxFrameBytes, then its end
      val sock = new Socket("localhost", port)
      try {
        val out = sock.getOutputStream
        val chunk = Array.fill[Byte](1 << 16)('x'.toByte)
        var sent = 0L
        while (sent <= Zmtp.MaxFrameBytes) { out.write(chunk); sent += chunk.length }
        out.write('\n')
        out.flush()
        sock.shutdownOutput()
        // the collector has admitted or refused the line once it closes
        while (sock.getInputStream.read() >= 0) {}
      } catch {
        case _: java.io.IOException => // dropped mid-write: refused
      } finally sock.close()
      // a valid line on another connection still lands
      PushSocketSource.send("localhost", port, Seq(record("after-overcap")))
      assert(awaitMessages(q, store, Set("after-overcap")) == Set("after-overcap"))
      assert(q.recentProgress.map(_.numInputRows).sum == 1,
        "the over-cap line was admitted")
      assert(!Files.exists(Paths.get(s"$root/store/dead_letter")))
    } finally q.stop()
  }

  test("line framing matches BufferedReader.readLine across read boundaries") {
    // terminators \n, \r and \r\n, lines around the 8 KiB read size,
    // multi-byte characters, and a final unterminated line
    val rng = new scala.util.Random(17)
    val alphabet = "ab \u00e9\u65e5{\"}"
    val terms = Seq("\n", "\r", "\r\n")
    val text = new StringBuilder
    (0 until 300).foreach { _ =>
      val len = if (rng.nextInt(4) == 0) 8190 + rng.nextInt(6) else rng.nextInt(40)
      (0 until len).foreach(_ => text += alphabet(rng.nextInt(alphabet.length)))
      text ++= terms(rng.nextInt(terms.size))
    }
    text ++= "tail"
    val bytes = text.toString.getBytes(StandardCharsets.UTF_8)
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.ByteArrayInputStream(bytes), StandardCharsets.UTF_8))
    val want = Iterator.continually(reader.readLine()).takeWhile(_ != null).toVector
    val got = Vector.newBuilder[String]
    PushSocketSource.readLines(new java.io.ByteArrayInputStream(bytes), () => true, got += _)
    assert(got.result() == want)
  }
}
