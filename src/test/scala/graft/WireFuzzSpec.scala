package graft

import graft.functions.ExprKernels
import graft.ingest.IngestTransform
import graft.store.LogStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The wire-parse kernel on hostile input: it never throws — a throw inside
  * `foreachBatch` would end the whole stream — and every such line gets a
  * dead-letter reason. Covers arbitrary bytes, every truncation of a
  * bench-shaped line, nesting past Jackson's depth limit, numbers past its
  * 1,000-digit limit and bytes that are not UTF-8, in each of the kernel's
  * three read modes (logs, metric, dead-letter only).
  */
class WireFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val LogsDrop = Array("stack_info", "funcName", "created", "msecs", "module",
    "thread", "threadName", "processName", "message", "correlation_id")

  /** (drop, promote, withData) of IngestTransform.parse, MetricIngest.parse
    * and IngestTransform.deadLetter. */
  private val modes = Seq(
    (LogsDrop, true, true), (Array("created"), false, true), (Array.empty[String], false, false))

  private def reasons(bytes: Array[Byte]): Seq[String] = modes.map { case (drop, promote, data) =>
    val row = ExprKernels.parseWire(UTF8String.fromBytes(bytes), drop, promote, data)
    if (row.isNullAt(4)) null else row.getUTF8String(4).toString
  }

  private def assertDead(bytes: Array[Byte], what: String): Unit = {
    val got = reasons(bytes)
    assert(got.forall(r => r == "malformed_json" || r == "missing_created"),
      s"$what: reasons $got for ${new String(bytes.take(80), UTF_8)}")
  }

  private val bench: String = WireLines.benchLine
    .apply(Gen.Parameters.default, Seed(7L)).get

  private def deep(n: Int, open: String, close: String) = open * n + close * n

  private val deepLines: Seq[(String, String)] = for {
    (shape, v) <- Seq("array" -> deep(100000, "[", "]"),
      "object" -> (("{\"a\":" * 5000) + "1" + ("}" * 5000)),
      "unclosed" -> ("[" * 100000))
    key <- Seq("message", "a", "msecs", "created")
  } yield (s"$shape under $key", s"""{"created":1.5,"$key":$v}""")

  private val longNumbers: Seq[(String, String)] = for {
    (shape, n) <- Seq("integer" -> ("9" * 1500), "fraction" -> ("1." + "3" * 1500),
      "exponent" -> ("1e" + "1" * 1500))
    key <- Seq("created", "message", "a", "msecs")
  } yield (s"$shape under $key", s"""{"created":1.5,"$key":$n}""")

  test("arbitrary bytes: never a throw, always a reason") {
    val gen = Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
    for (i <- 0 until 2000) {
      val bytes = gen.apply(Gen.Parameters.default.withSize(200), Seed(i.toLong)).get
      assertDead(bytes, s"seed $i")
    }
    // arbitrary bytes inside an otherwise well-formed frame
    for (i <- 0 until 500) {
      val junk = gen.apply(Gen.Parameters.default.withSize(40), Seed(10000L + i)).get
      assertDead("{\"created\":".getBytes(UTF_8) ++ junk, s"framed seed $i")
    }
  }

  test("every proper truncation of a bench-shaped line is malformed") {
    val bytes = bench.getBytes(UTF_8)
    assert(reasons(bytes).forall(_ == null), "the whole line is good")
    for (n <- 0 until bytes.length) {
      val cut = bytes.take(n)
      // a cut inside a multi-byte character is not UTF-8 either
      assert(reasons(cut).forall(_ == "malformed_json"), s"prefix of $n bytes")
    }
  }

  test("nesting past Jackson's depth limit is malformed wherever it sits") {
    for ((what, line) <- deepLines)
      assert(reasons(line.getBytes(UTF_8)).forall(_ == "malformed_json"), what)
  }

  test("numbers past 1,000 digits are dead-lettered wherever they sit") {
    for ((what, line) <- longNumbers) assertDead(line.getBytes(UTF_8), what)
    // a long numeric STRING is text, cast as try_cast does: no finite double
    assertDead(s"""{"created":"${"9" * 1500}"}""".getBytes(UTF_8), "long numeric string")
  }

  test("bytes that are not UTF-8 are malformed") {
    val good = bench.getBytes(UTF_8)
    val at = good.indexOf('m'.toByte)
    for (bad <- Seq(Array(0xff.toByte), Array(0xc3.toByte), Array(0xe2.toByte, 0x82.toByte),
        Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), Array(0xc0.toByte, 0x80.toByte))) {
      val bytes = good.take(at) ++ bad ++ good.drop(at)
      assert(reasons(bytes).forall(_ == "malformed_json"), bad.map(b => f"$b%02x").mkString)
    }
  }

  test("a null line is malformed, not an error") {
    val row = ExprKernels.parseWire(null, LogsDrop, promote = true, withData = true)
    assert(row.getUTF8String(4).toString == "malformed_json")
  }

  test("hostile lines in a micro-batch are dead-lettered; good rows land; the query keeps running") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-fuzz").toString
    val store = new LogStore(s"$root/store")
    val stream = MemoryStream[String]
    val good = (1 to 10).map(i =>
      s"""{"created":${1700000000 + i}.5,"message":"ok$i","correlation_id":"C$i","k":$i}""")
    val hostile = Seq(deepLines.head._2, longNumbers.head._2, bench.take(bench.length / 2),
      "\u0000\u0001{\"created\"", "{\"created\":1.5,\"created\":2.5,\"a\":" + deep(2000, "[", "]") + "}")
    val q = StreamIngest.start(stream.toDF(), store, s"$root/ckpt", sourceFlushGated = true)
    try {
      stream.addData(good.take(5) ++ hostile ++ good.drop(5))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      stream.addData(Seq(good.head.replace("ok1", "after")))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
    val messages = store.read(spark, "logs").select("message").as[String].collect().toSet
    assert(messages == ((1 to 10).map(i => s"ok$i") :+ "after").toSet)
    val dead = store.read(spark, "dead_letter").select("raw", "reason").as[(String, String)]
      .collect()
    assert(dead.map(_._1).toSet == hostile.toSet)
    assert(dead.forall(_._2 == "malformed_json"))
    assert(IngestTransform.deadLetter(hostile.toDF("value")).count() == hostile.size)
  }
}
