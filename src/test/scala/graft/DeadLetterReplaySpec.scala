package graft

import graft.store.LogStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}

/** Exactly-once across a replayed epoch, dead letters included: an epoch
  * of good and malformed lines is ingested, its commit file is deleted
  * from the checkpoint, and a restart on the same checkpoint replays it.
  * Each epoch rewrites its own partitions of BOTH `logs` and
  * `dead_letter`, so every row is there once.
  */
class DeadLetterReplaySpec extends SparkSpec {
  import spark.implicits._

  private def good(i: Int) =
    s"""{"created":${1700000000 + i}.25,"message":"m$i","correlation_id":"C-$i","k":$i}"""

  test("a replayed epoch leaves every logs row and every dead letter exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-replay").toString
    val store = new LogStore(s"$root/store")
    val ckpt = s"$root/ckpt"
    val stream = MemoryStream[String]
    val lines = (1 to 20).map(good) ++
      Seq("{not json!", """{"message":"no created"}""", """{"created":1700000000.5,"message":"cut""")
    stream.addData(lines)

    def runOnce(): Unit = {
      val q = StreamIngest.start(stream.toDF(), store, ckpt, sourceFlushGated = true)
      try q.processAllAvailable() finally q.stop()
    }

    runOnce()
    val commit = Paths.get(ckpt, "commits", "0")
    assert(Files.exists(commit), "epoch 0 committed")
    Files.delete(commit)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    // same checkpoint, same source: epoch 0 has an offset entry and no
    // commit, so the restart runs it again
    runOnce()
    assert(Files.exists(commit), "epoch 0 committed again")

    val logs = store.read(spark, "logs")
    val messages = logs.select("message").as[String].collect().toSeq
    assert(messages.sorted == (1 to 20).map(i => s"m$i").sorted)
    assert(logs.select("batch_id").distinct().as[String].collect().toSeq == Seq("logs-0"))
    val dead = store.read(spark, "dead_letter").select("raw", "reason").as[(String, String)]
      .collect().toSeq.sorted
    assert(dead == Seq(
      ("{not json!", "malformed_json"),
      ("""{"created":1700000000.5,"message":"cut""", "malformed_json"),
      ("""{"message":"no created"}""", "missing_created")).sorted)
  }
}
