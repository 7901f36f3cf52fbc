package graft

import graft.ingest.{IngestTransform, MetricIngest}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: the one-read kernel's projections — [[IngestTransform.apply]],
  * [[IngestTransform.deadLetter]], [[MetricIngest.apply]] and the
  * persisted [[IngestTransform.parse]] the stream writes from — equal the
  * expressions they replaced ([[IngestOracle]]) over [[WireLines]]:
  * bench-shaped and arbitrary objects, repeated keys, content after the
  * closing brace, other top levels, `created` of every JSON type, and
  * truncations. `data_raw` is compared byte for byte. Lines run through a
  * codegen'd plan (an RDD scan) and through interpreted evaluation (a
  * local relation, which the optimizer folds on the driver).
  */
class IngestParitySpec extends SparkSpec {
  import spark.implicits._

  private val Rounds = 6
  private val LinesPerRound = 400

  private def lines(round: Int): Seq[String] =
    Gen.listOfN(LinesPerRound, WireLines.line)
      .apply(Gen.Parameters.default.withSize(40), Seed(1100L + round))
      .getOrElse(sys.error(s"generator failed at round $round"))

  /** Rows as comparable strings, one multiset per output. */
  private def logsRows(df: DataFrame): Seq[String] =
    df.select(unix_micros(col("time")), col("message"), col("correlation_id"),
      col("data_raw"), col("date").cast("string")).collect().map(show).toSeq.sorted

  private def metricRows(df: DataFrame): Seq[String] =
    df.select(unix_micros(col("time")), col("data_raw"), col("date").cast("string"))
      .collect().map(show).toSeq.sorted

  private def deadRows(df: DataFrame): Seq[String] =
    df.select(col("raw"), col("reason")).collect().map(show).toSeq.sorted

  private def show(r: Row): String =
    r.toSeq.map(v => if (v == null) "<null>" else v.toString).mkString(" | ")

  private def assertSame(what: String, want: Seq[String], got: Seq[String]): Unit =
    if (want != got) {
      val missing = want.diff(got).take(5)
      val extra = got.diff(want).take(5)
      fail(s"$what differs: ${want.size} oracle rows, ${got.size} kernel rows\n" +
        s"  oracle only: ${missing.mkString("\n    ")}\n  kernel only: ${extra.mkString("\n    ")}")
    }

  private def frames(ls: Seq[String]): Seq[(String, DataFrame)] = Seq(
    "codegen" -> spark.sparkContext.parallelize(ls, 2).toDF("value"),
    "interpreted" -> ls.toDF("value"))

  test("logs, dead letters and metric rows equal the replaced expressions") {
    for (round <- 0 until Rounds) {
      val ls = lines(round)
      for ((mode, raw) <- frames(ls)) {
        val at = s"round $round ($mode)"
        assertSame(s"logs, $at", logsRows(IngestOracle.logs(raw)), logsRows(IngestTransform(raw)))
        assertSame(s"dead_letter, $at", deadRows(IngestOracle.deadLetter(raw)),
          deadRows(IngestTransform.deadLetter(raw)))
        assertSame(s"metric, $at", metricRows(IngestOracle.metric(raw)),
          metricRows(MetricIngest(raw)))
      }
    }
  }

  test("a persisted parse feeds both outputs: every line lands exactly once") {
    for (round <- 0 until Rounds) {
      val raw = spark.sparkContext.parallelize(lines(round), 2).toDF("value")
      val parsed = IngestTransform.parse(raw).persist()
      try {
        val logs = IngestTransform.logs(parsed)
        val dead = IngestTransform.dead(parsed)
        assertSame(s"logs, round $round", logsRows(IngestOracle.logs(raw)), logsRows(logs))
        assertSame(s"dead_letter, round $round", deadRows(IngestOracle.deadLetter(raw)),
          deadRows(dead))
        assert(logs.count() + dead.count() == LinesPerRound)
      } finally parsed.unpersist()
    }
  }

  test("the generated lines cover every class the property names") {
    val ls = (0 until Rounds).flatMap(lines)
    val raw = ls.toDF("value")
    val reasons = IngestTransform.deadLetter(raw).groupBy("reason").count()
      .as[(String, Long)].collect().toMap
    assert(reasons.getOrElse("malformed_json", 0L) > 100, reasons)
    assert(reasons.getOrElse("missing_created", 0L) > 50, reasons)
    assert(IngestTransform(raw).count() > 800)
    def some(p: String => Boolean, what: String) =
      assert(ls.count(p) >= 10, s"too few lines with $what")
    some(_.contains("\"venus."), "a bench-shaped record")
    some(l => "\"(created|message|correlation_id)\":.*\"\\1\":".r.findFirstIn(l).nonEmpty,
      "a repeated promoted key")
    some(_.contains("\"created\":\""), "created as a string")
    some(l => l.contains("\"created\":true") || l.contains("\"created\":false"), "created as a bool")
    some(_.contains("\"created\":{"), "created as an object")
    some(l => l.contains("} trailing") || l.contains("} {\"x\":1}"), "content after the closing brace")
    some(l => l.trim.startsWith("[") || l.trim.startsWith("\""), "another top level")
    some(_.contains("\\ud800"), "an escaped lone surrogate")
  }
}
