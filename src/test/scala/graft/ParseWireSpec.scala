package graft

import graft.ingest.{IngestTransform, MetricIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.unix_micros

/** Where the one-read kernel departs from the expressions it replaced, on
  * purpose: every line now lands in exactly one of the two outputs. The
  * old split lost a line whose `created` cast to NaN or infinity (no time,
  * yet no dead letter), and it read non-standard JSON with three parsers
  * of different leniency, so such a line could land in `logs` with a null
  * payload, or in both outputs. The kernel reads standard JSON only, and
  * a `created` whose microseconds do not fit a Long has no time (the old
  * `timestamp_seconds` saturated it to year ±294247).
  * Also pins the plan: one parse per line, filter above it.
  */
class ParseWireSpec extends SparkSpec {
  import spark.implicits._

  private def outcome(line: String): (Long, Seq[String]) = {
    val raw = spark.sparkContext.parallelize(Seq(line), 1).toDF("value")
    (IngestTransform(raw).count(),
      IngestTransform.deadLetter(raw).select("reason").as[String].collect().toSeq)
  }

  test("a created that casts to NaN or infinity is dead-lettered, not lost") {
    for (c <- Seq("\"NaN\"", "\"Infinity\"", "\"-inf\"", "1e400", "9" * 400))
      assert(outcome(s"""{"created":$c,"message":"m"}""") == (0L, Seq("missing_created")), c)
  }

  test("a created past a Long of microseconds is dead-lettered, not saturated") {
    for (c <- Seq("9.3e18", "-1e20", "\"1e20\"", "123456789012345678901234567890"))
      assert(outcome(s"""{"created":$c,"message":"m"}""") == (0L, Seq("missing_created")), c)
  }

  test("the largest created whose microseconds fit a Long lands") {
    val raw = Seq("""{"created":9223372036854.773,"message":"m"}""").toDF("value")
    val micros = IngestTransform(raw).select(unix_micros($"time")).as[Long].collect()
    assert(micros.toSeq == Seq(9223372036854773760L))
    assert(IngestTransform.deadLetter(raw).count() == 0L)
  }

  test("non-standard JSON is malformed: one outcome, never a null payload") {
    for (line <- Seq(
        """{'created':3,'message':'q'}""",
        "{\"created\":3,\"message\":\"a\tb\"}",
        """{"created":NaN}""",
        """{"created":3,"x":NaN}""",
        """{"created":3,"message":"x"/*c*/}""",
        """{"created":01}"""))
      assert(outcome(line) == (0L, Seq("malformed_json")), line)
  }

  test("every line lands exactly once, in logs or in dead_letter") {
    val lines = Seq(
      """{"created":1.5,"message":"m"}""", """{"created":"1.5"}""", """{"created":"x"}""",
      """{"created":true}""", """{}""", "[1]", "", "{", """{"created":1.5} tail""",
      """{"created":null,"created":2}""", """{"a":1,"a":2,"created":3}""")
    val raw = spark.sparkContext.parallelize(lines, 2).toDF("value")
    val parsed = IngestTransform.parse(raw).persist()
    try {
      val logs = IngestTransform.logs(parsed).count()
      val dead = IngestTransform.dead(parsed).count()
      assert(logs == 5L && dead == 6L, s"logs $logs, dead $dead")
      assert(IngestTransform(raw).count() == logs)
      assert(IngestTransform.deadLetter(raw).count() == dead)
    } finally parsed.unpersist()
  }

  test("data_raw keeps a repeated key's last value, as the tree reading did") {
    val raw = Seq("""{"a":1,"created":2,"a":{"b":1,"b":[2.50]},"created":9}""").toDF("value")
    val row = IngestTransform(raw).select("time", "data_raw").as[(java.sql.Timestamp, String)].head()
    assert(row._1.getTime == 2000L)
    assert(row._2 == """{"a":{"b":[2.5]}}""")
    assert(MetricIngest(raw).select("data_raw").as[String].head() == """{"a":{"b":[2.5]}}""")
  }

  test("each line is parsed once: the reason filter stays above the kernel") {
    def parses(df: DataFrame): Int =
      "parse_wire\\(".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size
    val raw = spark.sparkContext.parallelize(Seq("""{"created":1}"""), 1).toDF("value")
    assert(parses(IngestTransform(raw)) == 1)
    assert(parses(IngestTransform.deadLetter(raw)) == 1)
    assert(parses(MetricIngest(raw)) == 1)
    // and the whole plan stays inside WholeStageCodegen
    assert(IngestTransform(raw).queryExecution.executedPlan.toString.contains("*(1) Project"))
  }
}
