package graft

import graft.query.LogsTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Query-surface semantics: decomposition NULL rules, nested paths,
  * ILIKE-ANY, key discovery, top-k, joins, time buckets — the reference's
  * delegated query surface (SURVEY §2.3-2.7).
  */
class LogsTableSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val logs = LogsTable(Seq(
    (ts("2024-01-01 10:00:00"), "alpha one", "c1", """{"a":1,"b":{"msg":"hey this is true"},"rtd":1.5}"""),
    (ts("2024-01-02 11:00:00"), "beta two", "c2", """{"a":2,"extra":"x"}"""),
    (ts("2024-01-03 12:00:00"), "gamma three", "c1", """{"a":"not-an-int","rtd":2.5}""")
  ).toDF("time", "message", "correlation_id", "data_raw"))

  test("byCorrelationId point lookup") {
    assert(logs.byCorrelationId("C1").df.count() == 2) // case-normalized
  }

  test("lookup and ILIKE do not follow the JVM default locale") {
    // ingest lower-cases ids with Spark's `lower`; under a Turkish default
    // locale String.toLowerCase maps "I" to a dotless "ı" and would miss
    val stored = LogsTable(Seq(
      (ts("2024-01-01 10:00:00"), "INFO ready", "req-i1", "{}")
    ).toDF("time", "message", "correlation_id", "data_raw"))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      assert(stored.byCorrelationId("REQ-I1").df.count() == 1)
      assert(stored.searchMessage(Seq("%INFO%")).df.count() == 1)
    } finally java.util.Locale.setDefault(saved)
  }

  test("inTimeRange filters by event time") {
    val got = logs.inTimeRange(ts("2024-01-01 00:00:00"), ts("2024-01-02 23:59:59"))
      .df.select("correlation_id").as[String].collect().sorted
    assert(got.toSeq == Seq("c1", "c2"))
  }

  test("jsonField nested path (data->'b'->>'msg')") {
    val got = logs.df.select(logs.jsonField("b.msg")).as[String].collect()
    assert(got.count(_ == "hey this is true") == 1)
  }

  test("decompose: ascribed schema, NULL for missing AND type-mismatched fields") {
    val rec = logs.decompose(StructType(Seq(
      StructField("a", IntegerType),
      StructField("rtd", DoubleType),
      StructField("nope", StringType))))
    val rows = rec.orderBy("time").collect()
    assert(rows(0).getAs[Int]("a") == 1)
    assert(rows(0).getAs[Double]("rtd") == 1.5)
    assert(rows(0).isNullAt(rows(0).fieldIndex("nope")))   // absent key -> NULL
    assert(rows(1).isNullAt(rows(1).fieldIndex("rtd")))    // absent key -> NULL
    assert(rows(2).isNullAt(rows(2).fieldIndex("a")))      // "not-an-int" -> NULL
  }

  test("jsonContains: conjunction of top-level key/value matches (@> analog)") {
    assert(logs.df.filter(logs.jsonContains(Map("a" -> "1"))).count() == 1)
    // multi-pair containment: ALL pairs must match
    assert(logs.df.filter(logs.jsonContains(Map("a" -> "1", "rtd" -> "1.5"))).count() == 1)
    assert(logs.df.filter(logs.jsonContains(Map("a" -> "1", "rtd" -> "2.5"))).count() == 0)
    // absent key -> NULL extraction -> no match
    assert(logs.df.filter(logs.jsonContains(Map("nope" -> "x"))).count() == 0)
  }

  test("searchMessage ILIKE ANY semantics") {
    // matches the conftest.py:169-174 pattern shape
    assert(logs.searchMessage(Seq("%ALPHA%", "%gam%")).df.count() == 2)
    assert(logs.searchMessage(Seq("%zzz%")).df.count() == 0)
  }

  test("discoverKeys returns distinct key universe under constraint") {
    assert(logs.discoverKeys() == Seq("a", "b", "extra", "rtd"))
    assert(logs.byCorrelationId("c2").discoverKeys() == Seq("a", "extra"))
  }

  test("dynamicWiden projects every discovered key, NULL where absent") {
    val wide = logs.dynamicWiden()
    assert(wide.columns.toSet == Set("time", "message", "correlation_id", "a", "b", "extra", "rtd"))
    val c2 = wide.filter($"correlation_id" === "c2").head()
    assert(c2.getAs[String]("a") == "2")
    assert(c2.isNullAt(c2.fieldIndex("rtd")))
  }

  test("recent = order by time desc limit n") {
    val got = logs.recent(2).select("correlation_id").as[String].collect()
    assert(got.toSeq == Seq("c1", "c2"))
  }

  test("withContext enrichment join broadcasts and left-joins") {
    val context = Seq(("c1", """{"user":"u1"}""")).toDF("correlation_id", "data_raw")
    val joined = logs.withContext(context)
    assert(joined.count() == 3) // left join keeps unmatched
    assert(joined.filter($"context_data_raw".isNotNull).count() == 2)
  }

  test("withSpans interval association") {
    val span = Seq(
      ("s1", "c1", "req", ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00"))
    ).toDF("span_id", "correlation_id", "description", "time_start", "time_end")
    val got = logs.withSpans(span)
    assert(got.count() == 1)
    assert(got.head().getAs[String]("message") == "alpha one")
  }

  test("timeBucket aggregates per bucket with payload field stats") {
    val b = logs.timeBucket("day", Some("rtd")).orderBy("bucket").collect()
    assert(b.length == 3)
    assert(b(0).getAs[Long]("n") == 1 && b(0).getAs[Double]("avg_value") == 1.5)
  }
}
