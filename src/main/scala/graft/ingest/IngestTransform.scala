package graft.ingest

import graft.functions.JsonFunctions
import graft.model.IngestConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pure `DataFrame => DataFrame` ingest pipeline: raw JSON wire records
  * in, partition-ready `logs` envelope rows and dead letters out.
  *
  * Re-expresses the reference's ingest dataflow
  * (reference: venus/db/write.py:19-62) as a single declarative Spark
  * lineage, so it is identical for batch and Structured Streaming inputs:
  *
  *   1. JSON parse with dead-letter split  (reference: write.py:31-36)
  *   2. extract + coerce `created` -> time, `message`, `correlation_id`
  *      (reference: write.py:41-47)
  *   3. drop records lacking `created`     (reference: write.py:42-44),
  *      or whose `created` has no time (NaN, infinity, or microseconds
  *      past a Long)
  *   4. pop promoted keys + configured ignore-list from the payload
  *      (reference: write.py:51, settings.py:26-37)
  *   5. add a `date` partition column — the hypertable chunk-routing
  *      equivalent (reference: migration:39-43)
  *
  * Steps 1–4 are ONE read of each line, as the reference's one
  * `json.loads` is: the codegen'd [[graft.functions.ParseWire]] kernel
  * (Jackson, no UDF) yields `created`, `message`, `correlation_id`, the
  * popped payload and a dead-letter `reason` together. [[parse]] is that
  * read; [[logs]] and [[dead]] are projections of it, so a persisted parse
  * feeds both sinks ([[graft.streaming.StreamIngest]]). The rest is
  * built-ins: `timestamp_seconds`, `lower` and `to_date`. Every line lands
  * in exactly one of the two outputs.
  */
object IngestTransform {

  /** Name of the input column holding the raw JSON wire record. */
  val RawCol = "value"

  /** The one read of each line, with the ignore-list of `config` popped:
    * `time TIMESTAMP, message STRING, correlation_id STRING,
    * data_raw STRING, reason STRING, raw STRING`. `reason` is null on a
    * good row; `raw` (the line itself) is kept only on dead rows.
    */
  def parse(raw: DataFrame, config: IngestConfig = IngestConfig()): DataFrame =
    parsed(raw, (config.dropFields ++ IngestConfig.PromotedFields).distinct,
      promote = true, withData = true)

  /** [[parse]] with the kernel's switches exposed: `drop` (popped keys),
    * `promote` (read `message` and `correlation_id`), `withData` (write
    * `data_raw`). */
  private[ingest] def parsed(
      raw: DataFrame, drop: Seq[String], promote: Boolean, withData: Boolean): DataFrame = {
    val w = raw.select(
      JsonFunctions.parse_wire(col(RawCol), drop, promote, withData).as("w"), col(RawCol))
    w.select(
      // `created` is an epoch-seconds float (reference: write.py:41):
      // timestamp_seconds keeps the fractional part; the kernel nulls a
      // `created` whose microseconds do not fit a Long, where it would
      // saturate, so such a line is `missing_created`
      timestamp_seconds(col("w.created")).as("time"),
      col("w.message").as("message"),
      lower(col("w.correlation_id")).as("correlation_id"),
      col("w.data_raw").as("data_raw"),
      col("w.reason").as("reason"),
      when(col("w.reason").isNotNull, col(RawCol)).as("raw"))
  }

  /** The good rows of a [[parse]]: `time TIMESTAMP, message STRING,
    * correlation_id STRING, data_raw STRING, date DATE`. */
  def logs(parsed: DataFrame): DataFrame =
    parsed.filter(col("reason").isNull)
      .select(col("time"), col("message"), col("correlation_id"), col("data_raw"),
        to_date(col("time")).as("date"))

  /** The dead rows of a parse: `raw STRING, reason STRING`, where reason
    * is `malformed_json` (reference: write.py:34-36) or `missing_created`
    * (reference: write.py:42-44). */
  def dead(parsed: DataFrame): DataFrame =
    parsed.filter(col("reason").isNotNull).select(col("raw"), col("reason"))

  /** Full transform: raw JSON strings -> logs envelope.
    *
    * Input: any DataFrame with a string column `value` (one JSON record per
    * row). Output columns: `time TIMESTAMP, message STRING,
    * correlation_id STRING, data_raw STRING, date DATE`.
    *
    * Malformed JSON and records missing `created` are silently dropped here;
    * use [[deadLetter]] on the same input to route them to a side sink
    * (reference drops them with a log line, write.py:34-36,42-44).
    */
  def apply(raw: DataFrame, config: IngestConfig = IngestConfig()): DataFrame =
    logs(parse(raw, config))

  /** Rows the main transform drops, for a dead-letter sink, each tagged
    * with a reason (see [[dead]]). Reads only what the reason needs. */
  def deadLetter(raw: DataFrame): DataFrame =
    dead(parsed(raw, Nil, promote = false, withData = false))
}
