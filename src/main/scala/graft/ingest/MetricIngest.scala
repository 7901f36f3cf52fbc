package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest transform for the `metric` table — the reference's second
  * hypertable (reference: migration:66-78: `time TIMESTAMPTZ NOT NULL,
  * data JSONB NOT NULL`, chunked like `logs`).
  *
  * Same wire shape as logs ingest (epoch-seconds `created` in the JSON
  * payload) but a leaner envelope: no message/correlation promotion — just
  * time extraction, created popped from the payload, and the date partition
  * column for chunk-equivalent pruning. It is the same one-read kernel as
  * [[IngestTransform]] with only `created` read and popped, so
  * [[IngestTransform.dead]] of [[parse]] is the stream's dead-letter
  * output. Dashboard aggregation over the result is
  * `window()`/`groupBy(date)` + `get_json_object`/`variant_get` on
  * `data_raw` (reference: metabase-instructions.rst:18-22 line charts).
  */
object MetricIngest {

  val RawCol = "value"

  /** The one read of each line (columns as [[IngestTransform.parse]]). */
  def parse(raw: DataFrame): DataFrame =
    IngestTransform.parsed(raw, Seq("created"), promote = false, withData = true)

  /** The good rows of a [[parse]]: `time TIMESTAMP, data_raw STRING, date DATE`. */
  def rows(parsed: DataFrame): DataFrame =
    parsed.filter(col("reason").isNull)
      .select(col("time"), col("data_raw"), to_date(col("time")).as("date"))

  /** Raw JSON wire records -> metric envelope:
    * `time TIMESTAMP, data_raw STRING, date DATE`.
    * Malformed / `created`-less records are dropped here (dead-letter them
    * with [[IngestTransform.deadLetter]] on the same input).
    */
  def apply(raw: DataFrame): DataFrame = rows(parse(raw))
}
