package graft

import graft.functions.JsonFunctions
import graft.model.IngestConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** The ingest projections as they were built before the one-read kernel:
  * three `get_json_object`s and a `json_drop_keys` for the table rows, a
  * `from_json` and one more `get_json_object` for the dead letters. Kept
  * as the oracle the kernel's projections are checked against, with one
  * rule taken from the kernel: a `created` without a time is null.
  */
object IngestOracle {

  /** The kernel's rule for `created`: null unless its microseconds
    * (`× 10⁶`) fit a Long, where `timestamp_seconds` would saturate to
    * year ±294247 instead of failing. */
  private def created(raw: Column): Column = {
    val c = get_json_object(raw, "$.created").try_cast("double")
    val bound = lit(9.223372036854775808e18) // 2^63
    when(c * 1e6 >= -bound && c * 1e6 < bound, c)
  }

  def logs(raw: DataFrame, config: IngestConfig = IngestConfig()): DataFrame = {
    val removed = (config.dropFields ++ IngestConfig.PromotedFields).distinct
    raw
      .withColumn("time", timestamp_seconds(created(col("value"))))
      .withColumn("message", get_json_object(col("value"), "$.message"))
      .withColumn("correlation_id", lower(get_json_object(col("value"), "$.correlation_id")))
      .filter(col("time").isNotNull)
      .withColumn("data_raw", JsonFunctions.json_drop_keys(col("value"), removed))
      .withColumn("date", to_date(col("time")))
      .select("time", "message", "correlation_id", "data_raw", "date")
  }

  def metric(raw: DataFrame): DataFrame =
    raw
      .withColumn("time", timestamp_seconds(created(col("value"))))
      .filter(col("time").isNotNull)
      .withColumn("data_raw", JsonFunctions.json_drop_keys(col("value"), Seq("created")))
      .withColumn("date", to_date(col("time")))
      .select("time", "data_raw", "date")

  def deadLetter(raw: DataFrame): DataFrame = {
    val parsed = from_json(col("value"), MapType(StringType, StringType))
    raw
      .withColumn("reason",
        when(parsed.isNull, lit("malformed_json"))
          .when(created(col("value")).isNull, lit("missing_created")))
      .filter(col("reason").isNotNull)
      .select(col("value").as("raw"), col("reason"))
  }
}
