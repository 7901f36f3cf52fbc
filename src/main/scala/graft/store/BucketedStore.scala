package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed, sorted table storage for shuffle-free co-located joins — the
  * cluster-scale answer to the reference's btree index on `correlation_id`
  * (reference: migration:35,64).
  *
  * Why this matters at 100 TB: a logs ⋈ context enrichment join on
  * `correlation_id` shuffles BOTH sides on every query when the tables are
  * plain files. Writing both sides bucketed by the join key into the same
  * bucket count means Catalyst proves the partitioning requirement is
  * already satisfied — the join plans as a zero-exchange SortMergeJoin
  * (and with `sortBy`, zero-sort too). The shuffle is paid ONCE at write
  * time, then every subsequent join/aggregate on the key is exchange-free.
  *
  * This is the Spark-native equivalent of the reference delegating point
  * lookups to an index: organize the storage once, query many times.
  */
final class BucketedStore(spark: SparkSession) {

  /** Write `df` as a bucketed+sorted managed table (overwrite). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int = 32): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .options(WritePolicy.keyBloom(bucketCol))
      .format("parquet")
      .saveAsTable(table)

  def table(name: String): DataFrame = spark.table(name)

  /** Co-located equi-join of two tables bucketed on the same key with the
    * same bucket count: plans with no Exchange on either side.
    */
  def colocatedJoin(left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
