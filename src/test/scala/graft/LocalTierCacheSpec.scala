package graft

import graft.operators.Quality
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each gated statistic of the bounded-cell shelf persists its cell table
  * before the driver-fold probe and must release it when the driver fold
  * answers: on a small input under the gate, nothing stays cached after
  * the call (the GlobalRankSpec "local tier leaves nothing cached"
  * contract, for the Quality tiers). The distributed tier keeps its cell
  * table pinned, so a fold that silently deferred would fail here too.
  */
class LocalTierCacheSpec extends SparkSpec {
  import spark.implicits._

  private def cells: DataFrame = (0 until 60).map { i =>
    (i.toLong, s"g${i % 3}", (i * 7 % 11 + i % 3).toLong, (i * 5 % 13).toLong)
  }.toDF("id", "g", "v", "w")

  private val statistics: Seq[(String, DataFrame => DataFrame)] = Seq(
    "moodMedian" -> (d => Quality.moodMedian(d, col("v"), col("g"))),
    "spearmanCorrelation" ->
      (d => Quality.spearmanCorrelation(d, col("v"), col("w"), "id")),
    "groupedKsTest" -> (d => Quality.groupedKsTest(d, col("v"), col("g"))),
    "groupedW1" -> (d => Quality.groupedW1(d, col("v"), col("g"))),
    "kruskalWallis" -> (d => Quality.kruskalWallis(d, col("v"), col("g"))),
    "kGroupCard" -> (d => Quality.kGroupCard(d, col("v"), col("g"))),
    "dunnPostHoc" -> (d => Quality.dunnPostHoc(d, col("v"), col("g"))),
    "driftScreenCard" -> (d => Quality.driftScreenCard(d, col("v"), col("g"))),
    "groupedCliffsDelta" ->
      (d => Quality.groupedCliffsDelta(d, col("v"), col("g"))))

  for ((name, stat) <- statistics)
    test(s"$name local tier leaves nothing cached") {
      spark.catalog.clearCache()
      val out = stat(cells).collect()
      assert(out.nonEmpty, s"$name answered no rows")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name local tier left a cached frame pinned")
    }
}
