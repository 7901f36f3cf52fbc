package graft

import graft.operators.GlobalRank

/** The weighted prefix sums take long-typed weights only, and say so the
  * same way on both tiers: a non-Long weight is rejected at entry, before
  * the local/distributed gate, so the outcome cannot depend on how many
  * rows the frame holds.
  */
class GlobalRankWeightSpec extends SparkSpec {
  import spark.implicits._

  test("an Int weight is rejected the same way at the default gate and with the gate off") {
    spark.catalog.clearCache()
    val df = (1 to 10).map(i => (i.toDouble, i)).toDF("v", "w")
    def attempt(limit: Long): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        GlobalRank.weightedPrefixSumsMultiHandle(df, "v", Seq("w" -> "p"),
          localSpineLimit = limit)
      }
    val local = attempt(1L << 18)
    val distributed = attempt(0L)
    assert(local.getMessage == distributed.getMessage)
    assert(local.getMessage.contains("w"), local.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a rejected call left its input pinned")
  }

  test("Long weights still run on both tiers") {
    val df = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "w")
    val (_, localTots, _) =
      GlobalRank.weightedPrefixSumsMultiHandle(df, "v", Seq("w" -> "p"))
    val (_, distTots, pinned) =
      GlobalRank.weightedPrefixSumsMultiHandle(df, "v", Seq("w" -> "p"),
        localSpineLimit = 0L)
    assert(localTots == Seq(55L) && distTots == Seq(55L))
    pinned.unpersist(false)
    spark.catalog.clearCache()
  }
}
