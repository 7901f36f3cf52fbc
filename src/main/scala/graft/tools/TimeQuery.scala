package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Dev loop: time one registered query — or a [[graft.Bench.benchOnly]]
  * twin — with warm-up + repeated passes, without the full Bench sweep.
  * Usage: runMain graft.tools.TimeQuery <queryName> [sfDir] [passes]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, sfDir, "lineitem").count()
    val fn = SparkEntry.queries.get(name)
      .orElse(graft.Bench.benchOnly.toMap.get(name))
      .getOrElse(sys.error(s"unknown query: $name"))
    for (i <- 0 to passes) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"TIMEQ $name pass=$i%d ${if (i == 0) "(warm-up)" else ""} $s%.3f s rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
