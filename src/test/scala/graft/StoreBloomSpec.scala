package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.query.LogsTable
import graft.store.{BucketedStore, LogStore}
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.DataFrame

/** The `correlation_id` bloom filter as the store writes it, read back from
  * parquet footers: every writer sizes the filter to the distinct ids in
  * its file, and the filter alone still prunes point lookups.
  */
class StoreBloomSpec extends SparkSpec {
  import spark.implicits._

  private def id(tag: String, i: Long): String =
    UUID.nameUUIDFromBytes(s"$tag-$i".getBytes(StandardCharsets.UTF_8)).toString

  /** `n` rows with unique ids `id(tag, 0 until n)` on one date: a key
    * column parquet cannot dictionary-encode, so it gets a bloom filter.
    */
  private def uniqueIds(tag: String, n: Int, from: Long = 0): DataFrame =
    (from until from + n).map(i => (s"m-$i", id(tag, i), "2024-01-01"))
      .toDF("message", "correlation_id", "date")

  private def conf = spark.sparkContext.hadoopConfiguration

  private def parquetFiles(dir: String): Seq[Path] = {
    val it = new Path(dir).getFileSystem(conf).listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.toString.contains("/_") && !p.toString.contains("/."))
      .toSeq
  }

  /** Per row group of `file`: the bitset bytes of its `correlation_id`
    * bloom filter, or None where the chunk has none.
    */
  private def bloomBytes(file: Path): Seq[Option[Int]] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getRowGroups.asScala.toSeq.map { rg =>
      val chunk = rg.getColumns.asScala.find(_.getPath.toDotString == "correlation_id").get
      Option(r.readBloomFilter(chunk)).map(_.getBitsetSize)
    } finally r.close()
  }

  /** Row groups of `file` left to scan for `correlation_id = key` with
    * parquet's min/max, dictionary and page-index filters off, so only the
    * bloom filter (when `bloom`) can drop one.
    */
  private def survivors(file: Path, key: String, bloom: Boolean = true): Int = {
    val opts = HadoopReadOptions.builder(conf, file)
      .withRecordFilter(FilterCompat.get(
        FilterApi.eq(FilterApi.binaryColumn("correlation_id"), Binary.fromString(key))))
      .useStatsFilter(false)
      .useDictionaryFilter(false)
      .useColumnIndexFilter(false)
      .useBloomFilter(bloom)
      .build()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), opts)
    try r.getRowGroups.size finally r.close()
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("every store writer sizes the correlation_id bloom filter to its file") {
    val MaxBytes = 64 * 1024 // a fixed-size filter is parquet's 1 MiB maximum
    def assertSized(files: Seq[Path], what: String): Unit = {
      assert(files.nonEmpty, s"$what wrote no files")
      files.foreach { f =>
        val sizes = bloomBytes(f)
        assert(sizes.nonEmpty && sizes.forall(_.exists(_ <= MaxBytes)),
          s"$what: $f bloom bitset bytes $sizes, want a filter of at most $MaxBytes")
      }
    }
    Seq(100, 9900).foreach { n =>
      val root = tmp("graft-bloom-size")
      val store = new LogStore(root)
      store.append("logs", uniqueIds(s"a$n", n).coalesce(1))
      assertSized(parquetFiles(s"$root/logs"), s"append of $n ids")
      store.appendIdempotent("epochs", uniqueIds(s"e$n", n).coalesce(1), "w", 0L)
      store.appendIdempotent("epochs", uniqueIds(s"e$n", n, from = n).coalesce(1), "w", 1L)
      assertSized(parquetFiles(s"$root/epochs"), s"appendIdempotent of $n ids")
      store.compact(spark, "epochs", "2024-01-01")
      assertSized(parquetFiles(s"$root/epochs"), s"compact of ${2 * n} ids")
    }
    val table = s"bloom_bucketed_${UUID.randomUUID().toString.replace("-", "")}"
    try {
      new BucketedStore(spark).writeBucketed(uniqueIds("b", 9900), table, "correlation_id", 4)
      assertSized(spark.table(table).inputFiles.toSeq.map(new Path(_)), "writeBucketed")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("the filter grows with a file's distinct ids instead of capping at the smallest size") {
    val root = tmp("graft-bloom-grow")
    new LogStore(root).append("logs", uniqueIds("g", 100000).coalesce(1))
    val sizes = parquetFiles(s"$root/logs").flatMap(bloomBytes)
    // 100,000 ids at a 1 % false-positive rate need about 120 KB
    assert(sizes.nonEmpty && sizes.forall(_.exists(b => b > 64 * 1024 && b < 1024 * 1024)),
      s"bloom bitset bytes $sizes")
  }

  test("byCorrelationId pushes the lower-cased id into the parquet scan") {
    val root = tmp("graft-bloom-push")
    val store = new LogStore(root)
    store.append("logs", uniqueIds("q", 10))
    val key = id("q", 3)
    val lookup = LogsTable(store.read(spark, "logs"))
      .byCorrelationId(key.toUpperCase(java.util.Locale.ROOT)).df
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains(s"EqualTo(correlation_id,$key)"), plan)
    assert(lookup.count() == 1)
  }

  test("the bloom filter alone prunes lookups in files from append, appendIdempotent and compact") {
    val root = tmp("graft-bloom-prune")
    val store = new LogStore(root)
    store.append("logs", uniqueIds("p", 3000).repartition(3))
    (0 until 3).foreach { e =>
      store.appendIdempotent("epochs", uniqueIds("p", 1000, from = 1000L * e).coalesce(1), "w", e)
    }
    val present = (0 until 3000 by 149).map(i => id("p", i))
    val absent = (0 until 20).map(i => id("absent", i))
    def check(dir: String, what: String): Unit = {
      val files = parquetFiles(dir)
      assert(files.size >= 1, s"$what wrote no files")
      val holding = files.map { f =>
        f -> spark.read.parquet(f.toString).select("correlation_id")
          .collect().map(_.getString(0)).toSet
      }
      present.foreach { key =>
        val (file, _) = holding.find(_._2(key)).getOrElse(fail(s"$what: $key not stored"))
        assert(survivors(file, key) >= 1, s"$what: the row group holding $key was pruned")
      }
      absent.foreach { key =>
        files.foreach { f =>
          assert(survivors(f, key) == 0, s"$what: $key kept a row group of $f")
          // without the bloom filter nothing prunes: it is the filter at work
          assert(survivors(f, key, bloom = false) == bloomBytes(f).size)
        }
      }
    }
    check(s"$root/logs", "append")
    check(s"$root/epochs", "appendIdempotent")
    store.compact(spark, "epochs", "2024-01-01")
    check(s"$root/epochs", "compact")
  }
}
