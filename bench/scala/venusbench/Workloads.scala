package venusbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.ingest.IngestTransform
import graft.operators.{CorpusAnalytics, Dedup, EditJoin, Quality}
import graft.query.LogsTable
import graft.store.{LogStore, SearchIndex}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The four workloads. Each one sets up several times (the last set-up is
  * kept), runs its measured phase for the configured seconds and collects
  * the facts the checks need. Timing and answers go to `c.out`. */
object Workloads {
  import Main.timed

  private val seq: Column = get_json_object(col("data_raw"), "$.seq").cast("long")

  /** Run `each` once per configured set-up, releasing every result but the
    * last; the set-up times go to `setup_s`. */
  private def setups[A](c: Ctx)(each: Int => A)(release: A => Unit): A = {
    val times = Vector.newBuilder[Double]
    var kept: Option[A] = None
    for (i <- 1 to c.spec.int("setups")) {
      kept.foreach(release)
      val (a, dt) = timed(c.tracer.span("setup", "bench")(each(i)))
      times += dt
      kept = Some(a)
    }
    c.out("setup_s") = times.result()
    kept.get
  }

  /** An unmeasured, smaller set-up first: the JVM compiles the ingest and
    * store paths there, so the timed set-ups measure the work, not JIT. */
  private def warmSetup[A](c: Ctx)(each: Int => A)(release: A => Unit): Unit =
    c.tracer.span("warmup", "bench")(release(each(0)))

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def stream(c: Ctx, i: Int, tag: String, maxQueue: Int): IngestStream = {
    val s = new IngestStream(c, new LogStore(s"${c.dir}/store-$i"), s"$tag$i", maxQueue)
    c.streams += s
    s
  }

  private def dumpPath(c: Ctx, role: String): Option[String] =
    if (c.traced) Some(s"${c.dir}/sent-$role.jsonl") else None

  // ------------------------------------------------------------ ingest

  def ingestBurst(c: Ctx): Unit = {
    val n = c.spec.int("burst_records")
    val s = setups(c)(i => stream(c, i, "burst", 2 * n))(_.stop())
    def desc(offset: Long, records: Int, role: String, dump: Boolean) = Map(
      "kind" -> "burst", "base" -> s"${c.dir}/burst-base.jsonl",
      "meta" -> s"${c.dir}/burst-meta.json", "offset" -> offset, "n" -> records,
      "conns" -> c.cpus, "role" -> role, "watch" -> c.plan.seq("lookup_ids")) ++
      (if (dump) dumpPath(c, "burst").map("dump" -> _) else None)
    // a smaller unmeasured burst first, so the measured ones run warm
    c.tracer.span("warmup", "bench")(s.push(desc(c.spec.long("warm_offset"),
      c.spec.int("warm_records"), "warm", dump = false)))
    val t0 = System.nanoTime()
    c.tracer.span("measure", "bench") {
      var b = 0
      while (b < c.spec.int("min_bursts") || elapsed(t0) < c.seconds) {
        s.push(desc(b.toLong * n, n, "measured", dump = b == 0))
        b += 1
      }
    }
    s.stop()
    // read-back: lookups of sampled correlation ids, which the checks use
    // to verify promoted fields, popped keys and exactly-once per id
    val ops = new LogOps(c, s.store)
    c.out("ops") = c.tracer.span("check", "bench") {
      c.plan.seq("lookup_ids").zipWithIndex.map { case (id, i) =>
        ops.run(i, Obj(Map("op" -> "lookup_rows", "id" -> id)))
      }
    }
    finishIngest(c, s.store, dumpPath(c, "burst"))
  }

  /** Landing facts for the checks and, traced, the direct layer timings. */
  private def finishIngest(c: Ctx, store: LogStore, dump: Option[String]): Unit = {
    c.out("landing") = c.tracer.span("check", "bench")(landing(c, store))
    c.out("store_files") = store.fileStats(c.spark, "logs").map { case (d, f, b) =>
      Vector(d, f, b) }
    dump.foreach(d => c.tracer.span("probe", "bench")(ingestProbe(c, d)))
  }

  private def landing(c: Ctx, store: LogStore): Map[String, Any] = {
    val logs = store.read(c.spark, "logs")
    val agg = logs.agg(count(lit(1)), countDistinct(seq), sum(seq)).collect()(0)
    val sample = logs.filter(pmod(seq, lit(509L)) === 0)
      .select(seq, unix_micros(col("time")), col("message"), col("correlation_id"),
        col("data_raw"))
      .collect().map(r => Vector(r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).sortBy(_(0).asInstanceOf[Long])
    val dead = scala.util.Try(store.read(c.spark, "dead_letter")
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    Map("rows" -> agg.getLong(0), "distinct_seq" -> agg.getLong(1),
      "seq_sum" -> (if (agg.isNullAt(2)) 0L else agg.getLong(2)),
      "sample" -> sample.toVector, "dead_letter" -> dead)
  }

  /** Traced runs only: `IngestTransform` and `LogStore.appendIdempotent`
    * called directly on the lines one push sent, the append at the batch
    * sizes the stream produced. */
  private def ingestProbe(c: Ctx, dump: String): Unit = {
    val raw = c.spark.read.text(dump).cache()
    val n = raw.count()
    for (_ <- 1 to 3) c.tracer.span("ingest.transform", "ingest") {
      IngestTransform(raw).write.format("noop").mode("overwrite").save()
    }
    for (_ <- 1 to 3) c.tracer.span("ingest.dead_letter", "ingest") {
      IngestTransform.deadLetter(raw).write.format("noop").mode("overwrite").save()
    }
    val observed = c.streams.flatMap(s => c.progress.batches(s.query.id)).map(_.rows)
      .filter(r => r > 0 && r <= n).sorted.toVector
    val sizes = if (observed.isEmpty) Vector(n)
      else (0 until 8).map(k => observed(k * (observed.size - 1) / 7)).distinct.toVector
    val scratch = new LogStore(s"${c.dir}/append-probe")
    sizes.zipWithIndex.foreach { case (rows, k) =>
      val batch = IngestTransform(raw.limit(rows.toInt)).cache()
      batch.count()
      c.tracer.span("store.append", "store")(scratch.appendIdempotent("logs", batch, "probe", k))
      batch.unpersist()
    }
    raw.unpersist()
    c.out("ingest_probe") = Map("rows" -> n)
  }

  // -------------------------------------------------------------- read

  private val ContextSchema = StructType(Seq(
    StructField("correlation_id", StringType), StructField("data_raw", StringType)))
  private val SpanSchema = StructType(Seq(
    StructField("span_id", StringType), StructField("correlation_id", StringType),
    StructField("description", StringType), StructField("start_us", LongType),
    StructField("end_us", LongType)))

  /** Stream the seeded multi-day corpus into a fresh store through the
    * ingest path, wave by wave. */
  private def loadCorpus(c: Ctx, i: Int): IngestStream = {
    val n = if (i == 0) c.spec.int("warm_records") else c.spec.int("corpus_records")
    // the queue holds the whole corpus and, for the live tail, every record
    // it sends: a drop would be a failure of the run, not a measurement
    val live = if (c.spec.m.contains("rate")) (c.spec.dbl("rate") * c.seconds).toInt else 0
    val s = stream(c, i, "corpus", n + live + 1024)
    s.push(Map("kind" -> "corpus", "seed" -> c.cfg.long("seed"),
      "n" -> n, "days" -> c.spec.int("corpus_days"),
      "ids" -> c.spec.int("corpus_ids"), "waves" -> c.spec.int("corpus_waves"),
      "conns" -> c.cpus, "role" -> (if (i == 0) "warm" else "setup")) ++
      dumpPath(c, "corpus").map("dump" -> _))
    s
  }

  /** The read path's side tables: `context`, `span` and the search index. */
  private def sideTables(c: Ctx, store: LogStore, root: String): Unit = {
    store.append("context", c.spark.read.schema(ContextSchema).json(s"${c.dir}/context.jsonl"))
    store.append("span", c.spark.read.schema(SpanSchema).json(s"${c.dir}/span.jsonl")
      .select(col("span_id"), col("correlation_id"), col("description"),
        timestamp_micros(col("start_us")).as("time_start"),
        timestamp_micros(col("end_us")).as("time_end")))
    c.tracer.span("store.searchidx.build", "store")(SearchIndex.build(c.spark, s"$root/logs", "message"))
  }

  def logQueries(c: Ctx): Unit = {
    def each(i: Int) = {
      val s = loadCorpus(c, i)
      s.stop()
      sideTables(c, s.store, s"${c.dir}/store-$i")
      s
    }
    warmSetup(c)(each)(_ => ())
    val s = setups(c)(each)(_ => ())
    val ops = new LogOps(c, s.store, Some(s"${c.dir}/store-${c.spec.int("setups")}"))
    val mix = c.plan.objs("ops")
    val warm = c.spec.int("warm_ops")
    c.tracer.span("warmup", "bench")((0 until warm).foreach(i => ops.run(i, mix(i % mix.size))))
    val t0 = System.nanoTime()
    val done = Vector.newBuilder[Map[String, Any]]
    c.tracer.span("measure", "bench") {
      var i = warm
      while (elapsed(t0) < c.seconds) {
        done += ops.run(i % mix.size, mix(i % mix.size))
        i += 1
      }
    }
    c.out("ops") = done.result()
    c.out("searchidx") = ops.candidates.toVector
    finishIngest(c, s.store, dumpPath(c, "corpus"))
  }

  /** A dashboard round against the live store: the latest records, the
    * last hour in minute buckets, the record due a second ago by id, then
    * the next operations of the seeded analyst mix. */
  private def round(c: Ctx, k: Int, now: Long, justSent: String): Seq[Obj] = {
    val mix = c.plan.objs("ops")
    val per = c.spec.int("mix_per_round")
    val minute = now / 60000 * 60000
    Seq(Obj(Map("op" -> "recent", "n" -> 20)),
      Obj(Map("op" -> "range_bucket", "from_ms" -> (minute - 3600000L),
        "to_ms" -> (minute + 60000L), "bucket" -> "minute", "bucket_ms" -> 60000L)),
      Obj(Map("op" -> "lookup", "id" -> justSent))) ++
      (0 until per).map(j => mix((k * per + j) % mix.size))
  }

  def liveTail(c: Ctx): Unit = {
    def each(i: Int) = {
      val s = loadCorpus(c, i)
      sideTables(c, s.store, s"${c.dir}/store-$i")
      s
    }
    warmSetup(c)(each)(_.stop())
    val s = setups(c)(each)(_.stop())
    val ops = new LogOps(c, s.store, Some(s"${c.dir}/store-${c.spec.int("setups")}"))
    val ids = c.plan.seq("ids").map(_.toString)
    val warm = c.spec.int("warm_rounds")
    c.tracer.span("warmup", "bench") {
      (0 until warm).foreach(k => round(c, k, Clock.nowMs, ids(k)).foreach(ops.run(k, _)))
    }
    val rate = c.spec.dbl("rate")
    val count = (rate * c.seconds).toInt
    val desc = Map("kind" -> "live", "seed" -> c.cfg.long("seed"), "rate" -> rate,
      "count" -> count, "first_seq" -> c.spec.long("live_first_seq"),
      "ids" -> c.spec.int("corpus_ids"), "role" -> "measured") ++
      dumpPath(c, "live").map("dump" -> _)
    val liveIds = c.plan.seq("live_ids").map(_.toString)
    val g = s.start(desc)
    val due0 = g.next().long("t0_ms")
    // rounds run while the tail is due; the generator's summary is read after
    val lastDue = due0 + (count * 1000 / rate).toLong
    val done = Vector.newBuilder[Map[String, Any]]
    c.tracer.span("measure", "bench") {
      var k = warm
      while (Clock.nowMs < lastDue && g.alive) {
        c.checkDeadline("running the live tail")
        val now = Clock.nowMs
        // the record due one second ago: just sent, maybe not yet visible
        val justSent = liveIds((((now - 1000 - due0) * rate / 1000).toInt).max(0).min(count - 1))
        round(c, k, now, justSent).foreach(op => done += ops.run(k, op))
        k += 1
      }
      s.finish(desc, g)
    }
    s.stop()
    c.out("ops") = done.result()
    c.out("searchidx") = ops.candidates.toVector
    finishIngest(c, s.store, dumpPath(c, "live"))
  }

  // --------------------------------------------------------- operators

  /** The shelf's two inputs as the store holds them: the documents
    * (message = text) and the customer names (message = name). */
  private def inputs(c: Ctx, store: LogStore): (DataFrame, DataFrame) = {
    def field(k: String) = get_json_object(col("data_raw"), "$." + k)
    val logs = c.tracer.span("store.read", "store")(store.read(c.spark, "logs"))
    val docs = logs.filter(field("doc_id").isNotNull)
      .select(field("doc_id").cast("long").as("doc_id"), col("message").as("text"),
        field("lang").as("lang"), field("source").as("source"))
    val customers = logs.filter(field("c_custkey").isNotNull)
      .select(field("c_custkey").cast("long").as("c_custkey"), col("message").as("c_name"))
    (docs, customers)
  }

  /** The corpus shelf's fixed call sequence, named as in BENCHMARK.json,
    * each with the arguments its registered query uses. */
  private val calls: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "dedup_exact" -> ((d, _) => Dedup.exact(d)),
    "minhash_lsh" -> ((d, _) => Dedup.minhashLsh(d, threshold = 0.3)),
    "remove_dup_passages" -> ((d, _) => CorpusAnalytics.removeDuplicatedPassages(d)),
    "winnowing_overlap" -> ((d, _) => CorpusAnalytics.winnowingOverlapPairs(d, k = 5, w = 4,
      minShared = 3, maxDf = 20)),
    "containment_pairs" -> ((d, _) => Dedup.containmentPairs(d)),
    "substr_pairs" -> ((d, _) => CorpusAnalytics.exactSubstringPairs(d)),
    "term_dispersion" -> ((d, _) => CorpusAnalytics.termDispersion(d, groupCol = "source")),
    "dunn_posthoc" -> ((d, _) => Quality.dunnPostHoc(
      d.filter(col("text").isNotNull && col("source").isNotNull),
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long"), col("source"))),
    "edit_join" -> ((_, cu) => EditJoin.editSimilarityJoin(cu, idCol = "c_custkey",
      strCol = "c_name", q = 3, tau = 1)))

  def corpusBatch(c: Ctx): Unit = {
    // the unmeasured set-up is a full one: the ingest path runs warm only
    // once it has carried a burst of this size
    def each(i: Int) = {
      val docs = c.spec.int("documents")
      val customers = c.spec.int("customers")
      val s = stream(c, i, "docs", docs + customers + 1024)
      s.push(Map("kind" -> "documents", "seed" -> c.cfg.long("seed"), "documents" -> docs,
        "customers" -> customers, "conns" -> c.cpus, "role" -> (if (i == 0) "warm" else "setup")) ++
        dumpPath(c, "documents").map("dump" -> _))
      s.stop()
      s
    }
    warmSetup(c)(each)(_ => ())
    val s = setups(c)(each)(_ => ())
    def pass(p: Int): Vector[Map[String, Any]] = calls.toVector.map { case (name, f) =>
      val t = Clock.nowMs
      val ((rows, digest), dt) = timed(c.tracer.span(s"operators.$name", "operators") {
        val (docs, customers) = inputs(c, s.store)
        Digest.of(f(docs, customers).collect())
      })
      Map("pass" -> p, "op" -> name, "s" -> dt, "t0" -> t, "t1" -> Clock.nowMs,
        "rows" -> rows, "digest" -> digest)
    }
    val t0 = System.nanoTime()
    val done = Vector.newBuilder[Map[String, Any]]
    c.tracer.span("measure", "bench") {
      var p = 0
      while (p < c.spec.int("min_passes") || elapsed(t0) < c.seconds) {
        done ++= pass(p)
        p += 1
      }
    }
    c.out("ops") = done.result()
    finishIngest(c, s.store, dumpPath(c, "documents"))
  }

  // ---------------------------------------------------------- age bound

  /** Traced runs only: one push of fewer records than the flush size, sent
    * at once into an idle stream, so the source exposes it only when the
    * flush gate's age bound fires. Every other push is shaped so that this
    * never happens in a measured phase; this one shows what it costs. */
  def ageFlushProbe(c: Ctx): Unit = c.tracer.span("probe", "bench") {
    val s = new IngestStream(c, new LogStore(s"${c.dir}/age-probe"), "age", 1024)
    s.push(Map("kind" -> "corpus", "seed" -> c.cfg.long("seed"),
      "n" -> c.plan.int("age_probe_records"), "days" -> 1, "ids" -> 100, "waves" -> 1,
      "conns" -> 1, "shaped" -> false, "role" -> "age_probe"))
    s.stop()
    c.out("age_probe") = s.export
  }
}

/** The `LogsTable` operations of the read path, each answered in the
  * compact form the checks compare: sequence numbers, bucket counts or
  * keys. Every call re-reads the store, as an analyst's query would. */
final class LogOps(c: Ctx, store: LogStore, root: Option[String] = None) {
  import Main.timed
  private val seq: Column = get_json_object(col("data_raw"), "$.seq").cast("long")

  private def logs(): LogsTable =
    LogsTable(c.tracer.span("store.read", "store")(store.read(c.spark, "logs")))
  private def table(t: String): DataFrame =
    c.tracer.span("store.read", "store")(store.read(c.spark, t))

  private def seqs(df: DataFrame): Vector[Long] =
    df.select(seq).collect().map(_.getLong(0)).sorted.toVector

  private def answer(op: Obj): Any = op.str("op") match {
    case "lookup" => seqs(logs().byCorrelationId(op.str("id")).df)
    case "lookup_rows" =>
      logs().byCorrelationId(op.str("id")).df
        .select(seq, unix_micros(col("time")), col("message"), col("correlation_id"),
          col("data_raw"))
        .collect().map(r => Vector(r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4))).sortBy(_(0).asInstanceOf[Long]).toVector
    case "range_bucket" =>
      logs().inTimeRange(new Timestamp(op.long("from_ms")), new Timestamp(op.long("to_ms")))
        .timeBucket(op.str("bucket"))
        .select(unix_millis(col("bucket")), col("n")).collect()
        .map(r => Vector(r.getLong(0), r.getLong(1))).sortBy(_(0)).toVector
    case "ilike" =>
      val patterns = op.seq("patterns").map(_.toString)
      val base = root.get + "/logs"
      if (c.traced) {
        val cands = c.tracer.span("store.searchidx.candidates", "store")(
          SearchIndex.candidateFiles(c.spark, base, patterns))
        val files = store.fileStats(c.spark, "logs").map(_._2.toLong).sum
        candidates += cands.map(_.size.toDouble / files).getOrElse(1.0)
      }
      seqs(SearchIndex.search(c.spark, base, patterns, "message"))
    case "contains" =>
      val t = logs()
      val pairs = op.obj("pairs").m.map { case (k, v) => k -> v.toString }
      seqs(t.df.filter(t.jsonContains(pairs)))
    case "recent" =>
      logs().recent(op.int("n")).select(seq).collect().map(_.getLong(0)).toVector
    case "enrich" =>
      logs().byCorrelationId(op.str("id")).withContext(table("context"))
        .select(seq, col("context_data_raw").isNotNull).collect()
        .map(r => Vector(r.getLong(0), r.getBoolean(1)))
        .sortBy(r => (r(0).asInstanceOf[Long], r(1).toString)).toVector
    case "spans" =>
      logs().byCorrelationId(op.str("id")).withSpans(table("span"))
        .select(seq, col("span_id")).collect()
        .map(r => Vector(r.getLong(0), r.getString(1)))
        .sortBy(r => (r(0).asInstanceOf[Long], r(1).toString)).toVector
    case "keys" =>
      logs().inTimeRange(new Timestamp(op.long("from_ms")), new Timestamp(op.long("to_ms")))
        .discoverKeys().toVector
    case other => sys.error(s"unknown op $other")
  }

  /** Traced `ilike` calls: the share of the table's files the search
    * index left as candidates. */
  val candidates = mutable.ArrayBuffer.empty[Double]

  def run(index: Int, op: Obj): Map[String, Any] = {
    val name = op.str("op")
    val layerName = if (name == "lookup_rows") "lookup" else name
    c.scanStats()
    val t = Clock.nowMs
    val (ans, dt) = timed(c.tracer.span(s"query.$layerName", "query")(answer(op)))
    val end = Clock.nowMs
    val scan = c.scanStats()
    Map("i" -> index, "op" -> layerName, "s" -> dt, "t0" -> t, "t1" -> end,
      "args" -> op.m, "answer" -> ans) ++ (if (scan.isEmpty) Map.empty else Map("scan" -> scan))
  }
}

/** Order-free digest of an operator's result: every row rendered with
  * doubles at nine significant digits, rows sorted, SHA-256 of the lot. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.9g"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  def of(rows: Array[Row]): (Long, String) = {
    val lines = rows.map(r => r.toSeq.map(canon).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }
}
