package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Date-partitioned Parquet storage for the event tables — the TimescaleDB
  * hypertable equivalent (reference: migration:39-43,74-78): appends route
  * rows to `date=YYYY-MM-DD/` directories by event-time value, and readers
  * get partition pruning for any time-range predicate.
  *
  * At cluster scale the same layout holds: each micro-batch append writes
  * only the dates it touches; bloom filters on `correlation_id` give
  * point-lookup row-group skipping (the btree-index analog,
  * reference: migration:35). Parquet writes no filter for a fully
  * dictionary-encoded `correlation_id` chunk (the dictionary filter prunes
  * those instead), and each filter it does write is sized to the distinct
  * ids in its file ([[WritePolicy]]), so a small epoch file carries a
  * small filter.
  */
final class LogStore(root: String) {

  private def path(table: String) = s"$root/$table"

  private val KeyBloom = WritePolicy.keyBloom("correlation_id")

  // ---- union-schema sidecar -------------------------------------------
  // The "table-format catalog" a 100 TB deployment would use, in miniature:
  // every append folds its dataframe's schema into `_union_schema.json`
  // under the table dir (underscore-prefixed = invisible to partition
  // discovery), so [[read]] can SUPPLY the union schema instead of
  // re-deriving it from every parquet footer (mergeSchema) on every read —
  // at one footer per file that cost grows with epoch count and was paid
  // per poll by anything monitoring the table (r9's ingest-throughput
  // regression). Writers race benignly: a lost sidecar update merely
  // delays a promoted column's visibility until the next epoch's append.

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecarPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}/_union_schema.json")

  /** The recorded union schema, or None when the sidecar is absent OR
    * momentarily unreadable ([[updateUnionSchema]] replaces it atomically,
    * so on POSIX/HDFS there is no absent window; on a filesystem without
    * atomic replace an update is skipped, and an unreadable read still
    * lands here — [[read]] then falls back to the mergeSchema scan, which
    * is slower but always correct). Callers that must distinguish
    * absent-vs-unreadable use [[recordedSchemaStrict]].
    */
  private def recordedSchema(
      spark: SparkSession,
      table: String): Option[org.apache.spark.sql.types.StructType] =
    try recordedSchemaStrict(fsFor(spark, sidecarPath(table)), table)
    catch { case _: Throwable => None }

  /** Absent → None; present → Some(schema); present-but-unreadable →
    * THROWS (so a writer never mistakes a transient read failure for an
    * empty sidecar and narrows the recorded union).
    */
  private def recordedSchemaStrict(
      fs: org.apache.hadoop.fs.FileSystem,
      table: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = sidecarPath(table)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(org.apache.spark.sql.types.DataType
          .fromJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      } finally in.close()
    }
  }

  /** Fold `schema` into the recorded union: existing fields keep their
    * recorded type and position, new fields append as nullable — exactly
    * mergeSchema's union for the ADD COLUMN evolution this store supports.
    * Written atomically (tmp + rename) so readers never see a torn file.
    */
  private def updateUnionSchema(
      spark: SparkSession,
      table: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.StructType
    // strict read: a transiently unreadable sidecar must SKIP this update
    // (the next append retries), never be treated as absent — overwriting
    // with only this epoch's schema would permanently narrow the union
    val existing =
      try recordedSchemaStrict(fsFor(spark, sidecarPath(table)), table)
      catch { case _: Throwable => return }
    val merged = existing match {
      case None => schema
      case Some(old) =>
        val known = old.fieldNames.toSet
        StructType(old.fields ++ schema.fields.filterNot(f => known(f.name))
          .map(_.copy(nullable = true)))
    }
    if (existing.contains(merged)) return
    val p = sidecarPath(table)
    val fs = fsFor(spark, p)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s"._union_schema.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(merged.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // atomic replace via FileContext's overwrite rename (POSIX/HDFS
    // semantics): the sidecar is never ABSENT mid-update. The previous
    // delete-then-rename fallback opened a window where a concurrent
    // writer's strict read saw no sidecar (None, not an error) and
    // rewrote the union with only its own epoch's schema — permanently
    // narrowing it. On a filesystem with no atomic replace, drop the tmp
    // and SKIP (the next append retries the merge; read() falls back to
    // the mergeSchema scan meanwhile), never delete the live sidecar.
    val replaced =
      if (fs.rename(tmp, p)) true
      else
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
            .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch { case _: Throwable => false }
    if (!replaced) {
      try fs.delete(tmp, false)
      catch { case _: Throwable => () }
    }
  }

  /** The schema [[read]] will observe for `df` written with partition
    * columns moved to directories: data fields first (write order), the
    * partition fields re-appended at the end, mirroring Spark's
    * data-then-partition column layout on discovery.
    */
  private def observedSchema(
      df: DataFrame,
      partCols: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val parts = partCols.filter(df.columns.contains)
    StructType(
      df.schema.fields.filterNot(f => parts.contains(f.name)) ++
        parts.map(df.schema(_)))
  }

  /** Append-mode partitioned write (reference insert path:
    * venus/db/write.py:78-79 `executemany INSERT`).
    *
    * Do not mix with [[appendIdempotent]] on the SAME table: the idempotent
    * path adds a `batch_id` partition column, and a table written both ways
    * has inconsistent partitioning. Streaming tables use the idempotent
    * path; this is the batch/backfill path.
    */
  def append(table: String, df: DataFrame): Unit = {
    val writer = df.write
      .mode("append")
      .options(KeyBloom)
    val partitioned =
      if (df.columns.contains("date")) writer.partitionBy("date") else writer
    partitioned.parquet(path(table))
    updateUnionSchema(df.sparkSession, table, observedSchema(df, Seq("date")))
  }

  /** Shredded append: promote selected top-level JSON payload fields into
    * real `p_<field>` string columns at write time — the `jsonb_path_ops`
    * GIN-index analog (reference: migration:37,52,73). A containment
    * conjunct on a promoted field ([[graft.query.LogsTable.jsonContains]])
    * then compiles to a plain column equality that Spark pushes into the
    * parquet scan: row-group min/max + dictionary filtering skip data on
    * disk, which is what the reference's GIN index bought it — except here
    * the "index" is the column layout itself, no side structure to
    * maintain. The raw JSON column is kept: non-promoted keys still work
    * through extraction, exactly like a query on a non-indexed jsonb path.
    */
  def appendShredded(
      table: String,
      df: DataFrame,
      promote: Seq[String],
      jsonCol: String = "data_raw"): Unit = {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val shredded = promote.foldLeft(df)((d, f) =>
      d.withColumn(s"p_$f", get_json_object(col(jsonCol), s"$$.$f")))
    append(table, shredded)
  }

  /** Idempotent per-epoch write for streaming `foreachBatch`: rows land in
    * `batch_id=<writerId>-<epoch>` partitions written with DYNAMIC partition
    * overwrite, so a retried epoch (checkpoint replay after a mid-batch
    * failure) REPLACES its own partitions instead of appending duplicates.
    * Appends from other epochs — and other writers — are untouched: the
    * observable result is exactly-once into the file sink (reference's
    * retained-batch retry is at-least-once: venus/db/write.py:80-84).
    *
    * `writerId` scopes the epoch namespace per streaming query. Epoch ids
    * are only unique WITHIN one query's checkpoint, so two queries feeding
    * the same table (e.g. the logs and metric streams both dead-lettering)
    * would otherwise overwrite each other's same-numbered epochs.
    * Contract (same as any Spark file sink): a writerId is bound to its
    * checkpoint — resetting the checkpoint restarts epochs at 0, so pair a
    * fresh checkpoint with a fresh writerId or store path.
    */
  def appendIdempotent(table: String, df: DataFrame, writerId: String, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.lit
    val parts =
      if (df.columns.contains("date")) Seq("date", "batch_id") else Seq("batch_id")
    val withBatch = df.withColumn("batch_id", lit(s"$writerId-$batchId"))
    withBatch
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .options(KeyBloom)
      .partitionBy(parts: _*)
      .parquet(path(table))
    updateUnionSchema(df.sparkSession, table,
      observedSchema(withBatch, Seq("date", "batch_id")))
  }

  /** Full-history read with SCHEMA UNION across epochs — the alembic-
    * migration analog (reference versions its DDL:
    * alembic/versions/37716151a213_initialise_database.py): a payload
    * field promoted to a real column mid-corpus ([[appendShredded]])
    * means old epochs lack the column; the union schema makes old rows
    * read NULL there, exactly like a nullable ADD COLUMN.
    *
    * The union comes from the `_union_schema.json` sidecar each append
    * maintains — one tiny file read at planning, independent of epoch
    * count. Pre-sidecar stores (no sidecar file) fall back to a
    * mergeSchema footer scan, which re-derives the same union at one
    * footer read per file.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    recordedSchema(spark, table) match {
      case Some(schema) => spark.read.schema(schema).parquet(path(table))
      case None => spark.read.option("mergeSchema", "true").parquet(path(table))
    }

  /** Per-date file census: (date, n_files, bytes). The observability feed
    * for compaction policy — a date whose file count grows while its bytes
    * don't is accumulating per-epoch small files.
    */
  def fileStats(spark: SparkSession, table: String): Seq[(String, Int, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map { d =>
        val it = fs.listFiles(d.getPath, true)
        var n = 0
        var bytes = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
        }
        (d.getPath.getName.stripPrefix("date="), n, bytes)
      }
      .sortBy(_._1)
  }

  /** Small-file compaction: rewrite a date partition's accumulation of
    * per-epoch files (one `batch_id=` dir per micro-batch from
    * [[appendIdempotent]]) into ceil(bytes / targetFileBytes) right-sized
    * files. Returns (files_before, files_after, rows).
    *
    * The rewritten rows land under a single `batch_id=compacted-<date>`
    * partition so the directory depth stays uniform with uncompacted dates
    * (mixed-depth layouts break Spark's partition discovery). Crash-safety
    * order: the compacted copy is fully written and row-count-verified in a
    * temp dir BEFORE the original is deleted, so a crash can strand a temp
    * dir or lose the partition's availability — never its data.
    *
    * Contract: only compact dates the streaming writer has moved past
    * (event-time watermark behind = closed dates). A checkpoint replay of
    * an epoch whose files were compacted away would re-create its
    * `batch_id` partition alongside the compacted rows — the same
    * append-vs-rewrite race every file-format store has; table formats
    * with ACID commit (the production choice at 100 TB) close it, a raw
    * parquet layout closes it operationally, by compacting cold dates only.
    */
  def compact(
      spark: SparkSession,
      table: String,
      date: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int, Long) = {
    val srcPath = new org.apache.hadoop.fs.Path(s"${path(table)}/date=$date")
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(srcPath), s"no partition date=$date under $table")
    var nBefore = 0
    var bytes = 0L
    val it = fs.listFiles(srcPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { nBefore += 1; bytes += f.getLen }
    }
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // mergeSchema: a date can hold epochs written before AND after a
    // column promotion; compacting with the first file's schema alone
    // would silently drop the promoted column from newer rows
    val rows = spark.read.option("mergeSchema", "true").parquet(srcPath.toString)
    val data = if (rows.columns.contains("batch_id")) rows.drop("batch_id") else rows
    val expected = data.count()
    val tmp = new org.apache.hadoop.fs.Path(
      s"${path(table)}.compact-tmp/date=$date/batch_id=compacted-$date")
    data.repartition(nFiles).write.mode("overwrite")
      .options(KeyBloom)
      .parquet(tmp.toString)
    val written = spark.read.parquet(tmp.toString).count()
    require(written == expected, s"compaction row mismatch: $written != $expected")
    fs.delete(srcPath, true)
    fs.mkdirs(srcPath)
    // explicit destination leaf (rename-into-existing-dir semantics differ
    // across FileSystem implementations)
    val dst = new org.apache.hadoop.fs.Path(srcPath, tmp.getName)
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    fs.delete(tmp.getParent.getParent, true) // the .compact-tmp scaffold
    (nBefore, nFiles, expected)
  }
}
