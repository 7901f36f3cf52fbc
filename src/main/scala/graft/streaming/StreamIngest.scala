package graft.streaming

import graft.ingest.{IngestTransform, MetricIngest}
import graft.model.IngestConfig
import graft.store.LogStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest: the reference's ZMQ -> parse -> extract ->
  * micro-batch -> batched-insert dataflow (reference: venus/main.py:22-49,
  * venus/db/write.py:19-84), re-expressed as one streaming query.
  *
  * Semantics mapping:
  *  - micro-batcher flush-by-size-or-age (reference: write.py:24-28,58-59)
  *    -> the SOURCE's size-or-age flush gate (PushSocketSource
  *    `flushSize`/`flushAgeMs`) feeding an as-available trigger, so under
  *    load batches fire on size back-to-back; per-trigger size caps for
  *    other sources are source options (`maxFilesPerTrigger` /
  *    `maxOffsetsPerTrigger`).
  *  - at-least-once retained-batch retry (reference: write.py:80-84)
  *    -> checkpointed + IDEMPOTENT epoch writes: each batch lands in its own
  *    `batch_id=<epoch>` partitions via dynamic partition overwrite
  *    ([[LogStore.appendIdempotent]]), so a replayed epoch overwrites itself
  *    instead of re-appending — observably exactly-once into the file sink
  *    (strictly stronger than the reference).
  *  - one `json.loads` per record, then pops (reference: write.py:34-52)
  *    -> one read per record per epoch: the batch's [[IngestTransform.parse]]
  *    (the codegen'd `parse_wire` kernel) is persisted, and the table rows
  *    and the dead letters (reference: write.py:34-36) are both projections
  *    of it; the raw line is kept only on dead rows.
  *  - graceful-shutdown final flush (reference: write.py:60-62)
  *    -> `StreamingQuery.stop()` completes the in-flight batch.
  *
  * Transport note: the reference's ZMQ PULL edge is transport, not
  * semantics (reference: venus/io/__init__.py:78-108); any streaming source
  * with a string `value` column plugs in (file, socket, Kafka, MemoryStream
  * in tests).
  */
object StreamIngest {

  /** Wire a raw streaming DataFrame (string column `value`) into the store.
    *
    * @param raw        streaming DataFrame of raw JSON wire records
    * @param store      destination store (logs + dead_letter tables)
    * @param checkpoint checkpoint location (exactly-once bookkeeping)
    */
  def start(
      raw: DataFrame,
      store: LogStore,
      checkpoint: String,
      config: IngestConfig = IngestConfig(),
      availableNow: Boolean = false,
      sourceFlushGated: Boolean = false): StreamingQuery =
    start(raw, store, checkpoint, ConfigSource.Static(config), availableNow,
      sourceFlushGated = sourceFlushGated)

  /** [[start]] with live config refresh: `configSource.current()` is
    * resolved at the top of EVERY micro-batch, so a changed ignore-list
    * applies from the next batch onward (the reference's Consul hot-reload
    * analog — see [[ConfigSource]] for what hot-applies vs what is pinned
    * at query start).
    */
  def start(
      raw: DataFrame,
      store: LogStore,
      checkpoint: String,
      configSource: ConfigSource,
      availableNow: Boolean,
      sourceFlushGated: Boolean): StreamingQuery =
    startIngest(raw, store, checkpoint, configSource,
      writerId = "logs", table = "logs",
      parse = (df, cfg) => IngestTransform.parse(df, cfg), rows = IngestTransform.logs,
      availableNow = availableNow, sourceFlushGated = sourceFlushGated)

  /** Streaming ingest for the `metric` table (reference's second hypertable,
    * migration:66-78) — same trigger/checkpoint/idempotence contract as
    * [[start]], leaner envelope ([[MetricIngest]]).
    */
  def startMetric(
      raw: DataFrame,
      store: LogStore,
      checkpoint: String,
      config: IngestConfig = IngestConfig(),
      availableNow: Boolean = false,
      sourceFlushGated: Boolean = false): StreamingQuery =
    startIngest(raw, store, checkpoint, ConfigSource.Static(config),
      writerId = "metric", table = "metric",
      parse = (df, _) => MetricIngest.parse(df), rows = MetricIngest.rows,
      availableNow = availableNow, sourceFlushGated = sourceFlushGated)

  /** Shared batch lifecycle for every ingest stream: one persist of the
    * micro-batch's parse (`parse`) feeding both the table write (`rows`)
    * and the dead-letter side output, both idempotent under the stream's
    * own writer id — if the main write succeeds and the dead-letter write
    * fails, the replayed epoch rewrites BOTH of its partition sets in
    * place, no duplicates. The writer id also keeps concurrent streams
    * (logs + metric) from overwriting each other's same-numbered epochs in
    * the shared `dead_letter` table.
    */
  private def startIngest(
      raw: DataFrame,
      store: LogStore,
      checkpoint: String,
      configSource: ConfigSource,
      writerId: String,
      table: String,
      parse: (DataFrame, IngestConfig) => DataFrame,
      rows: DataFrame => DataFrame,
      availableNow: Boolean = false,
      sourceFlushGated: Boolean = false): StreamingQuery = {
    // AvailableNow = the catch-up/backfill mode: drain everything currently
    // in the source in rate-capped batches, then stop — same checkpoint, so
    // a nightly catch-up run and the live stream share one epoch lineage.
    // Live mode triggers AS DATA BECOMES AVAILABLE (interval 0): the
    // size-or-age micro-batcher lives in the SOURCE (PushSocketSource's
    // flushSize/flushAgeMs gate, the reference's write.py:24-28,58-59 dual
    // condition), so under load batches fire back-to-back on size instead
    // of idling out a wall-clock cadence — a fixed ProcessingTime(age)
    // trigger implements only the age half and caps throughput at
    // burst/age. Only a source that carries its own flush gate
    // (PushSocketSource) should OPT IN with sourceFlushGated = true; the
    // default is false so that files/Kafka/memory sources keep the
    // wall-clock age cadence — an as-available trigger would poll/list
    // such a source every ~10 ms (directory listings at corpus scale are
    // not free) for no batching benefit, which is exactly the busy-poll a
    // caller-remembered true default silently caused (r10 advice).
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else if (sourceFlushGated) Trigger.ProcessingTime(0L)
      else Trigger.ProcessingTime(
        s"${configSource.current().maxBatchAgeSeconds} seconds")
    raw.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // live-refresh point: the freshest config applies to THIS batch
        // (reference: settings.py:44-69 Consul hot-reload)
        val config = configSource.current()
        // the first write fills the cache: each line is parsed once
        val parsed = parse(batch, config).persist()
        try {
          store.appendIdempotent(table, rows(parsed), writerId, batchId)
          val dead = IngestTransform.dead(parsed)
          if (!dead.isEmpty) store.appendIdempotent("dead_letter", dead, writerId, batchId)
        } finally parsed.unpersist()
        ()
      }
      .start()
  }
}
