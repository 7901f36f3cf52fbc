package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed query API over a `logs`-shaped DataFrame — the reference's
  * delegated-to-Postgres query surface (reference: README.rst:82-107,
  * doc/json_tricks.rst), internalized as native Spark operators.
  *
  * All operators are lazy `DataFrame => DataFrame` compositions of codegen'd
  * built-ins; Catalyst handles predicate pushdown / partition pruning, which
  * stand in for the reference's btree / GIN / hypertable indexes
  * (reference: migration:35-43).
  *
  * @param df a DataFrame with at least
  *   `time TIMESTAMP, message STRING, correlation_id STRING, data_raw STRING`
  */
final case class LogsTable(df: DataFrame) {

  /** Canonical point lookup ("typically one would specify a correlation id",
    * reference: README.rst:73-74; doc/json_tricks.rst:28). At scale pair with
    * storage bucketed/sorted on `correlation_id` + parquet bloom filters for
    * index-parity row-group skipping. The store writes a filter only for a
    * chunk that is not fully dictionary-encoded (the dictionary filter
    * prunes the rest) and sizes it to each file's distinct ids
    * ([[graft.store.LogStore]]).
    *
    * The id is lower-cased with Spark's `lower`, the function ingest
    * applies to stored ids, so the match does not depend on the JVM's
    * default locale; the folded literal still pushes into the scan.
    */
  def byCorrelationId(id: String): LogsTable =
    LogsTable(df.filter(col("correlation_id") === lower(lit(id))))

  /** Time-range constraint -> partition pruning on the derived `date`
    * column when present (the hypertable chunk-exclusion equivalent,
    * reference: migration:39-43).
    */
  def inTimeRange(from: java.sql.Timestamp, to: java.sql.Timestamp): LogsTable = {
    val ranged = df.filter(col("time") >= lit(from) && col("time") < lit(to))
    val pruned =
      if (df.columns.contains("date"))
        ranged.filter(
          col("date") >= to_date(lit(from)) && col("date") <= to_date(lit(to)))
      else ranged
    LogsTable(pruned)
  }

  /** `data->>'path'` / `data#>>'{path}'` — extract one JSON payload field as
    * text (reference: README.rst:88-89; doc/json_tricks.rst:89-92).
    * `path` is dot-separated for nested access (`b.msg` ≙ `data->'b'->>'msg'`,
    * reference: tests/conftest.py:170-174).
    */
  def jsonField(path: String): Column =
    get_json_object(col("data_raw"), "$." + path)

  /** Parse `data_raw` into a native VariantType `data` column — Spark 4's
    * binary-encoded semi-structured type (SURVEY §1.2 primary JSON
    * representation). Parse once, then every `variantField` access reads the
    * binary encoding instead of re-parsing JSON text; Parquet stores Variant
    * natively (shredding-ready), the long-term analog of the reference's
    * jsonb_path_ops GIN indexes (reference: migration:37).
    */
  def withVariantPayload(): LogsTable =
    LogsTable(df.withColumn("data", parse_json(col("data_raw"))))

  /** `data->>'path'` over the Variant column (requires
    * [[withVariantPayload]]). `targetType` ascribes the result type;
    * mismatches yield NULL (`try_variant_get`), matching `jsonb_to_record`
    * NULL semantics (reference: doc/json_tricks.rst:97-99).
    */
  def variantField(path: String, targetType: String = "string"): Column =
    try_variant_get(col("data"), "$." + path, targetType)

  /** `jsonb_to_record(data) AS x(col type, ...)` — decompose the payload into
    * typed columns via an ascribed schema (reference: README.rst:90-100;
    * doc/json_tricks.rst:18-26). Missing or type-mismatched fields yield
    * NULL, matching the documented semantics
    * (reference: doc/json_tricks.rst:97-99).
    */
  def decompose(ascribed: StructType): DataFrame = {
    val envelope = df.columns.filter(_ != "data_raw").map(col)
    df.withColumn("_rec", from_json(col("data_raw"), ascribed))
      .select(envelope :+ col("_rec.*"): _*)
  }

  /** `jsonb_object_keys` + DISTINCT — discover the payload key universe under
    * the current constraint (reference: doc/json_tricks.rst:52-95). Runs as a
    * distributed explode+distinct aggregation over the constrained subset —
    * never driver-side schema inference — so it holds at 100 TB provided the
    * constraint prunes.
    */
  def discoverKeys(): Seq[String] =
    df.select(explode(json_object_keys(col("data_raw"))).as("key"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq

  /** Key discovery + wide projection in one shot: the doc's two-step strategy
    * (`doc/json_tricks.rst:77-95`) — distinct keys, then
    * `data->>'k' AS k` per key; rows missing a key yield NULL.
    */
  def dynamicWiden(): DataFrame = {
    val keys = discoverKeys()
    val envelope = df.columns.filter(_ != "data_raw").map(col)
    df.select(envelope ++ keys.map(k => jsonField(k).as(k)): _*)
  }

  /** JSONB containment `data @> '{"k": v, ...}'` — the query the reference's
    * three `jsonb_path_ops` GIN indexes exist to serve
    * (reference: migration:37,52,73): does the payload contain every given
    * top-level key/value pair? Expressed as a conjunction of extraction
    * equalities (SURVEY §2.3). Each conjunct automatically uses the
    * PROMOTED `p_<k>` column when the table was written with
    * [[graft.store.LogStore.appendShredded]] — a plain string equality
    * Spark pushes into the parquet scan (`PushedFilters`, row-group
    * min/max + dictionary skipping: the GIN-index analog, proven by
    * ShredSpec) — and falls back to a codegen'd `get_json_object`
    * extraction for non-promoted keys, exactly like a query on a
    * non-indexed jsonb path. Values are matched by their `->>`-style
    * text form.
    */
  def jsonContains(pairs: Map[String, String]): Column =
    pairs.map { case (k, v) =>
      if (df.columns.contains(s"p_$k")) col(s"p_$k") === lit(v)
      else jsonField(k) === lit(v)
    }.reduce(_ && _)

  /** `message ILIKE ANY(ARRAY[...])` — case-insensitive multi-pattern
    * substring search (reference: tests/conftest.py:169-174; trigram GIN
    * migration:36). Patterns are SQL LIKE patterns (`%x%`). Index-free:
    * prune first (time/correlation), then scan.
    */
  def searchMessage(patterns: Seq[String]): LogsTable =
    LogsTable(df.filter(ilikeAny(col("message"), patterns)))

  /** ILIKE-ANY over an arbitrary column (e.g. a nested JSON field). */
  def ilikeAny(c: Column, patterns: Seq[String]): Column =
    patterns.map(p => lower(c).like(p.toLowerCase(java.util.Locale.ROOT))).reduce(_ || _)

  /** `ORDER BY time DESC LIMIT n` — recent events top-k
    * (reference: README.rst:102-103). Catalyst plans this as
    * TakeOrderedAndProject: per-partition heaps, no global sort.
    */
  def recent(n: Int): DataFrame =
    df.orderBy(col("time").desc).limit(n)

  /** Enrichment equi-join with the `context` table
    * (reference: migration:45-52 — PK `correlation_id` mirrored by the btree
    * on `logs.correlation_id`). Context is small-per-key: broadcast.
    */
  def withContext(context: DataFrame): DataFrame =
    df.join(
      broadcast(context.withColumnRenamed("data_raw", "context_data_raw")),
      Seq("correlation_id"), "left")

  /** Span/interval association: `span ⋈ logs ON correlation_id AND time
    * BETWEEN time_start AND time_end` (reference: migration:54-64). Planned
    * as an equi-join on `correlation_id` with the range as a post-join
    * filter — no cross product at scale.
    */
  def withSpans(span: DataFrame): DataFrame =
    df.join(
      span,
      df("correlation_id") === span("correlation_id") &&
        df("time").between(span("time_start"), span("time_end")))
      .drop(span("correlation_id"))

  /** `time_bucket`-style aggregation for dashboards
    * (reference: doc/metabase-instructions.rst:18-22; `metric` hypertable
    * migration:66-78): tumbling-window count + aggregates over a payload
    * field. Map-side partial aggregation makes this shuffle-light.
    */
  def timeBucket(bucket: String, valuePath: Option[String] = None): DataFrame = {
    val grouped = df.groupBy(date_trunc(bucket, col("time")).as("bucket"))
    valuePath match {
      case Some(p) =>
        val v = jsonField(p).cast("double")
        df.groupBy(date_trunc(bucket, col("time")).as("bucket"))
          .agg(count(lit(1)).as("n"), avg(v).as("avg_value"), sum(v).as("sum_value"))
      case None => grouped.agg(count(lit(1)).as("n"))
    }
  }
}
