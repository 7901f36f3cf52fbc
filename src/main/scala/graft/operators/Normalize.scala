package graft.operators

import graft.operators.BoundedCells.r4
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group-wise feature normalization — the per-domain scaling pass a
  * training pipeline runs before mixing heterogeneous sources (a "value"
  * from one event family is not commensurable with another's).
  *
  * Scale shape: one group aggregation (decimal-exact S1/S2 moments — the
  * q46 discipline, so results are independent of aggregation order), then
  * the tiny per-group stats table joins back (broadcast under AQE) and the
  * z-score is a map-side scalar. Nothing shuffles the fact table except
  * the one stats agg.
  */
object Normalize {

  /** z-score of `valueCol` within each `groupCol`: (x - mean) / stddev_samp,
    * null when the group has fewer than 2 rows or zero variance. Moments
    * are exact decimal sums; the per-row arithmetic is the same double
    * expression on any engine, so results are reproducible bit-for-bit.
    */
  def zscoreByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val d = col(valueCol).cast(DecimalType(18, 2))
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"),
        sum(d).cast("double").as("_s1"),
        sum(d * d).cast("double").as("_s2"))
    val varNum = col("_n") * col("_s2") - col("_s1") * col("_s1")
    val std = sqrt(varNum / (col("_n") * (col("_n") - lit(1))))
    df.join(stats, groupCol)
      .withColumn("z",
        when(col("_n") < 2 || varNum <= 0, lit(null).cast("double"))
          .otherwise((col(valueCol) - col("_s1") / col("_n")) / std))
      .drop("_n", "_s1", "_s2")
  }

  /** Robust per-group outlier report: median + MAD (median absolute
    * deviation) of `valueCol` within each `groupCol`, and the count of
    * rows with |x - median| > `cut` * MAD. The heavy-tail-safe
    * alternative to [[zscoreByGroup]] — a single extreme value drags a
    * mean/stddev fence toward itself but moves neither median.
    *
    * Medians are EXACT interpolated percentiles (the q34-proven
    * `percentile` arithmetic, which DuckDB's `quantile_cont` reproduces
    * bit-for-bit), computed by [[GlobalRank.groupedPercentileTable]] —
    * range-bucketed distributed order statistics, so no aggregation
    * state ever holds a whole group (the grouped twin of the r10 q116
    * flag: "grouped by lang/event_type" bounds the group COUNT, not the
    * group SIZE) — median first, then, after the tiny med table
    * broadcasts back, the median of absolute deviations. Both fences and
    * counts come from unrounded values (rounding is display-only).
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      cut: Double = 3.0): DataFrame = {
    val med = GlobalRank.groupedPercentileTable(
      df, groupCol, valueCol, Seq(0.5), Seq("_med"))
    val withMed = df.join(broadcast(med), groupCol)
      .withColumn("_dev", abs(col(valueCol).cast("double") - col("_med")))
    val mad = GlobalRank.groupedPercentileTable(
      withMed, groupCol, "_dev", Seq(0.5), Seq("_mad"))
    withMed.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(
        round(first(col("_med")), 4).as("med"),
        round(first(col("_mad")), 4).as("mad"),
        sum(when(col("_dev") > lit(cut) * col("_mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n_rows"))
  }

  /** Cross-group quantile normalization (the microarray-era batch-effect
    * correction, Bolstad 2003, applied to corpus curation): map each
    * group's score distribution onto the GLOBAL score distribution by
    * rank, so one quality threshold means the same thing for every source
    * — a verbose source's inflated raw scores and a terse source's
    * deflated ones land on a common scale before a single corpus-wide
    * cut.
    *
    * Semantics: within each group, a value's quantile q = r/(n_g−1) (ties
    * broken by id; singleton groups sit at q = 0.5); the normalized value
    * is the global distribution's interpolated quantile at q, computed by
    * the EXPLICIT rank-interpolation formula (g_lo + (g_hi − g_lo)·frac)
    * on both engines rather than a quantile aggregate, so every double op
    * is mirrored. Monotone within each group by construction.
    *
    * Shape: per-group rank windows run in parallel across groups; the
    * global rank is a DISTRIBUTED range-partitioned sort — `_x` range
    * buckets rank locally in parallel and shift by their bucket's
    * cumulative offset, so no single-partition WindowExec exists anywhere
    * in the plan. The offsets table is one row per shuffle partition (a
    * bounded driver step like [[Graphs.pageRank]]'s N), and the persist
    * pins the sampled range boundaries so the count pass and the rank pass
    * see identical buckets. For a cheaper approximate global table at
    * extreme scale, [[quantileNormalizeSketched]] swaps the exact rank
    * table for a merged KLL summary with the same interpolation formula.
    */
  def quantileNormalize(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol), col(valueCol).cast("double").as("_x"))
      .persist()
    val n = v.count()
    require(n > 0, "nothing to normalize")
    val srk = v
      .withColumn("_r", (row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("_x"), col(idCol))) - 1).cast("long"))
      .withColumn("_ns", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    // exact global rank, distributed (the shared [[GlobalRank]] machinery:
    // range buckets rank locally, bounded cumulative offsets shift them)
    val g = GlobalRank.withGlobalIndex(v, "_x", idCol, "_gi")
      .select(col("_x").as("_gx"), col("_gi"))
    val q = when(col("_ns") === 1, lit(0.5))
      .otherwise(col("_r").cast("double") / (col("_ns") - 1).cast("double"))
    val pos = q * lit((n - 1).toDouble)
    val withPos = srk.select(col(idCol), col(groupCol), col("_x"),
      pos.as("_pos"), floor(pos).cast("long").as("_li"))
    withPos
      .join(g.withColumnRenamed("_gx", "_lo").withColumnRenamed("_gi", "_li"), "_li")
      .join(g.select(col("_gx").as("_hi"),
        col("_gi").as("_hi_i")), col("_hi_i") === least(col("_li") + 1, lit(n - 1)))
      .select(col(idCol), col(groupCol), col("_x").as(valueCol),
        round(col("_lo") + (col("_hi") - col("_lo")) *
          (col("_pos") - col("_li").cast("double")), 4).as("normalized"))
  }

  /** [[quantileNormalize]]'s 100 TB twin: the global rank table its
    * scaladoc promises — "a merged t-digest/KLL lookup table broadcast to
    * the groups" — made real with [[graft.functions.KllSketch]]. The exact
    * version's one global total-order sort (its self-documented scale
    * bottleneck) is replaced by ONE mergeable-sketch aggregate: each
    * partition ships a bounded KLL summary, the merged one-row sketch is
    * broadcast, and every row reads its interpolation endpoints
    * g[floor(pos)] / g[floor(pos)+1] out of the summary with a codegen'd
    * in-array fold ([[graft.functions.KllSketch.kllValueAtRank]]) — no
    * join against a rank table, no sort anywhere outside the per-group
    * windows (which parallelize across groups and are the SAME in both
    * versions).
    *
    * Semantics are identical to [[quantileNormalize]] except that the
    * global order statistics come from the sketch, so each endpoint sits
    * within ±eps·n ranks of the true one (eps ~ 2.3/k one-level KLL
    * bound; NormalizeSketchSpec pins the realized rank error and the
    * sketch-vs-exact agreement on real data, and n — total weight — is
    * always EXACT, so q and pos are bit-identical to the exact version).
    */
  def quantileNormalizeSketched(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      idCol: String = "doc_id",
      k: Int = 400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.KllSketch
    val v = df.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol), col(valueCol).cast("double").as("_x"))
    val sk = v.agg(KllSketch.kll_sketch(col("_x"), k).as("_sk"))
    val srk = v
      .withColumn("_r", (row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("_x"), col(idCol))) - 1).cast("long"))
      .withColumn("_ns", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .crossJoin(broadcast(sk))
    val n = col("_sk").getField("n")
    val q = when(col("_ns") === 1, lit(0.5))
      .otherwise(col("_r").cast("double") / (col("_ns") - 1).cast("double"))
    val pos = q * (n - 1).cast("double")
    val li = floor(pos).cast("long")
    // 1-based cumulative-weight targets for the two endpoints
    val lo = KllSketch.kllValueAtRank(col("_sk").getField("items"), li + 1)
    val hi = KllSketch.kllValueAtRank(col("_sk").getField("items"),
      least(li + 1, n - 1) + 1)
    srk.select(col(idCol), col(groupCol), col("_x").as(valueCol),
      round(lo + (hi - lo) * (pos - li.cast("double")), 4).as("normalized"))
  }

  /** Per-group winsorization: clip `valueCol` into the group's exact
    * interpolated [lo, hi] percentile band — the outlier treatment that
    * keeps every row (unlike a fence FILTER) while bounding the leverage
    * any single extreme value has on downstream moments; the standard
    * pre-normalization step for heavy-tailed reward/score columns.
    *
    * Shape: the per-group [lo, hi] cuts come from
    * [[GlobalRank.groupedPercentileTable]] (range-bucketed distributed
    * order statistics — bit-identical to the grouped `percentile`
    * aggregate it replaces, without that aggregate's whole-group
    * buffer), broadcast back, and the clip is a map-side
    * least/greatest — the fact table never shuffles at all. Display
    * rounding is floor-form: interpolated percentiles of
    * 2-decimal inputs are rational and can land exactly on x.xxxx5
    * boundaries (the r9 soak lesson), where round() diverges across
    * engines and the identical floor(x·10⁴+0.5) chain cannot.
    */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      lo: Double = 0.05,
      hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val x = col(valueCol).cast("double")
    val cuts = GlobalRank.groupedPercentileTable(
      df, groupCol, valueCol, Seq(lo, hi), Seq("_lo", "_hi"))
    df.join(broadcast(cuts), groupCol)
      .select(col(groupCol), col(idCol), x.as(valueCol),
        r4(least(greatest(x, col("_lo")), col("_hi"))).as("clipped"),
        (x < col("_lo") || x > col("_hi")).as("was_clipped"))
  }

  /** Cohen's kappa (Cohen 1960) between two label columns — chance-
    * corrected agreement, the standard "are these two labelings actually
    * consistent?" statistic for annotator pairs, model-vs-gold audits, or
    * (q136) geometry-predicted vs assigned labels. One grounding row:
    * (n, po, pe, kappa), kappa = (po − pe)/(1 − pe), conventionally 1
    * when pe = 1 (degenerate single-class case).
    *
    * Shape: ONE shuffle builds the contingency table on compact
    * (a, b) label keys — bounded by classes², not rows; everything after
    * is a driver fold over the collected cells (the weightedKappa /
    * bounded-driver discipline — the previous form persisted the tiny
    * frame and ran FOUR more bounded jobs over it: stats agg, two margin
    * aggs + join, and a broadcast cross join, fixed per-job cost that
    * dwarfed the data). Integer count sums are exact in any order; the
    * two divisions and the HALF_UP display rounding replicate the
    * expression chain bit-for-bit (Spark's round(x, 4) = BigDecimal
    * HALF_UP on the canonical double, which is scala BigDecimal(x)).
    */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val spark = df.sparkSession
    val cells = df.groupBy(col(colA).as("_a"), col(colB).as("_b"))
      .agg(count(lit(1)).as("c"))
      .collect()
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out: org.apache.spark.sql.Row =
      if (cells.isEmpty)
        org.apache.spark.sql.Row(null, null, null, null)
      else {
        val n = cells.map(_.getLong(2)).sum
        // _a === _b is SQL null-rejecting: null-labeled cells never agree
        val agree = cells.collect {
          case r if !r.isNullAt(0) && !r.isNullAt(1) && r.get(0) == r.get(1) =>
            r.getLong(2)
        }.sum
        val ca = scala.collection.mutable.Map[Any, Long]()
        val cb = scala.collection.mutable.Map[Any, Long]()
        cells.foreach { r =>
          if (!r.isNullAt(0)) ca(r.get(0)) = ca.getOrElse(r.get(0), 0L) + r.getLong(2)
          if (!r.isNullAt(1)) cb(r.get(1)) = cb.getOrElse(r.get(1), 0L) + r.getLong(2)
        }
        // equi-join on the label: only labels present in BOTH margins
        val pesum = ca.iterator.collect {
          case (l, c1) if cb.contains(l) => c1 * cb(l)
        }.sum
        val nd = n.toDouble
        val po = agree.toDouble / nd
        val pev = pesum.toDouble / (nd * nd)
        val kappa: Any =
          if (1.0 - pev == 0) 1.0 else r4((po - pev) / (1.0 - pev))
        org.apache.spark.sql.Row(n, r4(po), r4(pev), kappa)
      }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(out), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = true),
        StructField("po", DoubleType, nullable = true),
        StructField("pe", DoubleType, nullable = true),
        StructField("kappa", DoubleType, nullable = true))))
  }

  /** Quadratically weighted kappa (Cohen 1968, Fleiss–Cohen weights
    * w_ab = (a−b)² — the ORDINAL form of [[cohenKappa]]: on banded
    * raters, confusing band 0 with band 2 should cost more than
    * confusing adjacent bands, which unweighted kappa cannot express;
    * quadratic weights make kappa_w interpretable as an ICC analog and
    * it is the standard inter-rater metric for ordinal scales). Labels
    * must be integer-ordinal. One row: (n, k_a, k_b, kappa_w_bp) with
    * κ_w = 1 − Σ O_ab·w_ab / Σ E_ab·w_ab, E_ab = r_a·c_b/n.
    *
    * Exactness: clearing E's 1/n leaves κ_w = 1 − n·ΣO_ab w_ab / Σ
    * r_a c_b w_ab — ONE division of two exact DECIMAL(38,0) integers.
    * The margin cross Σ_a Σ_b r_a c_b (a−b)² rewrites as the cell-pair
    * double sum Σ_{e1,e2} c_{e1} c_{e2} (a_{e1} − b_{e2})², a nested
    * in-row fold over ONE sorted collected cell list (classes² cells —
    * bounded by label arity, not rows). All-diagonal-degenerate margins
    * (weighted E mass 0) report NULL (unanimity carries no chance
    * correction, the cochranQ convention).
    *
    * Scale shape: ONE (a, b) contingency hash agg with map-side
    * partials is the only exchange; the rest is a one-row fold.
    */
  def weightedKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ct = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("long").as("_a"), col(colB).cast("long").as("_b"))
      .agg(count(lit(1)).as("c"))
    val one = ct.agg(
      sort_array(collect_list(struct(col("_a"), col("_b"), col("c"))))
        .as("cs"),
      sum(col("c")).as("n"),
      sum(col("c").cast(dec) *
        ((col("_a") - col("_b")) * (col("_a") - col("_b"))).cast(dec))
        .as("onum"),
      countDistinct(col("_a")).as("k_a"),
      countDistinct(col("_b")).as("k_b"))
    def aE(e: Column) = e.getField("_a")
    def bE(e: Column) = e.getField("_b")
    def cE(e: Column) = e.getField("c").cast(dec)
    val esum = aggregate(col("cs"), lit(0).cast(dec), (acc, e1) =>
      (acc + cE(e1) * aggregate(col("cs"), lit(0).cast(dec), (a2, e2) =>
        (a2 + cE(e2) *
          ((aE(e1) - bE(e2)) * (aE(e1) - bE(e2))).cast(dec)).cast(dec)))
        .cast(dec))
    val kw = lit(1.0) -
      col("n").cast("double") * col("onum").cast("double") /
        col("_esum").cast("double")
    one.withColumn("_esum", esum)
      .select(col("n"), col("k_a"), col("k_b"),
        when(col("_esum") > 0,
          floor(kw * 10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("kappa_w_bp"))
  }
}
