package graft.operators

import graft.operators.BoundedCells.{CellSpine, r4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling and constraint validation — the Deequ-style
  * (Schelter et al., VLDB 2018) "unit tests for data" gate a training-data
  * pipeline runs before accepting a crawl drop: column profiles first to
  * SEE the data, then declarative constraints that turn expectations into
  * a pass/fail report.
  *
  * Scale shape: both entry points are ONE aggregation pass over the input.
  * `profile`/`check` fold every metric into a single wide `agg` row —
  * Spark plans the exact `count(distinct)`s via a shared Expand (rows ×
  * distinct-columns before the partial agg, the textbook multi-distinct
  * plan), everything else is a map-side conditional partial — then pivot
  * the one driver row into the per-column/per-constraint report with a
  * literal-array explode (no second scan, no join). At 100 TB the wide
  * row is still one row; the only distributed cost is the scan plus one
  * exchange of partials per Expand group.
  */
object Quality {

  /** One profile row per column: row count, nulls, exact distincts,
    * completeness ratio (rounded 4, the engine-parity rounding), min/max
    * rendered as strings AFTER native-type aggregation (numeric min, not
    * lexicographic).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"),
        max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val entries = array(cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"_nn_$c").as("nn"),
        col(s"_nd_$c").as("nd"),
        col(s"_mn_$c").as("mn"),
        col(s"_mx_$c").as("mx"))
    }: _*)
    wide
      .select(col("_n").as("n"), explode(entries).as("e"))
      .select(
        col("e.col_name").as("col_name"),
        col("n"),
        (col("n") - col("e.nn")).as("n_null"),
        col("e.nd").as("n_distinct"),
        round(col("e.nn").cast("double") / col("n"), 4).as("completeness"),
        col("e.mn").as("min_str"),
        col("e.mx").as("max_str"))
  }

  /** A declarative expectation over one column. `name` is the stable
    * report key (also what the oracle groups on).
    */
  sealed trait Constraint {
    def column: String
    def name: String
    /** violation count as an aggregate over the full table */
    private[graft] def violations: Column
  }

  /** no NULLs allowed */
  final case class NotNull(column: String) extends Constraint {
    val name = s"not_null($column)"
    private[graft] def violations =
      coalesce(sum(when(col(column).isNull, 1L)), lit(0L))
  }

  /** values must be unique (violations = surplus duplicate rows among
    * non-null values: count − count distinct)
    */
  final case class Unique(column: String) extends Constraint {
    val name = s"unique($column)"
    private[graft] def violations = count(col(column)) - countDistinct(col(column))
  }

  /** non-null values must fall in [lo, hi] */
  final case class InRange(column: String, lo: Double, hi: Double) extends Constraint {
    val name = s"in_range($column)"
    private[graft] def violations =
      coalesce(sum(when(col(column).isNotNull &&
        (col(column) < lo || col(column) > hi), 1L)), lit(0L))
  }

  /** non-null values must be one of `values` */
  final case class InSet(column: String, values: Seq[String]) extends Constraint {
    val name = s"in_set($column)"
    private[graft] def violations =
      coalesce(sum(when(col(column).isNotNull &&
        !col(column).isin(values: _*), 1L)), lit(0L))
  }

  /** non-null values must match `regex` (keep patterns in the common
    * Java-regex/RE2 subset so the oracle agrees)
    */
  final case class MatchesRegex(column: String, regex: String) extends Constraint {
    val name = s"matches_regex($column)"
    private[graft] def violations =
      coalesce(sum(when(col(column).isNotNull && !col(column).rlike(regex), 1L)), lit(0L))
  }

  /** Run every constraint in ONE aggregation pass; report
    * (constraint, passed, violations, checked) per constraint.
    */
  def check(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "check at least one constraint")
    val aggs: Seq[Column] = constraints.zipWithIndex.map { case (c, i) =>
      c.violations.as(s"_v$i")
    }
    val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val entries = array(constraints.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("constraint"), col(s"_v$i").as("v"))
    }: _*)
    wide
      .select(col("_n").as("n"), explode(entries).as("e"))
      .select(
        col("e.constraint").as("constraint"),
        (col("e.v") === 0L).as("passed"),
        col("e.v").as("violations"),
        col("n").as("checked"))
  }

  // ---------------------------------------------------------- benford

  /** Benford's-law first-digit audit (Newcomb 1881 / Benford 1938; Nigrini
    * popularized it for fraud and data-quality screening): naturally
    * occurring multiplicative quantities put digit d first with
    * probability log10(1 + 1/d) — synthetic, truncated, or fabricated
    * value columns deviate loudly. One row per digit 1–9 with observed vs
    * expected share and the absolute deviation.
    *
    * The first significant digit is extracted from the value's STRING
    * rendering (first [1-9] char) — deliberately not the log10/pow
    * arithmetic, whose floor sits within an ulp of flipping for values
    * near powers of ten and would make the digit engine-dependent; every
    * engine renders the same double with the same leading significant
    * digits. One hash agg over the digit column (9 keys — collapses
    * map-side), a 9-row spine so absent digits report 0, one broadcast
    * total.
    */
  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(col(valueCol).cast("string"), "[1-9]", 0)
    val counts = df
      .filter(col(valueCol).isNotNull && digit =!= "")
      .select(digit.cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("_t"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val expected = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    val observed = coalesce(col("n"), lit(0L)) / col("_t")
    spine
      .join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(observed, 4).as("observed"),
        round(expected, 4).as("expected"),
        round(abs(observed - expected), 4).as("abs_dev"))
  }

  // -------------------------------------------------- proportion interval

  /** Wilson score interval (Wilson 1927 — the proportion CI that behaves
    * at small n and extreme rates, unlike the naive Wald interval; what a
    * per-source "pass rate 83% ± ?" report should actually quote): for
    * each group, the rate of rows satisfying `pass` with the 95% bounds
    * (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n), z = 1.96.
    *
    * One hash agg (map-side conditional partials); the interval is a
    * fixed-order scalar chain over integer-derived p̂, so it replays
    * exactly. Bounds are clipped to [0, 1] and rounded to 4.
    */
  def wilsonInterval(
      df: DataFrame, groupCol: String, pass: Column,
      z: Double = 1.96): DataFrame = {
    val agg0 = df
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(pass.cast("long")).as("n_pass"))
    val n = col("n").cast("double")
    val p = col("n_pass").cast("double") / col("n")
    val z2 = lit(z * z)
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    val denom = lit(1.0) + z2 / n
    agg0.select(col("grp"), col("n"), col("n_pass"),
      round(p, 4).as("rate"),
      round(greatest(lit(0.0), (center - spread) / denom), 4).as("ci_low"),
      round(least(lit(1.0), (center + spread) / denom), 4).as("ci_high"))
  }

  // ------------------------------------------------------ concentration

  /** Gini concentration coefficient (Gini 1912, via the rank formula
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending values) — the
    * inequality one-number for "is activity/volume concentrated in a few
    * keys?": 0 = perfectly even, →1 = one key holds everything. Run it
    * over events-per-user (whale detection) or tokens-per-doc
    * (doc-length concentration).
    *
    * Scale shape: the input values are COUNTS, so the value HISTOGRAM is
    * bounded by the max count, not by keys — the per-key frame reduces
    * to (value, multiplicity) rows map-side, then stays DISTRIBUTED: the
    * cumulative mass below each value comes from
    * [[GlobalRank.weightedPrefixSums]] (range-partitioned running sums,
    * never a whole-histogram array in one aggregation state — the r12
    * grouped-percentile discipline), each row's rank-formula block
    * v·(m·r + m(m−1)/2) is an EXACT integer summed as DECIMAL(38,0)
    * (order-free, so the distributed sum is reproducible and never loses
    * precision past 2^53 the way an ordered double fold eventually
    * would), and everything stays integer until one final division — so
    * the oracle replays exactly. No global sort of keys, no in-row
    * quadratic prefix re-scan.
    */
  def giniConcentration(df: DataFrame, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hist = df
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("m"))
    // ranks are 1-based: a value block of multiplicity m whose first
    // member sits at rank r = 1 + (mass strictly below v) contributes
    // v·(m·r + m(m−1)/2); m·(m−1) is even so the long division is exact
    GlobalRank.weightedPrefixSums(hist, "v", "m", "_below")
      .select(col("v"), col("m"),
        (col("v").cast(dec) *
          (col("m").cast(dec) * (col("_below") + 1L).cast(dec) +
            (col("m") * (col("m") - 1L) / 2L).cast(dec))).as("_blk"))
      .agg(
        coalesce(sum(col("m")), lit(0L)).as("n"),
        coalesce(sum(col("m") * col("v")), lit(0L)).as("total"),
        sum(col("_blk")).as("_num"))
      .select(col("n"), col("total"),
        round(
          lit(2.0) * col("_num").cast("double")
            / (col("n").cast("double") * col("total"))
            - (col("n") + 1).cast("double") / col("n"), 4).as("gini"))
  }

  /** Pearson chi-square test of independence (Pearson 1900) between two
    * bounded categorical columns — here the classic ops question "does
    * behavior mix depend on the day of week?". Returns one row per
    * contingency cell (observed, expected, contribution) plus the
    * chi-square total and degrees of freedom on every row.
    *
    * Shape: ONE hash agg builds the contingency table (bounded by
    * |A|·|B| cells, collapsing map-side); margins and the statistic all
    * derive from the one collected cell array by in-row folds in sorted
    * cell order — expected counts are single divisions of integer
    * masses, so everything replays.
    */
  def chiSquareIndependence(
      df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val observed = df
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    // densify to the full A x B cross: an absent cell has observed 0 but
    // positive expected count and MUST contribute (a diagonal-only table
    // would otherwise report half its true chi-square); both dimension
    // sets are bounded, so the cross is a bounded-vs-bounded product
    val cells = observed.select(col("a")).distinct()
      .crossJoin(observed.select(col("b")).distinct())
      .join(observed, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("o"), lit(0L)).as("o"))
    val one = cells
      .groupBy()
      .agg(sort_array(collect_list(struct(col("a"), col("b"), col("o")))).as("cs"))
      .select(col("cs"),
        aggregate(col("cs"), lit(0L), (acc, e) => acc + e.getField("o"))
          .cast("double").as("nn"),
        size(array_distinct(transform(col("cs"), e => e.getField("a")))).as("ka"),
        size(array_distinct(transform(col("cs"), e => e.getField("b")))).as("kb"))
    def margin(keyField: String, key: Column): Column =
      aggregate(col("cs"), lit(0L),
        (acc, e) => acc + when(e.getField(keyField) === key, e.getField("o"))
          .otherwise(lit(0L))).cast("double")
    val expected = margin("a", col("e.a")) * margin("b", col("e.b")) / col("nn")
    val contrib = (e: Column) =>
      (e - col("e.o").cast("double")) * (e - col("e.o").cast("double")) / e
    val perCell = one
      .select(col("cs"), col("nn"), col("ka"), col("kb"),
        explode(col("cs")).as("e"))
      .select(col("cs"), col("nn"), col("ka"), col("kb"),
        col("e.a").as("a"), col("e.b").as("b"), col("e.o").as("n_obs"),
        expected.as("_exp"),
        contrib(expected).as("_contrib"))
    // chi2 total: fold the contributions in sorted cell order from the
    // SAME array, so the sum's association is fixed on both engines
    val chi2 = aggregate(col("cs"), lit(0.0), (acc, e) => {
      val exKey = (aggregate(col("cs"), lit(0L),
        (a2, f) => a2 + when(f.getField("a") === e.getField("a"), f.getField("o"))
          .otherwise(lit(0L))).cast("double") *
        aggregate(col("cs"), lit(0L),
          (a2, f) => a2 + when(f.getField("b") === e.getField("b"), f.getField("o"))
            .otherwise(lit(0L))).cast("double")) / col("nn")
      acc + (exKey - e.getField("o").cast("double")) *
        (exKey - e.getField("o").cast("double")) / exKey
    })
    perCell
      .select(col("a"), col("b"), col("n_obs"),
        round(col("_exp"), 4).as("n_exp"),
        round(col("_contrib"), 4).as("contribution"),
        round(chi2, 4).as("chi2_total"),
        ((col("ka") - 1) * (col("kb") - 1)).cast("long").as("dof"))
  }

  // ------------------------------------------------ classification report

  /** Per-class precision / recall / F1 + support — the standard
    * classification report (the sklearn-style summary) over any
    * (label, prediction) frame. Missing denominators score 0.0 (a class
    * never predicted has precision 0, never labeled has recall 0).
    *
    * Shape: ONE bounded (label, predicted) contingency agg collapsing
    * map-side; class universe, margins, and diagonal derive from it as
    * classes-bounded frames; every ratio is a single division of integer
    * masses and F1 mirrors as (2·p·r)/(p+r) on unrounded p, r.
    */
  def classificationReport(
      df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val cells = df
      .groupBy(col(labelCol).as("label"), col(predCol).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val classes = cells.select(col("label").as("clazz"))
      .unionAll(cells.select(col("predicted").as("clazz")))
      .distinct()
    val tp = cells.filter(col("label") === col("predicted"))
      .select(col("label").as("clazz"), col("n").as("_tp"))
    val labelTot = cells.groupBy(col("label").as("clazz"))
      .agg(sum(col("n")).as("_support"))
    val predTot = cells.groupBy(col("predicted").as("clazz"))
      .agg(sum(col("n")).as("_npred"))
    val p = when(coalesce(col("_npred"), lit(0L)) > 0,
      coalesce(col("_tp"), lit(0L)).cast("double") / col("_npred"))
      .otherwise(lit(0.0))
    val r = when(coalesce(col("_support"), lit(0L)) > 0,
      coalesce(col("_tp"), lit(0L)).cast("double") / col("_support"))
      .otherwise(lit(0.0))
    classes
      .join(labelTot, Seq("clazz"), "left")
      .join(predTot, Seq("clazz"), "left")
      .join(tp, Seq("clazz"), "left")
      .select(col("clazz"),
        coalesce(col("_support"), lit(0L)).as("support"),
        coalesce(col("_tp"), lit(0L)).as("tp"),
        round(p, 4).as("precision"),
        round(r, 4).as("recall"),
        round(when(p + r > 0, lit(2.0) * p * r / (p + r))
          .otherwise(lit(0.0)), 4).as("f1"))
  }

  // ------------------------------------------------------------ theil

  /** Theil T inequality index with its between/within-group decomposition
    * (Theil 1967 — the property Gini famously lacks: total inequality
    * splits EXACTLY into "sources differ from each other" plus
    * "inequality inside each source", the first question a skewed corpus
    * mixture raises). T = (1/n)·Σ (x/μ)·ln(x/μ);
    * T_between = Σ_g (s_g/s)·ln(μ_g/μ); T_within = Σ_g (s_g/s)·T_g.
    * Zero values contribute 0 (the x·ln x limit).
    *
    * Same scale shape as [[giniConcentration]]: count-valued inputs
    * reduce to per-(group, value) histograms bounded by the max count.
    * The only histogram ever materialized in one row is a single GROUP's
    * (the value-ordered in-row fold that keeps the float chain
    * engine-replayable); the global totals are order-free integer
    * aggregates broadcast back as one row, and the final decomposition
    * folds over a GROUPS-bounded scalar frame — never over all groups'
    * histograms concatenated into one aggregation state (the r12
    * grouped-percentile discipline). Term-for-term the same IEEE chain
    * as folding everything in one row, because each group's inner fold
    * starts at 0.0 and the outer folds add whole-group scalars in sorted
    * group order either way. ln-based terms never sit on decimal
    * rounding boundaries, so plain round(4) replays. The decomposition
    * identity is pinned as a boolean at 1e-9.
    */
  def theilDecomposition(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val hist = df
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("m"))
    // global mass and total: order-free integer aggregates, one-row
    // broadcast (never collected inside a histogram row)
    val totals = hist.agg(
      coalesce(sum(col("m")), lit(0L)).as("n"),
      coalesce(sum(col("m") * col("v")), lit(0L)).as("s"))
    val mu = col("s").cast("double") / col("n")
    def theilOver(h: Column, m0: Column): Column =
      aggregate(h, lit(0.0), (a, e) => {
        val x = e.getField("v").cast("double")
        a + when(x > 0,
          e.getField("m") * (x / m0) * log(x / m0)).otherwise(lit(0.0))
      })
    val mug = col("sg").cast("double") / col("ng")
    val perGroup = hist
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("v"), col("m")))).as("h"),
        sum(col("m")).as("ng"),
        sum(col("m") * col("v")).as("sg"))
      .crossJoin(broadcast(totals))
      .select(col("grp"), col("n"), col("s"),
        theilOver(col("h"), mu).as("_tmu"),
        ((col("sg").cast("double") / col("s")) * log(mug / mu)).as("_tb"),
        ((col("sg").cast("double") / col("s")) *
          (theilOver(col("h"), mug) / col("ng"))).as("_tw"))
    val one = perGroup
      .groupBy(col("n"), col("s"))
      .agg(sort_array(collect_list(struct(col("grp"), col("_tmu"),
        col("_tb"), col("_tw")))).as("gs"))
    val tTotal = aggregate(col("gs"), lit(0.0),
      (a, g) => a + g.getField("_tmu")) / col("n")
    val tBetween = aggregate(col("gs"), lit(0.0),
      (a, g) => a + g.getField("_tb"))
    val tWithin = aggregate(col("gs"), lit(0.0),
      (a, g) => a + g.getField("_tw"))
    one.select(
      col("n"), col("s").as("total"),
      round(tTotal, 4).as("theil_total"),
      round(tBetween, 4).as("theil_between"),
      round(tWithin, 4).as("theil_within"),
      (abs(tTotal - (tBetween + tWithin)) < 1e-9).as("decomposition_ok"))
  }

  // ------------------------------------------------- quality classifier

  /** Logistic-regression fit by IRLS/Newton (the classical GLM fit —
    * Nelder & Wedderburn 1972; the mechanism behind the fastText-style
    * "reference vs crawl" quality classifiers of GPT-3/LLaMA data work,
    * with the n-gram bag swapped for cheap per-doc features so the whole
    * thing stays a handful of aggregate passes).
    *
    * "Fit small, apply distributed" (the centroid/BPE/NB discipline):
    * each of the `iters` Newton steps is ONE aggregation pass computing
    * the gradient Xᵀ(y−p) and Hessian XᵀWX as (d+1)(d+4)/2 map-side
    * partial sums — d is the feature count (intercept added here), so
    * the exchange carries ~d² doubles per partition regardless of rows;
    * the (d+1)×(d+1) solve is driver arithmetic. Returns the
    * coefficient vector (intercept first).
    *
    * Coefficients are float-sum dependent (partial-agg association), so
    * downstream contracts pin MLE IDENTITIES — gradient ≈ 0, Σp = Σy
    * (exact at any optimum with an intercept) — never raw coefficients.
    */
  def logisticFit(
      df: DataFrame,
      featCols: Seq[String],
      labelCol: String,
      iters: Int = 8,
      ridge: Double = 1e-8,
      managePersist: Boolean = true): Array[Double] = {
    require(featCols.nonEmpty && iters >= 1, "features and iterations")
    val d = featCols.length + 1
    def x(i: Int): Column = if (i == 0) lit(1.0) else col(featCols(i - 1))
    val y = col(labelCol).cast("double")
    val beta = Array.fill(d)(0.0)
    // managePersist=false: the caller already persists `df` and keeps
    // using it after the fit — unpersisting here would evict it mid-query
    val persisted = if (managePersist) df.persist() else df
    try {
      for (_ <- 0 until iters) {
        val eta = (0 until d).map(i => lit(beta(i)) * x(i)).reduce(_ + _)
        val p = lit(1.0) / (lit(1.0) + exp(-eta))
        val w = p * (lit(1.0) - p)
        val hAggs = for { i <- 0 until d; j <- i until d }
          yield sum(w * x(i) * x(j)).as(s"h_${i}_$j")
        val gAggs = (0 until d).map(i => sum((y - p) * x(i)).as(s"g_$i"))
        val row = persisted.agg((hAggs ++ gAggs).head, (hAggs ++ gAggs).tail: _*).head()
        val h = Array.ofDim[Double](d, d)
        var k = 0
        for (i <- 0 until d; j <- i until d) {
          h(i)(j) = row.getDouble(k); h(j)(i) = row.getDouble(k); k += 1
        }
        (0 until d).foreach(i => h(i)(i) += ridge)
        val g = (0 until d).map(i => row.getDouble(k + i)).toArray
        val delta = solve(h, g)
        (0 until d).foreach(i => beta(i) += delta(i))
      }
      beta
    } finally { if (managePersist) persisted.unpersist() }
  }

  /** Gaussian elimination with partial pivoting on a (small, driver-side)
    * symmetric positive-definite system.
    */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val (ta, tb) = (a(c), b(c)); a(c) = a(piv); a(piv) = ta
      b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (cc <- c until n) a(r)(cc) -= f * a(c)(cc)
        b(r) -= f * b(c)
      }
    }
    val out = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (cc <- r + 1 until n) s -= a(r)(cc) * out(cc)
      out(r) = s / a(r)(r)
    }
    out
  }

  /** Score rows with a fitted model: adds `scoreCol` = σ(β·x). The
    * coefficients enter as plan literals — a pure map-side codegen'd
    * projection, no join, no shuffle, streaming-safe.
    */
  def logisticScore(
      df: DataFrame,
      featCols: Seq[String],
      beta: Array[Double],
      scoreCol: String = "score"): DataFrame = {
    require(beta.length == featCols.length + 1, "intercept-first beta")
    def x(i: Int): Column = if (i == 0) lit(1.0) else col(featCols(i - 1))
    val eta = beta.indices.map(i => lit(beta(i)) * x(i)).reduce(_ + _)
    df.withColumn(scoreCol, lit(1.0) / (lit(1.0) + exp(-eta)))
  }

  /** Quality-classifier contract frame: fit "is this doc from the
    * reference slice?" on cheap text features, score the corpus, and pin
    * the MLE identities that hold REGARDLESS of how separable the data
    * is: the gradient vanishes at the optimum (converged) and, because
    * the model carries an intercept, Σ score = n_pos exactly
    * (calibrated). Row counts re-derive exactly; scores stay in (0, 1).
    */
  def qualityClassifierContract(
      docs: DataFrame,
      labelExpr: Column,
      textCol: String = "text"): DataFrame = {
    import graft.functions.TextAnalysis
    // persisted at THIS level: the text-feature extraction (tokenizer +
    // three ratio kernels) feeds all 8 Newton iterations AND the final
    // scoring/audit pass — logisticFit's internal persist used to die
    // with its finally-unpersist, so the scoring pass re-ran the string
    // work (measured ~0.5 s of q168's warm pass). Intra-query lifecycle;
    // Bench/Verify clear caches.
    val feats = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(
        labelExpr.cast("int").as("y"),
        log(lit(1.0) + TextAnalysis.tokenCount(col(textCol))).as("f_len"),
        TextAnalysis.meanWordLength(col(textCol)).as("f_mwl"),
        TextAnalysis.alphaRatio(col(textCol)).as("f_alpha"),
        TextAnalysis.stopwordRatio(col(textCol)).as("f_stop"))
      .persist()
    val featCols = Seq("f_len", "f_mwl", "f_alpha", "f_stop")
    val beta = logisticFit(feats, featCols, "y", managePersist = false)
    val scored = logisticScore(feats, featCols, beta).persist()
    val d = beta.length
    def x(i: Int): Column = if (i == 0) lit(1.0) else col(featCols(i - 1))
    val gAggs = (0 until d).map(i =>
      abs(sum((col("y").cast("double") - col("score")) * x(i))).as(s"g_$i"))
    val stats = scored.agg(
      count(lit(1)).as("n_docs"),
      sum(col("y")).cast("long").as("n_pos"),
      sum(col("score")).as("_psum"),
      min(col("score")).as("_pmin"),
      max(col("score")).as("_pmax"),
      greatest(gAggs: _*).as("_gmax"))
    stats.select(
      col("n_docs"), col("n_pos"),
      (col("_gmax") < 1e-6).as("converged"),
      (abs(col("_psum") - col("n_pos")) < 1e-3).as("calibrated"),
      (col("_pmin") > 0.0 && col("_pmax") < 1.0).as("probs_bounded"))
  }

  // --------------------------------------------------- conformal

  /** Split-conformal prediction-interval calibration (Vovk 2005; the
    * distribution-free uncertainty wrapper modern filtering pipelines put
    * around any point predictor): fit a base predictor on the full frame,
    * take the ceil((n_cal+1)(1−α))-th smallest absolute residual on a
    * held-out calibration split as the interval half-width q̂, and report
    * the EMPIRICAL coverage of ŷ ± q̂ on the remaining rows — by the
    * exchangeability theorem coverage ≥ 1−α in expectation, and the audit
    * row makes the realized value a checkable fact.
    *
    * Base predictor: OLS of `yCol` on `xCol` whose moments are EXACT
    * decimal/integer sums (the q46 discipline — slope and intercept are
    * ratios of exact sums, bit-replayable on any engine). Threshold: an
    * exact ORDER STATISTIC, not an interpolated quantile — the residual
    * at global rank k−1 = ceil((n_cal+1)(1−α))−1 under (residual, id)
    * order via [[GlobalRank.withGlobalIndexAndCount]] (range-partitioned
    * local ranks + bounded per-partition offsets). Safe BY CONSTRUCTION
    * at any calibration size: nothing k-sized is collected, heaped, or
    * buffered — the r10 flag on the previous `orderBy.limit(k)` shape,
    * whose TakeOrdered pulled k rows toward the driver behind an
    * Int.MaxValue guard far beyond what memory survives. (Conformal
    * validity still saturates around 10⁴ calibration rows — pre-sampling
    * the id space remains statistically sensible, just no longer a
    * safety requirement.) Everything else is map-side arithmetic + one
    * audit aggregate.
    *
    * Output row: (n_cal, n_eval, k, slope, intercept, q_hat, coverage) —
    * rational display values floor-form rounded.
    */
  /** k-fold cross-validation of the OLS base predictor — the fit-stability
    * audit behind any "train a filter threshold on a sample" step: for
    * each fold f, coefficients are fit on the COMPLEMENT (all rows not in
    * f) and evaluated on f (held-out RMSE). The jackknife trick makes one
    * pass suffice: complement moments = global moments − fold moments, so
    * k complement fits cost ONE grouped aggregate, not k training passes.
    *
    * Exactness chain: per-fold moments are exact decimal/integer sums;
    * complement subtraction stays decimal-exact; each fold's slope/
    * intercept is a double ratio computed once; held-out squared
    * residuals cross-row-sum as floor(r²·2^20) INTEGERS (the q203
    * quantization discipline — order-free on any engine), so the oracle
    * replays every number. Output: one row per fold
    * (fold, n_fold, slope, intercept, rmse), fold-ordered.
    *
    * Shape: one fold-keyed moment aggregate (k-bounded), one k-row
    * broadcast of coefficients back, one fold-keyed residual aggregate —
    * two passes over the frame, nothing corpus-sized shuffles.
    */
  def olsCrossVal(
      df: DataFrame,
      xCol: String,
      yCol: String,
      idCol: String = "doc_id",
      k: Int = 5): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    val Q = 1048576.0 // 2^20
    val x = col(xCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val y = col(yCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("_id"), x.as("_x"), y.as("_y"),
        pmod(col(idCol), lit(k)).as("_f"))
      .persist()
    val fm = base.groupBy(col("_f")).agg(
      count(lit(1)).as("_n"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val g = fm.agg(
      sum(col("_n")).as("_gn"),
      sum(col("_sx")).as("_gsx"), sum(col("_sy")).as("_gsy"),
      sum(col("_sxx")).as("_gsxx"), sum(col("_sxy")).as("_gsxy"))
    // complement moments (decimal-exact), then the double ratios once
    val cn = (col("_gn") - col("_n")).cast("double")
    val csx = (col("_gsx") - col("_sx")).cast("double")
    val csy = (col("_gsy") - col("_sy")).cast("double")
    val csxx = (col("_gsxx") - col("_sxx")).cast("double")
    val csxy = (col("_gsxy") - col("_sxy")).cast("double")
    val b = (cn * csxy - csx * csy) / (cn * csxx - csx * csx)
    val coef = fm.crossJoin(broadcast(g))
      .select(col("_f"), col("_n").as("n_fold"), b.as("_b"),
        (csy / cn - b * (csx / cn)).as("_a"))
    base.join(broadcast(coef), "_f")
      .select(col("_f"), col("n_fold"), col("_a"), col("_b"),
        (col("_y").cast("double") -
          (col("_a") + col("_b") * col("_x").cast("double"))).as("_r"))
      .groupBy(col("_f"), col("n_fold"), col("_a"), col("_b"))
      .agg(sum(floor(col("_r") * col("_r") * lit(Q)).cast("long")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("_q2"))
      .select(col("_f").as("fold"), col("n_fold"),
        r4(col("_b")).as("slope"), r4(col("_a")).as("intercept"),
        round(sqrt(col("_q2").cast("double") / lit(Q) /
          col("n_fold").cast("double")), 4).as("rmse"))
  }

  def conformalInterval(
      df: DataFrame,
      xCol: String,
      yCol: String,
      idCol: String = "doc_id",
      alpha: Double = 0.1,
      calMod: Int = 5): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(calMod >= 2, "calMod >= 2 so both splits are non-empty")
    val x = col(xCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val y = col(yCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("_id"), x.as("_x"), y.as("_y"))
      .persist()
    // exact decimal moments (order-free), ratios in double ONCE at the end
    // (the q46 discipline — decimal x decimal of the wide sums would
    // overflow 38 digits, so the exact sums cast to double first and the
    // identical IEEE chain replays on both engines)
    val fit = base.agg(
      count(lit(1)).cast("double").as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"))
      .select(col("_n"), col("_sx"), col("_sy"),
        ((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx"))).as("_b"))
      .select(col("_b"),
        (col("_sy") / col("_n") - col("_b") * (col("_sx") / col("_n"))).as("_a"))
    val scored = base.crossJoin(broadcast(fit))
      .select(col("_id"),
        abs(col("_y").cast("double") -
          (col("_a") + col("_b") * col("_x").cast("double"))).as("_r"),
        (pmod(col("_id"), lit(calMod)) === 0).as("_cal"),
        col("_a"), col("_b"))
    val cal = scored.filter(col("_cal"))
    // the k-th smallest calibration residual as a DISTRIBUTED order
    // statistic: global rank under (_r, _id), filter to index k-1 — the
    // ranked row's _r is exactly max(_r) over the ordered first k, so the
    // value is bit-identical to the previous orderBy.limit(k) shape, but
    // nothing k-sized is collected or heaped at any calibration size
    // (n_cal falls out of the rank pass's offset collection for free)
    val (rankedCal, nCal) = GlobalRank.withGlobalIndexAndCount(
      cal.select(col("_r"), col("_id")), "_r", "_id", "_cx")
    val k = math.ceil((nCal + 1) * (1 - alpha)).toLong.min(nCal)
    val qhat = rankedCal.filter(col("_cx") === k - 1)
      .agg(max(col("_r")).as("_q"))
    scored.filter(!col("_cal"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("_r") <= col("_q"), 1L).otherwise(0L)).as("_cov"),
        first(col("_a")).as("_fa"), first(col("_b")).as("_fb"),
        first(col("_q")).as("_fq"))
      .select(lit(nCal).as("n_cal"), col("n_eval"), lit(k).as("k"),
        r4(col("_fb")).as("slope"), r4(col("_fa")).as("intercept"),
        r4(col("_fq")).as("q_hat"),
        r4(col("_cov").cast("double") / col("n_eval")).as("coverage"))
  }

  /** Calibration audit of a [0,1]-valued scorer against a binary outcome
    * over `bins` equal-width score bins — the reliability-diagram table
    * behind expected calibration error (Naeini et al. AAAI 2015; Guo et
    * al. ICML 2017). Per bin: population, positives, mean score, realized
    * positive rate, and their gap. A calibrated scorer has mean-score ≈
    * positive-rate in every bin; [[graft.operators.Ranking.scoreAuc]]'s
    * discrimination says nothing about that (Guo et al.'s point — modern
    * scorers separate well and calibrate badly), so the audit shelf needs
    * both numbers.
    *
    * The score enters as an integer RATIONAL (num/den, clamped to [0,1])
    * so every derived quantity is engine-exact: the bin draw is an exact
    * integral division num·B div den (clamped to B−1 at num=den), the
    * mean score sums per-row fixed-point quantizations num·2^20 div den
    * (the q203 fixed-point discipline — never a cross-row double sum),
    * and the per-row Brier term (p−y)² quantizes the same way from the
    * exact rational (num−y·den)²·2^20 div den². All products run in
    * DECIMAL(38,0) (no long overflow at any input), all quotients are
    * ≤ 2^20 longs. Displays are BIGINT basis points beside their raw
    * integer masses (the q200 card discipline) — the report is
    * integer-typed end to end.
    *
    * Scale shape: one map-side projection, one hash aggregate keyed by
    * bin — B-bounded output, map-side partials, no window, no collect.
    */
  def calibrationReport(
      df: DataFrame,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000, "2 <= bins <= 10000")
    val rows = df
      .filter(scoreNum.isNotNull && scoreDen.isNotNull && label.isNotNull &&
        scoreDen.cast("long") > 0L)
      .select(
        greatest(lit(0L), least(scoreNum.cast("long"), scoreDen.cast("long")))
          .as("_num"),
        scoreDen.cast("long").as("_den"),
        label.cast("boolean").as("_y"))
    val binned = rows.selectExpr(
      s"least(CAST(${bins - 1} AS BIGINT), " +
        s"CAST(_num AS DECIMAL(38,0)) * $bins div CAST(_den AS DECIMAL(38,0))) AS bin",
      "CAST(_num AS DECIMAL(38,0)) * 1048576 div CAST(_den AS DECIMAL(38,0)) AS _sq20",
      "(CAST(_num AS DECIMAL(38,0)) - CASE WHEN _y THEN CAST(_den AS DECIMAL(38,0)) ELSE 0 END) " +
        "* (CAST(_num AS DECIMAL(38,0)) - CASE WHEN _y THEN CAST(_den AS DECIMAL(38,0)) ELSE 0 END) " +
        "* 1048576 div (CAST(_den AS DECIMAL(38,0)) * CAST(_den AS DECIMAL(38,0))) AS _bq20",
      "CASE WHEN _y THEN 1 ELSE 0 END AS _pos")
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val meanScore = col("score_q20_sum").cast("double") /
      (col("n").cast("double") * 1048576.0)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("_pos")).as("n_pos"),
        // decimal accumulators: a per-row term is ≤ 2^20, so a long sum
        // only overflows past ~8.8e12 rows per bin — but under ANSI that
        // is a query-killing throw, not a wrap, so don't build it in
        sum(col("_sq20").cast(dec)).cast("long").as("score_q20_sum"),
        sum(col("_bq20").cast(dec)).cast("long").as("brier_q20_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
        col("score_q20_sum"), col("brier_q20_sum"),
        bp(meanScore).as("mean_score_bp"),
        bp(col("n_pos").cast("double") / col("n")).as("pos_rate_bp"),
        abs(bp(meanScore) -
          bp(col("n_pos").cast("double") / col("n"))).as("gap_bp"))
  }

  /** Hosmer–Lemeshow goodness-of-fit test (Hosmer & Lemeshow 1980 — the
    * calibration TEST beside [[calibrationSummary]]'s magnitudes: ECE
    * says how big the gaps are, HL says whether they exceed chance,
    * HL = Σ_b (O_b − E_b)²/(E_b(1 − E_b/n_b)) on χ²_{B−2}). One row:
    * (n, bins_used, df_hl, hl_bp, p_bp).
    *
    * E_b is the bin's expected-positive mass from the SAME 2²⁰
    * fixed-point score quantization the calibration report ships (both
    * engines replay the identical integral divisions, so the statistic
    * is defined on the quantized scores — the KS-monitor bin-parity
    * convention). Bins with degenerate expectation (E ≤ 0 or E ≥ n —
    * e.g. an all-zero-score bin) drop from the sum with df following;
    * the closed-form p (even-dof chi-square survival, the jarqueBera
    * precedent) is emitted only when EVERY present bin contributes and
    * `bins` − 2 is even — otherwise the statistic ships without p (the
    * kruskalWallis convention).
    *
    * Scale shape: one map-side projection, one B-bounded hash agg, one
    * single-row fold.
    */
  def hosmerLemeshow(
      df: DataFrame,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 4 && bins <= 10000, "4 <= bins <= 10000")
    val rows = df
      .filter(scoreNum.isNotNull && scoreDen.isNotNull && label.isNotNull &&
        scoreDen.cast("long") > 0L)
      .select(
        greatest(lit(0L), least(scoreNum.cast("long"), scoreDen.cast("long")))
          .as("_num"),
        scoreDen.cast("long").as("_den"),
        label.cast("boolean").as("_y"))
    val binned = rows.selectExpr(
      s"least(CAST(${bins - 1} AS BIGINT), " +
        s"CAST(_num AS DECIMAL(38,0)) * $bins div CAST(_den AS DECIMAL(38,0))) AS bin",
      "CAST(_num AS DECIMAL(38,0)) * 1048576 div CAST(_den AS DECIMAL(38,0)) AS _sq20",
      "CASE WHEN _y THEN 1 ELSE 0 END AS _pos")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perBin = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("_n"), sum(col("_pos")).as("_p"),
        sum(col("_sq20").cast(dec)).cast("long").as("_s"))
    val one = perBin.agg(
      sort_array(collect_list(struct(col("bin"), col("_n"), col("_p"),
        col("_s")))).as("bs"),
      coalesce(sum(col("_n")), lit(0L)).as("n"),
      count(lit(1)).as("bins_used"))
    def nE(e: Column) = e.getField("_n").cast("double")
    def pE(e: Column) = e.getField("_p").cast("double")
    def eE(e: Column) = e.getField("_s").cast("double") / 1048576.0
    def contrib(e: Column) = eE(e) > 0 && eE(e) < nE(e)
    val cc = aggregate(col("bs"), lit(0L), (a, e) =>
      a + when(contrib(e), 1L).otherwise(0L))
    val hl = aggregate(col("bs"), lit(0.0), (a, e) =>
      a + when(contrib(e),
        (pE(e) - eE(e)) * (pE(e) - eE(e)) /
          (eE(e) * (lit(1.0) - eE(e) / nE(e)))).otherwise(lit(0.0)))
    val h = hl / 2
    // closed-form even-dof chi-square survival, unrolled for bins − 2
    val dof = bins - 2
    val pSum =
      if (dof % 2 == 0 && dof >= 2)
        (0 until dof / 2).map { j =>
          val fact = (1 to j).product.toDouble
          (0 until j).foldLeft(lit(1.0 / fact): Column)((c, _) => c * h)
        }.reduce(_ + _)
      else lit(Double.NaN)
    val p = exp(-h) * pSum
    val okHl = col("_cc") > 2
    val okP = okHl && col("_cc") === col("bins_used") &&
      col("bins_used") === bins && dof % 2 == 0
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    one.withColumn("_cc", cc).select(col("n"), col("bins_used"),
      when(okHl, col("_cc") - 2).otherwise(lit(null).cast("long"))
        .as("df_hl"),
      when(okHl, bp(hl)).otherwise(lit(null).cast("long")).as("hl_bp"),
      when(okP, bp(p)).otherwise(lit(null).cast("long")).as("p_bp"))
  }

  /** Per-group calibration — multicalibration-lite (Hébert-Johnson et
    * al. ICML 2018): a scorer calibrated ON AVERAGE can be badly
    * miscalibrated within every subpopulation, so the audit that matters
    * for a per-language/per-source filter is [[calibrationSummary]]
    * computed per group. One row per group: masses, ECE, and mean Brier,
    * all integer-typed under exactly the discipline of the global report
    * (DECIMAL integral divisions, 2^20 fixed-point masses, BIGINT basis
    * points).
    *
    * Scale shape: one map-side projection, one hash aggregate keyed by
    * (group, bin) — output groups × B, map-side partials — then the
    * per-group ECE folds over each group's ≤B-row sorted bin array
    * (B-bounded per-group state, nothing value-sized collected).
    */
  def calibrationByGroup(
      df: DataFrame,
      groupCol: String,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000, "2 <= bins <= 10000")
    val rows = df
      .filter(col(groupCol).isNotNull && scoreNum.isNotNull &&
        scoreDen.isNotNull && label.isNotNull && scoreDen.cast("long") > 0L)
      .select(col(groupCol).as("_grp"),
        greatest(lit(0L), least(scoreNum.cast("long"), scoreDen.cast("long")))
          .as("_num"),
        scoreDen.cast("long").as("_den"),
        label.cast("boolean").as("_y"))
    val binned = rows.selectExpr("_grp",
      s"least(CAST(${bins - 1} AS BIGINT), " +
        s"CAST(_num AS DECIMAL(38,0)) * $bins div CAST(_den AS DECIMAL(38,0))) AS bin",
      "CAST(_num AS DECIMAL(38,0)) * 1048576 div CAST(_den AS DECIMAL(38,0)) AS _sq20",
      "(CAST(_num AS DECIMAL(38,0)) - CASE WHEN _y THEN CAST(_den AS DECIMAL(38,0)) ELSE 0 END) " +
        "* (CAST(_num AS DECIMAL(38,0)) - CASE WHEN _y THEN CAST(_den AS DECIMAL(38,0)) ELSE 0 END) " +
        "* 1048576 div (CAST(_den AS DECIMAL(38,0)) * CAST(_den AS DECIMAL(38,0))) AS _bq20",
      "CASE WHEN _y THEN 1 ELSE 0 END AS _pos")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    binned
      .groupBy(col("_grp"), col("bin"))
      .agg(count(lit(1)).as("bn"),
        sum(col("_pos")).as("bpos"),
        sum(col("_sq20").cast(dec)).cast("long").as("bs"),
        sum(col("_bq20").cast(dec)).as("bb"))
      .groupBy(col("_grp").as("group_key"))
      .agg(
        sort_array(collect_list(struct(
          col("bin"), col("bn"), col("bpos"), col("bs")))).as("gs"),
        sum(col("bn")).as("n"),
        sum(col("bpos")).as("n_pos"),
        sum(col("bb")).as("_b"))
      .select(col("group_key"), col("n"), col("n_pos"),
        bp(aggregate(col("gs"), lit(0.0), (a, e) => {
          val nb = e.getField("bn").cast("double")
          a + nb / col("n").cast("double") *
            abs(e.getField("bs").cast("double") / (nb * 1048576.0) -
              e.getField("bpos").cast("double") / nb)
        })).as("ece_bp"),
        bp(col("_b").cast("double") /
          (col("n").cast("double") * 1048576.0)).as("brier_bp"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic, EXACT (Kolmogorov 1933;
    * Smirnov 1939): D = sup_x |F_a(x) − F_b(x)| — the binless
    * distribution-shift test that complements the binned PSI pair
    * (X218/X223): PSI asks "how much mass moved between my bins?", KS
    * asks "how far apart are the CDFs anywhere?". Reported with the
    * asymptotic two-sided p-value 2·exp(−2λ²), λ = D·√(n_a·n_b/(n_a+n_b))
    * (the standard large-sample approximation; exact at the 4-digit
    * display for the corpus sizes this runs at).
    *
    * Exactness: at every distinct value, |F_a − F_b| =
    * |cum_a·n_b − cum_b·n_a| / (n_a·n_b) — the NUMERATOR is an exact
    * integer, so the supremum is an integer max (DECIMAL(38,0) products;
    * no float CDF accumulates error across a long value axis) and
    * division happens once at the end. Cumulative masses come from TWO
    * [[GlobalRank.weightedPrefixSums]] passes over the distinct-value
    * table (range-partitioned running sums — never a whole-axis window
    * or a collected histogram).
    *
    * Scale shape: one union + one value-keyed hash agg (the only
    * corpus-wide exchange carries distinct values), two bounded
    * prefix-sum passes over the value table, one single-row max.
    */
  def ksTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    ksTestCore(sided(a, 0).unionAll(sided(b, 1)))
  }

  /** [[ksTest]] over a SINGLE frame whose rows already carry their side
    * (0 = a, 1 = b) in `sideCol` — for the common "both samples are
    * slices of one table" case (q217/q220's even/odd event-id split),
    * where the two-DataFrame form makes Spark scan the table once per
    * side. Delegates to the same core as [[ksTest]], so the two forms
    * are value-identical by construction (counts are exact longs; the
    * D numerator is an exact DECIMAL integer max).
    */
  def ksTestSided(
      df: DataFrame,
      valueCol: String,
      sideCol: String): DataFrame =
    ksTestCore(df
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"),
        col(sideCol).cast("int").as("_s")))

  /** Shared two-sample spine: collapse `(_v, _s)` rows to the per-value
    * side-count histogram and compute BOTH cumulative prefix masses in
    * ONE fused [[GlobalRank.weightedPrefixSumsMulti]] pass. Returns the
    * spine frame (columns `_v, _ca, _cb, _xa, _xb`) plus the exact side
    * totals (n_a, n_b) read off the same offsets collect — so callers
    * never re-aggregate the corpus-width subtree for a totals row.
    * Values are bit-identical to the old chained form (long prefix sums
    * are order-free exact integers; totals are the same long sums).
    */
  private def twoSampleSpine(sidedRows: DataFrame): (DataFrame, Long, Long) = {
    val perValue = sidedRows
      .groupBy(col("_v"))
      .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_cb"))
    val (cums, tots) = GlobalRank.weightedPrefixSumsMulti(perValue, "_v",
      Seq("_ca" -> "_xa", "_cb" -> "_xb"))
    (cums, tots(0), tots(1))
  }

  /** One-row (\_na, \_nb) totals frame from [[twoSampleSpine]]'s driver
    * longs — the broadcast-free replacement for the old
    * `perValue.agg(sum(_ca), sum(_cb))` second corpus pass.
    */
  private def totalsRow(spark: org.apache.spark.sql.SparkSession,
      na: Long, nb: Long): DataFrame =
    spark.range(1).select(lit(na).as("_na"), lit(nb).as("_nb"))

  private def ksTestCore(sidedRows: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (spine, tna, tnb) = twoSampleSpine(sidedRows)
    val cums = spine
      .select(
        (col("_xa") + col("_ca")).as("_cuma"),
        (col("_xb") + col("_cb")).as("_cumb"))
    val totals = totalsRow(sidedRows.sparkSession, tna, tnb)
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val d = col("_dnum").cast("double") / (na * nb)
    val lambda = sqrt(na * nb / (na + nb)) * d
    cums
      .crossJoin(broadcast(totals))
      .agg(
        first(col("_na")).as("_na"),
        first(col("_nb")).as("_nb"),
        max(abs(col("_cuma").cast(dec) * col("_nb").cast(dec) -
          col("_cumb").cast(dec) * col("_na").cast(dec))).as("_dnum"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        r4(d).as("ks_d"),
        // the asymptotic form exceeds 1 at tiny lambda — clamp like every
        // textbook implementation does
        r4(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * lambda * lambda)))
          .as("p_value"))
  }

  /** Two-sample Kuiper test (Kuiper 1960): V = D⁺ + D⁻, the sum of the
    * two ONE-SIDED CDF excursions — the rotation-invariant companion to
    * [[ksTest]]'s sup-norm D = max(D⁺, D⁻). KS is most sensitive to a
    * shift near the median and loses power in the tails; V weights both
    * excursions equally, so a distribution that gains mass in one tail
    * while losing it in the other (net median unmoved — a truncation
    * swap KS discounts) still registers. One row:
    * (n_a, n_b, d_plus_bp, d_minus_bp, v_bp) — statistic without p (the
    * Kuiper null is an infinite series with no closed form — the
    * kruskalWallis stat-without-p precedent; V reads against the same
    * √(n_a·n_b/(n_a+n_b)) scaling as D).
    *
    * Exactness: at every distinct value the SIGNED gap numerator
    * cum_a·n_b − cum_b·n_a is an exact DECIMAL(38,0) integer, so both
    * one-sided suprema are integer maxes (clamped at 0: an excursion
    * that never goes positive contributes nothing) and division happens
    * once per display. Same plan as ksTest: one union + one value-keyed
    * hash agg, one bounded prefix-sum pass, one single-row max
    * aggregate.
    */
  def kuiperTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (spine, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val cums = spine
      .select(
        (col("_xa") + col("_ca")).as("_cuma"),
        (col("_xb") + col("_cb")).as("_cumb"))
    val totals = totalsRow(a.sparkSession, tna, tnb)
    val gap = col("_cuma").cast(dec) * col("_nb").cast(dec) -
      col("_cumb").cast(dec) * col("_na").cast(dec)
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    // null displays when a side is empty: n_a·n_b = 0 would drive the
    // division to ±Inf and the ANSI long cast would throw
    def bp(num: Column) = when(col("_na") > 0 && col("_nb") > 0,
      floor(num.cast("double") / (na * nb) * 10000 + lit(0.5)).cast("long"))
      .otherwise(lit(null).cast("long"))
    cums
      .crossJoin(broadcast(totals))
      .agg(
        first(col("_na")).as("_na"),
        first(col("_nb")).as("_nb"),
        greatest(max(gap), lit(0).cast(dec)).as("_dplus"),
        greatest(max(-gap), lit(0).cast(dec)).as("_dminus"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        bp(col("_dplus")).as("d_plus_bp"),
        bp(col("_dminus")).as("d_minus_bp"),
        bp(col("_dplus") + col("_dminus")).as("v_bp"))
  }

  /** Two-sample Watson U² (Watson 1962) — the ROTATION-INVARIANT L2
    * companion completing the circular pair with [[kuiperTest]]: Kuiper
    * is the sup-norm form (D⁺ + D⁻), Watson the integrated form — the
    * CvM statistic computed about the MEAN CDF gap instead of zero, so
    * a constant phase offset (the tail-to-tail mass shift both circular
    * statistics exist for) doesn't dominate the integral. One row:
    * (n_a, n_b, u2_bp).
    *
    * Exactness: with the signed integer gap numerator
    * A_v = cum_a·n_b − cum_b·n_a per distinct value, the whole
    * statistic clears to TWO exact DECIMAL(38,0) moments
    * W1 = Σc·A and W2 = Σc·A², via U² = (n·W2 − W1²)/(n³·n_a·n_b) —
    * one spelled chain, no per-value float at all (tighter than even
    * the CvM grain sum: the centering is algebraic). Scale shape: the
    * ksTest plan.
    */
  def watsonU2(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val totals = totalsRow(a.sparkSession, tna, tnb)
    val gap = (col("_xa") + col("_ca")).cast(dec) * col("_nb").cast(dec) -
      (col("_xb") + col("_cb")).cast(dec) * col("_na").cast(dec)
    val cv = (col("_ca") + col("_cb")).cast(dec)
    val one = cums
      .crossJoin(broadcast(totals))
      .agg(
        first(col("_na")).as("_na"),
        first(col("_nb")).as("_nb"),
        coalesce(sum(cv * gap), lit(0).cast(dec)).as("_w1"),
        coalesce(sum(cv * gap * gap), lit(0).cast(dec)).as("_w2"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    val u2 = (nd * col("_w2").cast("double") -
      col("_w1").cast("double") * col("_w1").cast("double")) /
      (nd * nd * nd * na * nb)
    one.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      when(col("_na") > 0 && col("_nb") > 0,
        floor(u2 * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("u2_bp"))
  }

  /** Fused two-sample drift card — the ENTIRE two-sample shelf in ONE
    * corpus pass: KS (sup-norm) + Kuiper (both one-sided excursions) +
    * Watson U² (rotation-invariant L2) + Cramér–von Mises (plain L2) +
    * Mann–Whitney (location, with AUC) + Brunner–Munzel (location under
    * unequal spreads) + Cucconi and Lepage (location-scale unions) +
    * Ansari–Bradley (spread). The separated queries each re-scan and
    * re-aggregate the same per-value histogram; at 100 TB the scan IS
    * the cost, so a drift review that wants the whole battery should
    * pay it once — the q249 fused-card discipline applied to the
    * two-sample axis. One row, 18 columns of bp displays.
    *
    * Every leg's display chain is spelled EXACTLY as its standalone
    * operator spells it (TwoSampleCardSpec cross-pins column-for-column
    * equality against the standalone queries; CvM is the one deliberate
    * exception — the card uses the exact-moment algebra
    * T = W2/(n²·n_a·n_b) where the standalone predates it and sums
    * floor(term·2³⁰) grains, so those two agree only to the display
    * grain, pinned within 1 bp). All moments are exact DECIMAL(38,0)
    * sums over the shared doubled-midrank/gap spine.
    *
    * Scale shape: ONE union + ONE per-value hash agg (the only
    * corpus-width exchange), two bounded prefix-sum passes, one
    * broadcast totals row, ONE single-row 14-moment aggregate.
    */
  def twoSampleCard(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val totals = a.sparkSession.range(1)
      .select(lit(tna).as("_tna"), lit(tnb).as("_tnb"))
    val rows = cums.crossJoin(broadcast(totals))
    val m2 = lit(2L) * (col("_xa") + col("_xb")) + col("_ca") + col("_cb") +
      lit(1L)
    val s2ab = least(m2,
      lit(2L) * (col("_tna") + col("_tnb") + 1) - m2)
    val gap = (col("_xa") + col("_ca")).cast(dec) * col("_tnb").cast(dec) -
      (col("_xb") + col("_cb")).cast(dec) * col("_tna").cast(dec)
    val cvD = (col("_ca") + col("_cb")).cast(dec)
    val caD = col("_ca").cast(dec)
    val cbD = col("_cb").cast(dec)
    val m2D = m2.cast(dec)
    val dAD = (lit(2L) * col("_xb") + col("_cb")).cast(dec)
    val dBD = (lit(2L) * col("_xa") + col("_ca")).cast(dec)
    val s2D = s2ab.cast(dec)
    def dsum(c: Column) = coalesce(sum(c), lit(0).cast(dec))
    val one = rows.agg(
      first(col("_tna")).as("_na"),
      first(col("_tnb")).as("_nb"),
      coalesce(max(abs(gap)), lit(0).cast(dec)).as("_dnum"),
      greatest(max(gap), lit(0).cast(dec)).as("_dplus"),
      greatest(max(-gap), lit(0).cast(dec)).as("_dminus"),
      dsum(cvD * gap).as("_w1"),
      dsum(cvD * gap * gap).as("_w2"),
      dsum(caD * m2D).as("_ra2"),
      dsum(cbD * m2D).as("_rb2"),
      dsum(cbD * m2D * m2D).as("_rbm4"),
      dsum(cvD * cvD * cvD - cvD).as("_t3"),
      dsum(caD * dAD).as("_sa1"),
      dsum(caD * dAD * dAD).as("_sa2"),
      dsum(cbD * dBD).as("_sb1"),
      dsum(cbD * dBD * dBD).as("_sb2"),
      dsum(caD * s2D).as("_t2a"),
      dsum(cvD * s2D).as("_sc1"),
      dsum(cvD * s2D * s2D).as("_sc2"))
    // ---- display chains, each spelled as its standalone operator ----
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    val bothPos = col("_na") > 0 && col("_nb") > 0
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, e: Column) =
      when(cond, bp(e)).otherwise(lit(null).cast("long"))
    // KS (ksTest's chain)
    val ksD = col("_dnum").cast("double") / (na * nb)
    val lambda = sqrt(na * nb / (na + nb)) * ksD
    val ksP = least(lit(1.0), lit(2.0) * exp(lit(-2.0) * lambda * lambda))
    // Kuiper (kuiperTest's chain)
    def kbp(num: Column) = guard(bothPos,
      num.cast("double") / (na * nb))
    // Watson (watsonU2's chain)
    val wu2 = (nd * col("_w2").cast("double") -
      col("_w1").cast("double") * col("_w1").cast("double")) /
      (nd * nd * nd * na * nb)
    // CvM, exact-moment algebra (documented deviation from q238's grains)
    val cvmT = col("_w2").cast("double") / (nd * nd * na * nb)
    // MWU (mannWhitneyU's chain)
    val u2d = (col("_ra2") - col("_na").cast(dec) *
      (col("_na").cast(dec) + lit(1))).cast("double")
    val ud = u2d / 2
    val sigma2 = na * nb / 12 *
      ((nd + 1) - col("_t3").cast("double") / (nd * (nd - 1)))
    val mwuZ = (ud - na * nb / 2) / sqrt(sigma2)
    // BM (brunnerMunzel's chain)
    val ka = col("_ra2").cast("double") / na - (na + lit(1.0))
    val kb = col("_rb2").cast("double") / nb - (nb + lit(1.0))
    val va = (col("_sa2").cast("double") - lit(2.0) * ka * col("_sa1").cast("double") +
      na * ka * ka) / lit(4.0) / (na - lit(1.0))
    val vb = (col("_sb2").cast("double") - lit(2.0) * kb * col("_sb1").cast("double") +
      nb * kb * kb) / lit(4.0) / (nb - lit(1.0))
    val pooled = na * va + nb * vb
    val bmW = na * nb * (col("_rb2").cast("double") / (lit(2.0) * nb) -
      col("_ra2").cast("double") / (lit(2.0) * na)) /
      (na + nb) / sqrt(pooled)
    val bmDf = pooled * pooled /
      ((na * va) * (na * va) / (na - lit(1.0)) +
        (nb * vb) * (nb * vb) / (nb - lit(1.0)))
    val bmPHat = (col("_rb2").cast("double") / nb - nb - lit(1.0)) /
      (lit(2.0) * na)
    // Cucconi (cucconiTest's chain; _rb2/_rbm4 are its r2/r4)
    val np1 = nd + lit(1.0)
    val sr2 = col("_rbm4").cast("double") / lit(4.0)
    val sq2 = (lit(4.0) * np1 * np1 * nb - lit(4.0) * np1 *
      col("_rb2").cast("double") + col("_rbm4").cast("double")) / lit(4.0)
    val cDen = sqrt(na * nb * np1 * (lit(2.0) * nd + 1) *
      (lit(8.0) * nd + 11) / lit(5.0))
    val cU = (lit(6.0) * sr2 - nb * np1 * (lit(2.0) * nd + 1)) / cDen
    val cV = (lit(6.0) * sq2 - nb * np1 * (lit(2.0) * nd + 1)) / cDen
    val rho = lit(2.0) * (nd * nd - 4) /
      ((lit(2.0) * nd + 1) * (lit(8.0) * nd + 11)) - lit(1.0)
    val cStat = (cU * cU + cV * cV - lit(2.0) * rho * cU * cV) /
      (lit(2.0) * (lit(1.0) - rho * rho))
    // AB + Lepage (their chains)
    val e2 = na * col("_sc1").cast("double") / nd
    val varT = na * nb *
      (nd * col("_sc2").cast("double") -
        col("_sc1").cast("double") * col("_sc1").cast("double")) /
      (nd * nd * (nd - lit(1.0)))
    val abZ = (col("_t2a").cast("double") - e2) / sqrt(varT)
    val lpU2 = col("_ra2").cast("double") - na * (na + lit(1.0))
    val varU = na * nb / lit(12.0) *
      ((nd + lit(1.0)) - col("_t3").cast("double") / (nd * (nd - lit(1.0))))
    val zw = (lpU2 - na * nb) / (lit(2.0) * sqrt(varU))
    val lStat = zw * zw + abZ * abZ
    val okRank = bothPos && (col("_na") + col("_nb")) > 1
    one.select(
      col("_na").as("n_a"), col("_nb").as("n_b"),
      guard(bothPos, ksD).as("ks_d_bp"),
      guard(bothPos, ksP).as("ks_p_bp"),
      kbp(col("_dplus") + col("_dminus")).as("kuiper_v_bp"),
      guard(bothPos, wu2).as("watson_u2_bp"),
      guard(bothPos, cvmT).as("cvm_t_bp"),
      guard(bothPos, ud / (na * nb)).as("auc_bp"),
      guard(bothPos && sigma2 > 0, mwuZ).as("mwu_z_bp"),
      guard(bothPos, bmPHat).as("bm_p_hat_bp"),
      guard(col("_na") >= 2 && col("_nb") >= 2 && pooled > 0, bmW)
        .as("bm_w_bp"),
      guard(col("_na") >= 2 && col("_nb") >= 2 && pooled > 0, bmDf)
        .as("bm_df_bp"),
      guard(bothPos && (lit(1.0) - rho * rho) > 0, cStat)
        .as("cucconi_c_bp"),
      guard(bothPos && (lit(1.0) - rho * rho) > 0, exp(-cStat))
        .as("cucconi_p_bp"),
      guard(okRank && varT > 0, abZ).as("ab_z_bp"),
      guard(okRank && varU > 0 && varT > 0, lStat).as("lepage_l_bp"),
      guard(okRank && varU > 0 && varT > 0, exp(-(lStat / 2)))
        .as("lepage_p_bp"))
  }

  /** Grubbs' extreme-deviation test (Grubbs 1950) — "is the single most
    * extreme value an outlier?": the MAD fences ([[madOutliers]] via
    * q113's machinery) COUNT outliers against a robust spread; Grubbs
    * asks the sharper single-point question against the NORMAL model —
    * the statistic a data-quality triage quotes before deleting the one
    * crazy row. One row: (n, min_v, max_v, g_max_bp, g_min_bp, g_bp) —
    * both one-sided deviations and their max, as statistics without p
    * (the critical value is a t-quantile — the kruskalWallis
    * stat-without-p precedent; at the n this runs at, G reads against
    * √n·(n−1)/√n ≈ √n).
    *
    * Exactness over an integral measure: the scaled deviations
    * n·max − S₁ and S₁ − n·min and the variance core
    * c2 = n·Σx² − S₁² are exact DECIMAL(38,0) integers in ONE
    * single-row aggregate; G = (dev/n)/√(c2/(n(n−1))) is one spelled
    * chain. Null when n < 3 or the sample is constant.
    */
  def grubbsTest(
      df: DataFrame,
      valueCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("_x"))
    val xD = col("_x").cast(dec)
    val one = v.agg(
      count(lit(1)).as("_n"),
      coalesce(sum(xD), lit(0).cast(dec)).as("_s1"),
      coalesce(sum(xD * xD), lit(0).cast(dec)).as("_s2"),
      min(col("_x")).as("_min"),
      max(col("_x")).as("_max"))
    val nd = col("_n").cast("double")
    val s1d = col("_s1").cast("double")
    val c2 = nd * col("_s2").cast("double") - s1d * s1d
    // s² = (Σx² − S₁²/n)/(n−1) = c2/(n(n−1))
    val s = sqrt(c2 / (nd * (nd - lit(1.0))))
    val gMax = (nd * col("_max").cast("double") - s1d) / nd / s
    val gMin = (s1d - nd * col("_min").cast("double")) / nd / s
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val ok = col("_n") >= 3 && c2 > 0
    def guard(e: Column) = when(ok, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("_n").as("n"), col("_min").as("min_v"),
      col("_max").as("max_v"),
      guard(gMax).as("g_max_bp"), guard(gMin).as("g_min_bp"),
      guard(greatest(gMax, gMin)).as("g_bp"))
  }

  /** Brunner–Munzel test (Brunner & Munzel 2000 — the two-sample rank
    * test modern practice reaches for when [[mannWhitneyU]]'s
    * equal-variance-under-H0 assumption is wrong: MWU tests the same
    * stochastic-dominance null but its z is anticonservative under
    * unequal spreads/shapes; BM studentizes the placement statistic with
    * PER-SAMPLE rank variances and a Welch–Satterthwaite dof, staying
    * valid for the "did the new source shift the metric?" question even
    * when the two sides disperse differently). One row:
    * (n_a, n_b, p_hat_bp, w_bp, df_bp) — p̂ = P(A < B) + ½P(A = B) (the
    * common-language effect, ties half), the studentized W, and the
    * fractional dof as signed BIGINT basis points (no p: the t CDF has
    * no closed form — the welchTTest precedent).
    *
    * Exactness: per-value (c_a, c_b) masses come from one value-keyed
    * hash aggregate; doubled midranks — combined M2 = 2·(x_a + x_b) +
    * (c_a + c_b) + 1 and within-sample A2/B2 — derive from TWO
    * [[GlobalRank.weightedPrefixSums]] passes, so every placement
    * D = M2 − A2 = 2·x_b + c_b is an exact integer and the variance
    * moments ΣcD, ΣcD² are exact DECIMAL(38,0) sums. Each S_i² expands
    * as (ΣcD² − 2K·ΣcD + n·K²)/4/(n−1) with K = ΣcM2/n − (n+1) the ONE
    * division per sample — the spelled chain both engines replay.
    *
    * Scale shape: the ksTest plan — one union + one value-keyed hash agg
    * (the only corpus-wide exchange carries distinct values), one
    * bounded prefix-sum pass, one single-row moment aggregate.
    */
  def brunnerMunzel(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, _, _) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    // doubled combined midrank and doubled placements (all integers)
    val m2 = lit(2L) * (col("_xa") + col("_xb")) + col("_ca") + col("_cb") +
      lit(1L)
    val dA = lit(2L) * col("_xb") + col("_cb") // M2 - A2 for sample a
    val dB = lit(2L) * col("_xa") + col("_ca") // M2 - B2 for sample b
    // cast to DECIMAL(38,0) BEFORE multiplying (the ksTest discipline):
    // c·D² in raw longs would overflow at corpus scale
    def dsum(c: Column) = coalesce(sum(c), lit(0).cast(dec))
    val caD = col("_ca").cast(dec)
    val cbD = col("_cb").cast(dec)
    val m2D = m2.cast(dec)
    val dAD = dA.cast(dec)
    val dBD = dB.cast(dec)
    val one = cums.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("_na"),
      coalesce(sum(col("_cb")), lit(0L)).as("_nb"),
      dsum(caD * m2D).as("_ra2"),
      dsum(cbD * m2D).as("_rb2"),
      dsum(caD * dAD).as("_sa1"),
      dsum(caD * dAD * dAD).as("_sa2"),
      dsum(cbD * dBD).as("_sb1"),
      dsum(cbD * dBD * dBD).as("_sb2"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    // K_i = 2·mean combined rank − (n_i + 1), one division per sample
    val ka = col("_ra2").cast("double") / na - (na + lit(1.0))
    val kb = col("_rb2").cast("double") / nb - (nb + lit(1.0))
    // 4·Σ(dev²) = ΣcD² − 2K·ΣcD + n·K²; S² divides by 4(n−1)
    val va = (col("_sa2").cast("double") - lit(2.0) * ka * col("_sa1").cast("double") +
      na * ka * ka) / lit(4.0) / (na - lit(1.0))
    val vb = (col("_sb2").cast("double") - lit(2.0) * kb * col("_sb1").cast("double") +
      nb * kb * kb) / lit(4.0) / (nb - lit(1.0))
    val pooled = na * va + nb * vb
    // W = n_a·n_b·(R̄_b − R̄_a) / ((n_a + n_b)·√(n_a·S_a² + n_b·S_b²))
    val w = na * nb * (col("_rb2").cast("double") / (lit(2.0) * nb) -
      col("_ra2").cast("double") / (lit(2.0) * na)) /
      (na + nb) / sqrt(pooled)
    val dfW = pooled * pooled /
      ((na * va) * (na * va) / (na - lit(1.0)) +
        (nb * vb) * (nb * vb) / (nb - lit(1.0)))
    val pHat = (col("_rb2").cast("double") / nb - nb - lit(1.0)) /
      (lit(2.0) * na)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val ok = col("_na") >= 2 && col("_nb") >= 2
    def guard(cond: Column, e: Column) =
      when(cond, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      guard(col("_na") > 0 && col("_nb") > 0, pHat).as("p_hat_bp"),
      guard(ok && pooled > 0, w).as("w_bp"),
      guard(ok && pooled > 0, dfW).as("df_bp"))
  }

  /** Cucconi location-scale test (Cucconi 1968; Marozzi 2009 revived
    * it) — ONE rank test for "did the distribution move OR spread?":
    * the location tests ([[mannWhitneyU]], [[brunnerMunzel]]) miss a
    * pure variance change and the spread tests miss a pure shift; the
    * practical drift question is almost always the union. Cucconi
    * combines the squared-rank sum U and the squared-CONTRARY-rank sum
    * V of one sample into C = (U² + V² − 2ρUV)/(2(1−ρ²)), whose
    * asymptotic null is Exponential(1), so p = exp(−C) is CLOSED FORM
    * (the even-dof luck the chi-square family only sometimes gets).
    * One row: (n_a, n_b, u_bp, v_bp, c_bp, p_bp), ties by midranks
    * (the standard practical adaptation).
    *
    * Exactness: with doubled midranks m2 the squared-rank sums clear to
    * the exact DECIMAL(38,0) moments ΣcB·m2 and ΣcB·m2² (contrary-rank
    * moments derive algebraically from the same two — no second pass),
    * and the U/V/ρ/C chains are spelled once. Scale shape: the ksTest
    * plan — one union hash agg on distinct values, one bounded
    * prefix-sum pass, one single-row moment aggregate.
    */
  def cucconiTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, _, _) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val m2 = (lit(2L) * (col("_xa") + col("_xb")) + col("_ca") + col("_cb") +
      lit(1L)).cast(dec)
    val cbD = col("_cb").cast(dec)
    val one = cums.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("_na"),
      coalesce(sum(col("_cb")), lit(0L)).as("_nb"),
      coalesce(sum(cbD * m2), lit(0).cast(dec)).as("_r2"),
      coalesce(sum(cbD * m2 * m2), lit(0).cast(dec)).as("_r4"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    val np1 = nd + lit(1.0)
    val r2d = col("_r2").cast("double")
    val r4d = col("_r4").cast("double")
    // ΣR² = ΣcB·m2²/4; contrary ranks n+1−R give
    // ΣQ² = ((2(n+1))²·n_b − 4(n+1)·ΣcB·m2 + ΣcB·m2²)/4
    val sr2 = r4d / lit(4.0)
    val sq2 = (lit(4.0) * np1 * np1 * nb - lit(4.0) * np1 * r2d + r4d) /
      lit(4.0)
    val den = sqrt(na * nb * np1 * (lit(2.0) * nd + 1) *
      (lit(8.0) * nd + 11) / lit(5.0))
    val u = (lit(6.0) * sr2 - nb * np1 * (lit(2.0) * nd + 1)) / den
    val v = (lit(6.0) * sq2 - nb * np1 * (lit(2.0) * nd + 1)) / den
    val rho = lit(2.0) * (nd * nd - 4) /
      ((lit(2.0) * nd + 1) * (lit(8.0) * nd + 11)) - lit(1.0)
    val cStat = (u * u + v * v - lit(2.0) * rho * u * v) /
      (lit(2.0) * (lit(1.0) - rho * rho))
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val ok = col("_na") > 0 && col("_nb") > 0 &&
      (lit(1.0) - rho * rho) > 0
    def guard(e: Column) = when(ok, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      guard(u).as("u_bp"), guard(v).as("v_bp"),
      guard(cStat).as("c_bp"), guard(exp(-cStat)).as("p_bp"))
  }

  /** Ansari–Bradley two-sample SPREAD test (Ansari & Bradley 1960) —
    * the rank member the dispersion shelf lacked: [[bartlettTest]] and
    * [[brownForsythe]] are k-group tests on raw values (moment-based,
    * outlier-sensitive); AB asks the rank question "does one sample
    * concentrate in the middle of the pooled ordering while the other
    * takes the extremes?" with scores a(r) = min(r, n+1−r) from both
    * ends. One row: (n_a, n_b, z_bp).
    *
    * Tie convention, explicit: scores are evaluated AT the class
    * midrank (a(midrank), DOUBLED so everything stays integer) rather
    * than averaged over the class's rank range (R's ansari.test mean-
    * score convention). The two differ only when a tie class straddles
    * the pooled center; the spec pins a no-straddle case where both
    * conventions coincide. The gain is exactness at any scale: every
    * score, the statistic T, its mean and its variance clear to
    * DECIMAL(38,0) integers with ONE division layer in the z chain —
    * no per-class rational and no float accumulation over the value
    * axis. Scale shape: the ksTest plan (union hash agg + prefix pass
    * + one single-row moment aggregate over a broadcast total).
    */
  def ansariBradley(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    // doubled midrank and doubled score 2·a = min(m2, 2(n+1) − m2)
    val m2 = lit(2L) * (col("_xa") + col("_xb")) + col("_ca") + col("_cb") +
      lit(1L)
    val one = cums
      .withColumn("_n", lit(tna + tnb))
      .select(col("_ca"), col("_cb"),
        least(m2, lit(2L) * (col("_n") + 1) - m2).cast(dec).as("_s2"))
      .agg(
        coalesce(sum(col("_ca")), lit(0L)).as("_na"),
        coalesce(sum(col("_cb")), lit(0L)).as("_nb"),
        coalesce(sum(col("_ca").cast(dec) * col("_s2")), lit(0).cast(dec))
          .as("_t2a"),
        coalesce(sum((col("_ca") + col("_cb")).cast(dec) * col("_s2")),
          lit(0).cast(dec)).as("_sc1"),
        coalesce(sum((col("_ca") + col("_cb")).cast(dec) * col("_s2") *
          col("_s2")), lit(0).cast(dec)).as("_sc2"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    val e2 = na * col("_sc1").cast("double") / nd
    val varT = na * nb *
      (nd * col("_sc2").cast("double") -
        col("_sc1").cast("double") * col("_sc1").cast("double")) /
      (nd * nd * (nd - lit(1.0)))
    val z = (col("_t2a").cast("double") - e2) / sqrt(varT)
    val ok = col("_na") > 0 && col("_nb") > 0 &&
      (col("_na") + col("_nb")) > 1 && varT > 0
    one.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      when(ok, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  /** Lepage combined location-scale test (Lepage 1971) — the classical
    * alternative to [[cucconiTest]] for the same union question, built
    * from named parts a reviewer already knows: L = z_W² + z_AB², the
    * squared Wilcoxon location z plus the squared [[ansariBradley]]
    * spread z. dof 2 is EVEN, so p = exp(−L/2) is closed form (the
    * jarqueBera precedent). One row:
    * (n_a, n_b, zw_bp, zab_bp, l_bp, p_bp).
    *
    * Both component z's compute from ONE histogram pass: the doubled
    * midranks feed the Wilcoxon rank sum (with the exact Σ(t³−t) tie
    * correction) and the doubled AB midrank-scores (the ansariBradley
    * tie convention, documented there) — every moment an exact
    * DECIMAL(38,0) integer, each z one spelled chain. Scale shape: the
    * ksTest plan.
    */
  def lepageTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (cums, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val m2 = lit(2L) * (col("_xa") + col("_xb")) + col("_ca") + col("_cb") +
      lit(1L)
    val cv = col("_ca") + col("_cb")
    val one = cums
      .withColumn("_n", lit(tna + tnb))
      .select(col("_ca"), col("_cb"), cv.as("_cv"), m2.cast(dec).as("_m2"),
        least(m2, lit(2L) * (col("_n") + 1) - m2).cast(dec).as("_s2"))
      .agg(
        coalesce(sum(col("_ca")), lit(0L)).as("_na"),
        coalesce(sum(col("_cb")), lit(0L)).as("_nb"),
        coalesce(sum(col("_ca").cast(dec) * col("_m2")), lit(0).cast(dec))
          .as("_ra2"),
        coalesce(sum(col("_cv").cast(dec) * col("_cv").cast(dec) *
          col("_cv").cast(dec) - col("_cv").cast(dec)), lit(0).cast(dec))
          .as("_tt"),
        coalesce(sum(col("_ca").cast(dec) * col("_s2")), lit(0).cast(dec))
          .as("_t2a"),
        coalesce(sum(col("_cv").cast(dec) * col("_s2")), lit(0).cast(dec))
          .as("_sc1"),
        coalesce(sum(col("_cv").cast(dec) * col("_s2") * col("_s2")),
          lit(0).cast(dec)).as("_sc2"))
    val na = col("_na").cast("double")
    val nb = col("_nb").cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    // Wilcoxon: 2U = 2R_a − n_a(n_a+1); E[2U] = n_a·n_b;
    // Var[U] = n_a·n_b/12·((n+1) − ΣT/(n(n−1)))
    val u2 = col("_ra2").cast("double") - na * (na + lit(1.0))
    val varU = na * nb / lit(12.0) *
      ((nd + lit(1.0)) - col("_tt").cast("double") / (nd * (nd - lit(1.0))))
    val zw = (u2 - na * nb) / (lit(2.0) * sqrt(varU))
    val e2 = na * col("_sc1").cast("double") / nd
    val varT = na * nb *
      (nd * col("_sc2").cast("double") -
        col("_sc1").cast("double") * col("_sc1").cast("double")) /
      (nd * nd * (nd - lit(1.0)))
    val zab = (col("_t2a").cast("double") - e2) / sqrt(varT)
    val lStat = zw * zw + zab * zab
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val ok = col("_na") > 0 && col("_nb") > 0 &&
      (col("_na") + col("_nb")) > 1 && varU > 0 && varT > 0
    def guard(e: Column) = when(ok, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      guard(zw).as("zw_bp"), guard(zab).as("zab_bp"),
      guard(lStat).as("l_bp"), guard(exp(-(lStat / 2))).as("p_bp"))
  }

  /** D'Agostino's K² omnibus normality test (D'Agostino 1970 for the
    * skewness transform; Anscombe & Glynn 1983 for kurtosis;
    * D'Agostino, Belanger & D'Agostino 1990 for the combination) — the
    * normality TEST the moment shelf lacked beside [[jarqueBera]]'s
    * statistic: JB's χ²(2) approximation is notoriously slow to
    * converge (anticonservative below n ≈ 2000), while K² transforms
    * g1 and g2 to separately-normalized Z's first, keeping the test
    * honest at practical sample sizes. dof 2 is EVEN → p = exp(−K²/2)
    * closed form. One row over an integral measure:
    * (n, skew_bp, kurt_bp, z1_bp, z2_bp, k2_bp, p_bp).
    *
    * Exactness: the four power sums are exact DECIMAL(38,0) integers
    * in ONE single-row aggregate; every transform chain (the inverse
    * sinh for Z1, the Wilson–Hilferty cube root for Z2 — spelled as
    * sign·exp(ln|t|/3), the proven exp/ln function class, NOT cbrt
    * whose rounding differs across libms) is written once and replayed
    * verbatim by the oracle. Nulls when n < 20 (below the transforms'
    * validity, D'Agostino's own floor) or the variance degenerates.
    */
  def dagostinoK2(
      df: DataFrame,
      valueCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("_x"))
    val xD = col("_x").cast(dec)
    val one = v.agg(
      count(lit(1)).as("_n"),
      coalesce(sum(xD), lit(0).cast(dec)).as("_s1"),
      coalesce(sum(xD * xD), lit(0).cast(dec)).as("_s2"),
      coalesce(sum(xD * xD * xD), lit(0).cast(dec)).as("_s3"),
      coalesce(sum(xD * xD * xD * xD), lit(0).cast(dec)).as("_s4"))
    val nd = col("_n").cast("double")
    val mu = col("_s1").cast("double") / nd
    val m2 = col("_s2").cast("double") / nd - mu * mu
    val m3 = col("_s3").cast("double") / nd -
      lit(3.0) * mu * (col("_s2").cast("double") / nd) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4").cast("double") / nd -
      lit(4.0) * mu * (col("_s3").cast("double") / nd) +
      lit(6.0) * mu * mu * (col("_s2").cast("double") / nd) -
      lit(3.0) * mu * mu * mu * mu
    val g1 = m3 / ((sqrt(m2) * sqrt(m2)) * sqrt(m2))
    val g2 = m4 / (m2 * m2) - lit(3.0)
    // D'Agostino 1970 skewness transform (inverse sinh)
    val y = g1 * sqrt((nd + 1) * (nd + 3) / (lit(6.0) * (nd - 2)))
    val b2 = lit(3.0) * (nd * nd + lit(27.0) * nd - 70) * (nd + 1) *
      (nd + 3) / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    val w2 = sqrt(lit(2.0) * (b2 - 1)) - lit(1.0)
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1))
    val z1 = delta * log(y / alpha + sqrt((y / alpha) * (y / alpha) + 1))
    // Anscombe–Glynn kurtosis transform (Wilson–Hilferty cube root,
    // spelled through exp/ln so both engines round identically)
    val eb2 = lit(3.0) * (nd - 1) / (nd + 1)
    val vb2 = lit(24.0) * nd * (nd - 2) * (nd - 3) /
      ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))
    val x = (g2 + lit(3.0) - eb2) / sqrt(vb2)
    val beta = lit(6.0) * (nd * nd - lit(5.0) * nd + 2) /
      ((nd + 7) * (nd + 9)) *
      sqrt(lit(6.0) * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
    val aA = lit(6.0) + lit(8.0) / beta *
      (lit(2.0) / beta + sqrt(lit(1.0) + lit(4.0) / (beta * beta)))
    val t = (lit(1.0) - lit(2.0) / aA) /
      (lit(1.0) + x * sqrt(lit(2.0) / (aA - 4)))
    val cbrtT = signum(t) * exp(log(abs(t)) / 3)
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aA)) - cbrtT) /
      sqrt(lit(2.0) / (lit(9.0) * aA))
    val k2 = z1 * z1 + z2 * z2
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val ok = col("_n") >= 20 && m2 > 0 && w2 > 1 && t =!= 0.0
    def guard(e: Column) = when(ok, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("_n").as("n"),
      guard(g1).as("skew_bp"), guard(g2).as("kurt_bp"),
      guard(z1).as("z1_bp"), guard(z2).as("z2_bp"),
      guard(k2).as("k2_bp"), guard(exp(-(k2 / 2))).as("p_bp"))
  }

  /** Mood's median test (Mood 1950 §16.4; Brown & Mood 1951) — the
    * k-group location test with the MINIMAL assumption set: dichotomize
    * every value at the POOLED median and χ² the resulting 2×k table.
    * Where [[kruskalWallis]] uses full rank information (more power,
    * but sensitive to spread differences between groups), Mood's test
    * asks only "does each source put the expected half of its mass
    * above the corpus median?" — the robust screen when group
    * dispersions differ wildly, exactly the regime mixed-source corpora
    * live in. One row: (n, k_groups, median_v, chi2_bp, dof).
    *
    * Exactness: the pooled LOWER median of an integral measure is the
    * smallest value whose doubled inclusive cumulative reaches n — an
    * integer selection over one [[GlobalRank.weightedPrefixSums]] pass,
    * no interpolation; the 2×k cells are integer masses; each group's
    * χ² contribution quantizes to floor(term·2³⁰) (the q238 grain
    * discipline — order-free integer summation over the bounded group
    * dimension). Nulls: chi2 when either pooled half is empty (all
    * values equal) or k < 2.
    *
    * Scale shape: ONE per-(group, value) hash agg is the only
    * corpus-width exchange; the pooled histogram derives from it, the
    * median is a one-row broadcast, and the 2×k table is a group-keyed
    * aggregate of bounded size.
    */
  /** In-process tier of [[moodMedian]] — pooled median + 2×k grains from
    * the collected long-valued cell table. Grain sums are longs
    * (order-free), so no group ordering is needed.
    */
  private def moodMedianLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = true),
      StructField("k_groups", LongType, nullable = true),
      StructField("median_v", LongType, nullable = true),
      StructField("chi2_bp", LongType, nullable = true),
      StructField("dof", LongType, nullable = true)))
    BoundedCells.fold(perGV, cellLimit, schema) {
      case cells if cells.nonEmpty =>
        val sp = CellSpine.longs(cells)
        val med = sp.medianV
        val medIdx = java.util.Arrays.binarySearch(sp.values, med)
        val gps = sp.groupPoints.map { case (g, ng, pts) =>
          val hi = pts.iterator.collect {
            case (i, c) if i > medIdx => c }.sum
          (g, ng, hi)
        }
        val n = sp.n
        val ta = gps.iterator.map(_._3).sum
        val k = gps.size.toLong
        val nd = n.toDouble
        val ad = ta.toDouble
        var q = 0L
        gps.foreach { case (_, ng, hi) =>
          if (ta > 0 && ta < n) {
            val ngd = ng.toDouble
            val hid = hi.toDouble
            val e1 = ngd * ad / nd
            val e2 = ngd * (nd - ad) / nd
            val term = (hid - e1) * (hid - e1) / e1 +
              ((ngd - hid) - e2) * ((ngd - hid) - e2) / e2
            q += floorL(term * 1073741824)
          }
        }
        val ok = k > 1 && ta > 0 && ta < n
        Some(Seq(org.apache.spark.sql.Row(
          n, k, med,
          if (ok) floorL(q.toDouble / 1073741824 * 10000 + 0.5) else null,
          if (ok) k - 1 else null)))
      case _ => None
    }
  }

  def moodMedian(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    // persisted by the gate: the median derivation (via the pooled
    // histogram) and the 2×k table both consume it, and wps's sample pass
    // would otherwise re-run the corpus-width agg a third time
    val cells = BoundedCells.cellTable(df, valueCol, groupCol, "long")
    val localMm = moodMedianLocal(cells, localSpineLimit)
    if (localMm.isDefined) return localMm.get
    val pv = cells.groupBy(col("_v"))
      .agg(sum(col("_c")).as("_cv"))
    val (withX, wTots) = GlobalRank.weightedPrefixSumsMulti(
      pv, "_v", Seq("_cv" -> "_x"))
    val med = withX
      .filter((col("_x") + col("_cv")) * 2 >= lit(wTots.head))
      .agg(min(col("_v")).as("_m"))
    val grp = cells.crossJoin(broadcast(med))
      .groupBy(col("_g"))
      .agg(sum(when(col("_v") > col("_m"), col("_c")).otherwise(0L)).as("_hi"),
        sum(col("_c")).as("_ng"))
    val tot = grp.agg(
      coalesce(sum(col("_hi")), lit(0L)).as("_ta"),
      coalesce(sum(col("_ng")), lit(0L)).as("_tn"),
      count(lit(1)).as("_k"))
    val nd = col("_tn").cast("double")
    val ad = col("_ta").cast("double")
    val ngd = col("_ng").cast("double")
    val hid = col("_hi").cast("double")
    val e1 = ngd * ad / nd
    val e2 = ngd * (nd - ad) / nd
    val term = (hid - e1) * (hid - e1) / e1 +
      ((ngd - hid) - e2) * ((ngd - hid) - e2) / e2
    // the grain must stay finite row-by-row even when a pooled half is
    // empty (e = 0 → term = ∞ → ANSI long-cast throw); the one-row guard
    // below nulls the display in that case anyway
    val grain = when(col("_ta") > 0 && col("_ta") < col("_tn"),
      floor(term * 1073741824).cast("long")).otherwise(lit(0L))
    val one = grp.crossJoin(broadcast(tot))
      .groupBy()
      .agg(first(col("_tn")).as("_n"), first(col("_ta")).as("_a"),
        first(col("_k")).as("_k"),
        coalesce(sum(grain), lit(0L)).as("_q"))
    val ok = col("_k") > 1 && col("_a") > 0 && col("_a") < col("_n")
    one.crossJoin(broadcast(med))
      .select(col("_n").as("n"), col("_k").cast("long").as("k_groups"),
        col("_m").as("median_v"),
        when(ok, floor(col("_q").cast("double") / 1073741824 * 10000 +
          lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_bp"),
        when(ok, (col("_k") - 1).cast("long"))
          .otherwise(lit(null).cast("long")).as("dof"))
  }

  /** Page's trend test (Page 1963) — the ORDERED alternative for
    * repeated measures: [[friedmanTest]] asks "do the k conditions
    * differ at all, per block?"; Page asks the sharper monotone
    * question "does activity RISE across the observation window's
    * periods, user by user?" — pinning a direction the omnibus wastes
    * power ignoring (the within-block counterpart of the between-group
    * Jonckheere–Terpstra). Blocks are users, treatments the k=3 equal
    * thirds of the corpus time window, the response each user's event
    * count per third. One row: (n_blocks, k_periods, l2, z_bp) — l2 is
    * the DOUBLED Page L = Σ_blocks Σ_j j·R_j (doubled midranks keep
    * ties integer-exact, the established doubled-rank discipline); z
    * uses the no-tie normal approximation E[L] = m·k(k+1)²/4,
    * Var[L] = m·k²(k+1)(k²−1)/144 (ties make it conservative —
    * documented, the classical large-sample treatment).
    *
    * Exactness: period boundaries are exact integer-microsecond
    * arithmetic from a one-row broadcast (no float day math); per-user
    * doubled midranks of the 3 counts are map-side CASE integer sums;
    * L2 is one BIGINT aggregate; the z chain is spelled once.
    *
    * Scale shape: one per-user hash agg with map-side conditional
    * partials (the corpus's only exchange), then a single-row sum.
    */
  def pageTrend(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val e = events.filter(col(tsCol).isNotNull && col(userCol).isNotNull)
      .select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_us"))
    val win = e.agg(min(col("_us")).as("_t0"), max(col("_us")).as("_t1"))
    val p = least(lit(2L), floor((col("_us") - col("_t0")) * 3 /
      (col("_t1") - col("_t0") + 1)).cast("long"))
    val perUser = e.crossJoin(broadcast(win))
      .select(col("_u"), p.as("_p"))
      .groupBy(col("_u"))
      .agg(sum(when(col("_p") === 0, 1L).otherwise(0L)).as("_x0"),
        sum(when(col("_p") === 1, 1L).otherwise(0L)).as("_x1"),
        sum(when(col("_p") === 2, 1L).otherwise(0L)).as("_x2"))
    // doubled midrank of x_j among {x_0, x_1, x_2}:
    // 2 + 2·#{i: x_i < x_j} + #{i≠j: x_i = x_j} — pure integer CASEs
    def dr(j: Column, others: Seq[Column]) =
      lit(2L) +
        others.map(o => when(o < j, 2L).otherwise(0L)).reduce(_ + _) +
        others.map(o => when(o === j, 1L).otherwise(0L)).reduce(_ + _)
    val l2u =
      lit(1L) * dr(col("_x0"), Seq(col("_x1"), col("_x2"))) +
        lit(2L) * dr(col("_x1"), Seq(col("_x0"), col("_x2"))) +
        lit(3L) * dr(col("_x2"), Seq(col("_x0"), col("_x1")))
    val one = perUser.agg(count(lit(1)).as("_m"),
      coalesce(sum(l2u), lit(0L)).as("_l2"))
    val md = col("_m").cast("double")
    // k = 3: E[2L] = 2·m·k(k+1)²/4 = 24m, Var[L] = m·k²(k+1)(k²−1)/144 = 2m
    val z = (col("_l2").cast("double") - lit(24.0) * md) /
      (lit(2.0) * sqrt(lit(2.0) * md))
    one.select(col("_m").as("n_blocks"), lit(3L).as("k_periods"),
      col("_l2").as("l2"),
      when(col("_m") > 0, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  /** Two-sample Mann-Whitney U (Wilcoxon rank-sum) test with exact tie
    * midranks (Mann & Whitney 1947) — the nonparametric "did the values
    * SHIFT between these two snapshots?" location test that completes
    * the two-sample family: KS asks how far apart the CDFs get anywhere,
    * PSI how much binned mass moved, U whether one side stochastically
    * dominates. One row: (n_a, n_b, u2, auc_bp, z).
    *
    * Exactness: per-value counts (c_a, c_b) come from one value-keyed
    * hash aggregate; the doubled midrank of each tie class is
    * m2 = 2·prefix + count + 1 from ONE [[GlobalRank.weightedPrefixSums]]
    * pass over the distinct-value table (the Spearman/scoreAuc r14
    * kernel); the DOUBLED rank sum 2R_a = Σ c_a·m2 is a DECIMAL(38,0)
    * integer, so `u2` = 2U_a = 2R_a − n_a(n_a+1) is EXACT and
    * engine-portable with no float boundary anywhere. `auc_bp` is the
    * common-language effect size U/(n_a·n_b) in basis points (the
    * probability a random a-value exceeds a random b-value, ties half);
    * `z` is the tie-corrected normal approximation
    * (U − n_a·n_b/2) / √(n_a·n_b/12·((n+1) − ΣT/(n(n−1)))), ΣT = Σ t³−t
    * over tie classes — an integer DECIMAL sum — rounded floor-form to 4
    * digits, null when the variance degenerates (all values tied).
    *
    * Scale shape: one union + one value-keyed hash agg (the only
    * corpus-wide exchange carries distinct values), one bounded
    * prefix-sum pass, one single-row moment aggregate — the ksTest plan
    * with a different final formula.
    */
  /** Welch's unequal-variance t test (Welch 1947 — the two-sample mean
    * comparison practice actually defaults to: [[anovaF]] assumes one
    * shared variance and [[mannWhitneyU]] answers the rank question;
    * Welch asks about the MEAN difference without the equal-variance
    * assumption, with the Welch–Satterthwaite effective dof). One row:
    * (n_a, n_b, mean_a_bp, mean_b_bp, t_bp, df_bp) — the t statistic
    * and the fractional dof as signed BIGINT basis points (no p: the t
    * CDF has no closed form, the kruskalWallis stat-without-p
    * precedent; at the dof this test runs at, |t| reads against the
    * normal quantiles).
    *
    * Exactness: each side's variance numerator clears to the exact
    * integer c2 = n·Σx² − (Σx)² (the cronbachAlpha moment trick) and
    * the means are exact rationals — the t and dof chains are spelled
    * once from integer inputs. A side with n < 2 or both variances
    * zero nulls the displays.
    *
    * Scale shape: two single-row moment aggregates (map-side partials),
    * one broadcast cross — the corpora are each touched once.
    */
  def welchTTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(d: DataFrame, n: String, s1: String, s2: String) = d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as(n),
        coalesce(sum(col("_v").cast(dec)), lit(0).cast(dec)).as(s1),
        coalesce(sum(col("_v").cast(dec) * col("_v").cast(dec)),
          lit(0).cast(dec)).as(s2))
    val one = side(a, "n_a", "_sa", "_qa")
      .crossJoin(broadcast(side(b, "n_b", "_sb", "_qb")))
    def c2(n: Column, s: Column, q: Column) = n.cast(dec) * q - s * s
    val c2a = c2(col("n_a"), col("_sa"), col("_qa"))
    val c2b = c2(col("n_b"), col("_sb"), col("_qb"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val meanA = col("_sa").cast("double") / nad
    val meanB = col("_sb").cast("double") / nbd
    // s²/n per side: c2/(n²(n−1)) — one division from exact integers
    val va = c2a.cast("double") / (nad * nad * (nad - 1))
    val vb = c2b.cast("double") / (nbd * nbd * (nbd - 1))
    val t = (meanA - meanB) / sqrt(va + vb)
    val dfW = (va + vb) * (va + vb) /
      (va * va / (nad - 1) + vb * vb / (nbd - 1))
    val ok = col("n_a") > 1 && col("n_b") > 1 &&
      (c2a > 0 || c2b > 0)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, c: Column) =
      when(cond, bp(c)).otherwise(lit(null).cast("long"))
    one.select(col("n_a"), col("n_b"),
      guard(col("n_a") > 0, meanA).as("mean_a_bp"),
      guard(col("n_b") > 0, meanB).as("mean_b_bp"),
      guard(ok, t).as("t_bp"),
      guard(ok, dfW).as("df_bp"))
  }

  /** Two-sample variance-ratio F test (the classical F test for equality
    * of variances; Snedecor & Cochran §6.11) — the PARAMETRIC two-sample
    * member of the scale family: [[ansariBradley]] asks the rank
    * question, [[brownForsythe]]/[[bartlettTest]] the k-group one, and
    * this is the sharp two-sample "did the variance CHANGE between
    * snapshots?" a capacity/SLO review quotes (with the textbook
    * normality caveat — AB is the robust sibling). One row:
    * (n_a, n_b, var_a_bp, var_b_bp, f) — sample variances and their
    * ratio s²_a/s²_b, F floor-rounded to 4 decimals, stat-without-p
    * (the F CDF is incomplete-beta — the kruskalWallis precedent; F
    * reads against F(n_a−1, n_b−1)).
    *
    * Exactness: per-side (n, Σx, Σx²) over the INTEGRAL measure are
    * exact DECIMAL(38,0) moments (the welchTTest discipline); each
    * variance numerator clears to the integer c2 = n·Σx² − (Σx)², and
    * both displays and the ratio are single spelled chains
    * s² = c2/(n(n−1)), F = (c2_a·n_b·(n_b−1)) / (c2_b·n_a·(n_a−1))
    * evaluated as the two-division form s²_a/s²_b so the oracle replays
    * the identical IEEE sequence. Nulls when a side has n < 2 or the
    * denominator variance is zero.
    *
    * Scale shape: one single-row moment aggregate per side (map-side
    * partials — three counters cross the shuffle), one broadcast cross.
    * This is also the batch calibration source for the streaming
    * [[graft.streaming.SpreadMonitor]] twin.
    */
  def varianceRatioTest(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(d: DataFrame, n: String, s1: String, s2: String) = d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as(n),
        coalesce(sum(col("_v").cast(dec)), lit(0).cast(dec)).as(s1),
        coalesce(sum(col("_v").cast(dec) * col("_v").cast(dec)),
          lit(0).cast(dec)).as(s2))
    val one = side(a, "n_a", "_sa", "_qa")
      .crossJoin(broadcast(side(b, "n_b", "_sb", "_qb")))
    def c2(n: Column, s: Column, q: Column) = n.cast(dec) * q - s * s
    val c2a = c2(col("n_a"), col("_sa"), col("_qa"))
    val c2b = c2(col("n_b"), col("_sb"), col("_qb"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val va = c2a.cast("double") / (nad * (nad - 1))
    val vb = c2b.cast("double") / (nbd * (nbd - 1))
    val ok = col("n_a") > 1 && col("n_b") > 1 && c2b > 0
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    one.select(col("n_a"), col("n_b"),
      when(col("n_a") > 1, bp(va)).otherwise(lit(null).cast("long"))
        .as("var_a_bp"),
      when(col("n_b") > 1, bp(vb)).otherwise(lit(null).cast("long"))
        .as("var_b_bp"),
      when(ok, r4(va / vb)).otherwise(lit(null).cast("double")).as("f"))
  }

  /** Yuen's trimmed-mean t test (Yuen 1974; Wilcox, Robust Estimation &
    * Hypothesis Testing §5.3) — the robust LOCATION two-sample member
    * the rank family brackets but never states in value units:
    * [[brunnerMunzel]] answers stochastic dominance and [[welchTTest]]
    * the raw-mean difference, while Yuen compares γ-TRIMMED means with
    * winsorized variances — the estimator that keeps value units and a
    * Welch-style dof yet shrugs off the heavy tails doc-length
    * distributions carry. One row: (n_a, n_b, h_a, h_b, tmean_a_bp,
    * tmean_b_bp, t_bp, df_bp) — trimmed counts h = n − 2g, trimmed
    * means, the studentized t and Welch–Satterthwaite dof as signed
    * BIGINT basis points (no closed-form p — the welchTTest precedent).
    *
    * Exactness: over an INTEGRAL measure every trimmed/winsorized
    * quantity is an exact integer — g = ⌊n·γ⌋ by integer division
    * (γ = `trimNum`/`trimDen` rational), the retained mass per value
    * class is a clamp of exact prefix sums, the cut values x_(g+1) and
    * x_(n−g) select from the same cumulative, and the winsorized sums
    * W1 = T1 + g·(x_lo + x_hi), W2 = T2 + g·(x_lo² + x_hi²) are
    * DECIMAL(38,0); the winsorized variance clears to the integer
    * numerator c2w = n·W2 − W1², so d = c2w/(n·h·(h−1)) and the t/dof
    * chains are each one spelled double sequence the oracle replays.
    * Nulls when either side has h < 2 or both winsorized variances
    * vanish.
    *
    * Scale shape: per side ONE value-keyed histogram aggregate (the
    * only corpus-width exchange), one bounded prefix-sum pass, then a
    * single-row conditional aggregate — the ksTest cost with a
    * different final fold; the two one-row sides meet in a broadcast
    * cross.
    */
  def yuenTrimmedT(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      trimNum: Long = 1L,
      trimDen: Long = 5L): DataFrame = {
    require(trimNum >= 0 && trimDen > 0 && 2 * trimNum < trimDen,
      "trim fraction must be in [0, 0.5)")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(d: DataFrame, tag: String): DataFrame = {
      val hist = d.filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("long").as("_v"))
        .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      val (pre, preTots) = GlobalRank.weightedPrefixSumsMulti(
        hist, "_v", Seq("_c" -> "_pfx"))
      val w = pre.withColumn("_nn", lit(preTots.head))
        .withColumn("_g", expr(s"_nn * $trimNum div $trimDen"))
      val keep = greatest(lit(0L),
        least(col("_pfx") + col("_c"), col("_nn") - col("_g")) -
          greatest(col("_pfx"), col("_g")))
      val atLo = col("_pfx") <= col("_g") &&
        col("_g") < col("_pfx") + col("_c")
      val atHi = col("_pfx") <= col("_nn") - col("_g") - 1 &&
        col("_nn") - col("_g") - 1 < col("_pfx") + col("_c")
      w.agg(
        first(col("_nn")).as(s"n_$tag"),
        first(col("_g")).as(s"_g$tag"),
        min(when(atLo, col("_v"))).as(s"_lo$tag"),
        min(when(atHi, col("_v"))).as(s"_hi$tag"),
        coalesce(sum(keep.cast(dec) * col("_v").cast(dec)),
          lit(0).cast(dec)).as(s"_t1$tag"),
        coalesce(sum(keep.cast(dec) * col("_v").cast(dec) *
          col("_v").cast(dec)), lit(0).cast(dec)).as(s"_t2$tag"))
    }
    val one = side(a, "a").crossJoin(broadcast(side(b, "b")))
    def chains(tag: String): (Column, Column, Column, Column) = {
      val n = col(s"n_$tag")
      val g = col(s"_g$tag")
      val h = n - lit(2L) * g
      val w1 = col(s"_t1$tag") + g.cast(dec) *
        (col(s"_lo$tag").cast(dec) + col(s"_hi$tag").cast(dec))
      val w2 = col(s"_t2$tag") + g.cast(dec) *
        (col(s"_lo$tag").cast(dec) * col(s"_lo$tag").cast(dec) +
          col(s"_hi$tag").cast(dec) * col(s"_hi$tag").cast(dec))
      val c2w = n.cast(dec) * w2 - w1 * w1
      val hd = h.cast("double")
      val nd = n.cast("double")
      val dTerm = c2w.cast("double") / (nd * hd * (hd - 1))
      val tMean = col(s"_t1$tag").cast("double") / hd
      (h, tMean, dTerm, c2w)
    }
    val (ha, tma, da, c2a) = chains("a")
    val (hb, tmb, db, c2b) = chains("b")
    val t = (tma - tmb) / sqrt(da + db)
    val dfW = (da + db) * (da + db) /
      (da * da / (ha.cast("double") - 1) + db * db / (hb.cast("double") - 1))
    val ok = ha > 1 && hb > 1 && (c2a > 0 || c2b > 0)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, c: Column) =
      when(cond, bp(c)).otherwise(lit(null).cast("long"))
    one.select(col("n_a"), col("n_b"),
      ha.as("h_a"), hb.as("h_b"),
      guard(ha > 0, tma).as("tmean_a_bp"),
      guard(hb > 0, tmb).as("tmean_b_bp"),
      guard(ok, t).as("t_bp"),
      guard(ok, dfW).as("df_bp"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945, the PAIRED rank test —
    * the gap beside [[mannWhitneyU]]'s unpaired form: per-unit paired
    * differences, zeros dropped (Wilcoxon's convention), |d| midranks,
    * normal approximation with the exact tie correction). The caller
    * supplies the integer difference column; one row:
    * (n_units, n_nonzero, n_pos, n_neg, z_bp).
    *
    * Float discipline: the |d| histogram gives doubled midranks
    * m2 = 2·prefix + count + 1 via ONE [[GlobalRank.weightedPrefixSums]]
    * pass (the scoreAuc shape), so 2W⁺ = Σ pos·m2 and the tie mass
    * Σ(t³−t) are exact DECIMAL(38,0); the z chain
    * (2W⁺ − n(n+1)/2) / √(n(n+1)(2n+1)/6 − T/12) is spelled once.
    * All-zero differences (n_nonzero = 0) or zero variance null the
    * display.
    *
    * Scale shape: one row-level hash agg to the |d| histogram, one
    * prefix pass over the distinct-|d| frame, one moment aggregate.
    */
  /** Sign test (Arbuthnott 1710 / the modern normal-approximation form,
    * e.g. Conover §3.4 — the third member of the paired family:
    * [[wilcoxonSignedRank]] weights moves by magnitude and assumes a
    * symmetric difference distribution; the sign test asks ONLY whether
    * the median difference is zero — maximally robust, the right call
    * when the difference scale is untrustworthy). Zeros drop
    * (Wilcoxon's convention); z = (2S − n)/√n with S the positive
    * count. One row: (n_units, n_nonzero, n_pos, n_neg, z_bp).
    *
    * Everything before the one z chain is an exact integer from a
    * single conditional aggregate.
    */
  def signTest(df: DataFrame, diffCol: Column): DataFrame = {
    val v = df.filter(diffCol.isNotNull)
      .select(diffCol.cast("long").as("_d"))
    val one = v.agg(count(lit(1)).as("n_units"),
      coalesce(sum(when(col("_d") =!= 0, 1L).otherwise(0L)), lit(0L))
        .as("n_nonzero"),
      coalesce(sum(when(col("_d") > 0, 1L).otherwise(0L)), lit(0L))
        .as("n_pos"))
    val nd = col("n_nonzero").cast("double")
    val z = (lit(2.0) * col("n_pos").cast("double") - nd) / sqrt(nd)
    one.select(col("n_units"), col("n_nonzero"), col("n_pos"),
      (col("n_nonzero") - col("n_pos")).as("n_neg"),
      when(col("n_nonzero") > 0,
        floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  def wilcoxonSignedRank(df: DataFrame, diffCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(diffCol.isNotNull)
      .select(diffCol.cast("long").as("_d"))
    val nAll = v.agg(count(lit(1)).as("n_units"))
    val hist = v.filter(col("_d") =!= 0)
      .groupBy(abs(col("_d")).as("_ad"))
      .agg(count(lit(1)).as("_c"),
        sum(when(col("_d") > 0, 1L).otherwise(0L)).as("_cp"))
    val withM2 = GlobalRank.weightedPrefixSums(hist, "_ad", "_c", "_pfx")
      .select(col("_c"), col("_cp"),
        (lit(2L) * col("_pfx") + col("_c") + lit(1L)).as("_m2"))
    val agg = withM2.agg(
      coalesce(sum(col("_c")), lit(0L)).as("n_nonzero"),
      coalesce(sum(col("_cp")), lit(0L)).as("n_pos"),
      coalesce(sum(col("_cp").cast(dec) * col("_m2").cast(dec)),
        lit(0).cast(dec)).as("_w2"),
      coalesce(sum(col("_c").cast(dec) * col("_c").cast(dec) *
        col("_c").cast(dec) - col("_c").cast(dec)), lit(0).cast(dec))
        .as("_tt"))
    val nd = col("n_nonzero").cast("double")
    val varW = nd * (nd + 1) * (lit(2.0) * nd + 1) / 6 -
      col("_tt").cast("double") / 12
    val z = (col("_w2").cast("double") - nd * (nd + 1) / 2) / sqrt(varW)
    val ok = col("n_nonzero") > 0 && varW > 0
    nAll.crossJoin(broadcast(agg)).select(
      col("n_units"), col("n_nonzero"), col("n_pos"),
      (col("n_nonzero") - col("n_pos")).as("n_neg"),
      when(ok, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  def mannWhitneyU(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val perValue = sided(a, 0).unionAll(sided(b, 1))
      .groupBy(col("_v"))
      .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_cb"))
    val withM2 = GlobalRank.weightedPrefixSums(
        perValue.withColumn("_ct", col("_ca") + col("_cb")),
        "_v", "_ct", "_pfx")
      .select(col("_ca"), col("_cb"), col("_ct"),
        (lit(2L) * col("_pfx") + col("_ct") + lit(1L)).as("_m2"))
    val na = col("n_a").cast(dec)
    val nb = col("n_b").cast(dec)
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val nd = nad + nbd
    // 2U as exact DECIMAL, then the double chain once
    val u2 = (col("_r2") - na * (na + lit(1))).as("u2d")
    val moments = withM2.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      coalesce(sum(col("_ca").cast(dec) * col("_m2").cast(dec)),
        lit(0).cast(dec)).as("_r2"),
      coalesce(sum(col("_ct").cast(dec) * col("_ct").cast(dec) *
        col("_ct").cast(dec) - col("_ct").cast(dec)),
        lit(0).cast(dec)).as("_t3"))
    val ud = col("u2d").cast("double") / 2
    val sigma2 = nad * nbd / 12 *
      ((nd + 1) - col("_t3").cast("double") / (nd * (nd - 1)))
    moments
      .select(col("n_a"), col("n_b"), col("_t3"), u2)
      .select(col("n_a"), col("n_b"),
        col("u2d").cast("long").as("u2"),
        // guard the integer cast: an empty side makes the rate NaN, and
        // ANSI mode turns floor(NaN).cast(long) into a throw
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(ud / (nad * nbd) * 10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("auc_bp"),
        when(col("n_a") > 0 && col("n_b") > 0 && sigma2 > 0,
          r4((ud - nad * nbd / 2) / sqrt(sigma2)))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Precision/recall/F1 threshold sweep — the operating-characteristic
    * table behind every filter-threshold decision: for each candidate
    * cut b/B over a rational score num/den, the confusion masses and
    * rates of the rule "keep when score lands in bin >= b" (bins drawn
    * exactly like [[calibrationReport]]: integral division, no float
    * boundary). [[graft.operators.Ranking.scoreAuc]] says whether the
    * signal separates at all; THIS says which threshold to ship. One row
    * per threshold: (thr_bin, tp, fp, fn, precision_bp, recall_bp,
    * f1_bp) — masses BIGINT, rates basis points, null where undefined
    * (no predicted positives / no labeled positives).
    *
    * Scale shape: one map-side projection + ONE bin-keyed hash aggregate
    * (the only exchange carries B bins); the per-threshold suffix sums
    * run as in-row folds over the collected B-row bin array (the
    * calibrationSummary idiom) and explode into the B-row report — no
    * window, no non-equi join.
    */
  def prCurve(
      df: DataFrame,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 1 && bins <= 1000, "2 <= bins <= 1000")
    val rows = df
      .filter(scoreNum.isNotNull && scoreDen.isNotNull && label.isNotNull &&
        scoreDen.cast("long") > 0)
      .select(
        greatest(lit(0L), least(scoreNum.cast("long"), scoreDen.cast("long")))
          .as("_num"),
        scoreDen.cast("long").as("_den"),
        label.cast("boolean").as("_y"))
    val binned = rows.selectExpr(
      s"least(CAST(${bins - 1} AS BIGINT), " +
        s"CAST(_num AS DECIMAL(38,0)) * $bins div CAST(_den AS DECIMAL(38,0))) AS bin",
      "CASE WHEN _y THEN 1 ELSE 0 END AS _pos")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("_n"), sum(col("_pos")).as("_np"))
    val one = binned.groupBy().agg(
      sort_array(collect_list(struct(col("bin"), col("_n"), col("_np"))))
        .as("bs"),
      coalesce(sum(col("_np")), lit(0L)).as("_p"))
    def suffix(b: Column, f: Column => Column): Column =
      aggregate(col("bs"), lit(0L), (acc, e) =>
        acc + when(e.getField("bin") >= b, f(e)).otherwise(lit(0L)))
    val entries = transform(
      sequence(lit(0L), lit((bins - 1).toLong)),
      b => struct(
        b.as("thr_bin"),
        suffix(b, e => e.getField("_np")).as("tp"),
        suffix(b, e => e.getField("_n") - e.getField("_np")).as("fp")))
    def bp(numC: Column, denC: Column) =
      when(denC > 0,
        floor(numC.cast("double") / denC.cast("double") * 10000 + lit(0.5))
          .cast("long"))
        .otherwise(lit(null).cast("long"))
    one
      .select(col("_p"), explode(entries).as("e"))
      .select(col("e.thr_bin").as("thr_bin"),
        col("e.tp").as("tp"), col("e.fp").as("fp"),
        (col("_p") - col("e.tp")).as("fn"),
        bp(col("e.tp"), col("e.tp") + col("e.fp")).as("precision_bp"),
        bp(col("e.tp"), col("_p")).as("recall_bp"),
        bp(lit(2L) * col("e.tp"),
          lit(2L) * col("e.tp") + col("e.fp") + (col("_p") - col("e.tp")))
          .as("f1_bp"))
  }

  /** Exact two-sample 1-Wasserstein (earth mover's) distance
    * (Monge 1781 / Kantorovich 1942; in one dimension
    * W₁ = ∫|F_a − F_b| dx, Vallender 1974) — the "how much mass moved,
    * and HOW FAR?" metric that completes the two-sample family: KS
    * reports the worst CDF gap but not its extent, PSI is bin-relative,
    * U is rank-only; W₁ is the transport cost in VALUE units (plus a
    * range-normalized basis-point rendering for dashboards). One row:
    * (n_a, n_b, w1, w1_norm_bp).
    *
    * Exactness: over sorted distinct values,
    * W₁ = Σ_i |F_a(v_i) − F_b(v_i)|·(v_{i+1} − v_i); each |·| numerator
    * is the EXACT integer cross-mass |cum_a·n_b − cum_b·n_a| (the ksTest
    * discipline), each per-gap term quantizes floor(term·2²⁰) into an
    * integer sum (the q203 fixed-point discipline — a raw double sum
    * across the value axis would be order-dependent), and the display
    * divisions happen once at the end, floor-rounded.
    *
    * Scale shape: one union + one value-keyed hash agg (the only
    * corpus-wide exchange), three bounded prefix-sum passes over the
    * distinct-value table (two cumulative masses + one positional
    * index), one index equi-join for the next-value gap, one single-row
    * sum. No window ever spans more than a range bucket.
    */
  def wassersteinDistance(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (spineIx, tots) = GlobalRank.weightedPrefixSumsMulti(
      sided(a, 0).unionAll(sided(b, 1))
        .groupBy(col("_v"))
        .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_ca"),
          sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_cb"))
        .withColumn("_one", lit(1L)),
      "_v", Seq("_ca" -> "_xa", "_cb" -> "_xb", "_one" -> "_ix"))
    val cums = spineIx
      .select(col("_v"), col("_ix"),
        (col("_xa") + col("_ca")).as("_cuma"),
        (col("_xb") + col("_cb")).as("_cumb"))
    val nxt = cums.select((col("_ix") - 1).as("_ix"), col("_v").as("_vn"))
    // side totals from the fused offsets pass; min/max re-read the
    // persisted spine (distinct-value-sized), never the corpus subtree
    val totals = totalsRow(a.sparkSession, tots(0), tots(1))
      .crossJoin(spineIx.agg(
        min(col("_v")).as("_vmin"), max(col("_v")).as("_vmax")))
    val nad = col("_na").cast("double")
    val nbd = col("_nb").cast("double")
    val num = abs(col("_cuma").cast(dec) * col("_nb").cast(dec) -
      col("_cumb").cast(dec) * col("_na").cast(dec))
    val term = floor(num.cast("double") * (col("_vn") - col("_v")) /
      (nad * nbd) * 1048576).cast("long")
    val w1d = col("_s2").cast("double") / 1048576
    cums
      .join(nxt, "_ix") // inner: the last value's CDF gap is zero anyway
      .crossJoin(broadcast(totals))
      // aggregate ONLY the gap mass here: with < 2 distinct pooled values
      // the gap join is empty, and a first(_na) over zero rows would
      // report NULL counts while the oracle's totals CTE reports the real
      // ones — so n_a/n_b/vmin/vmax come from the totals row AFTER the
      // aggregation, unconditionally
      .agg(coalesce(sum(term), lit(0L)).as("_s2"))
      .crossJoin(broadcast(totals))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        r4(w1d).as("w1"),
        when(col("_vmax") > col("_vmin"),
          floor(w1d / (col("_vmax") - col("_vmin")) * 10000 + lit(0.5))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("w1_norm_bp"))
  }

  /** Spearman rank correlation with exact tie midranks (Spearman 1904;
    * the tie form = Pearson over midranks) — the "do these two quality
    * signals rank documents the same way?" audit that decides whether a
    * cheap signal can replace an expensive one. Reported with the row
    * count and floor-form 4-digit rounding.
    *
    * Exactness: rows collapse FIRST to the joint (x, y) value histogram
    * — every Spearman moment is a function of (m2_x(x), m2_y(y))
    * weighted by the pair count, so the row axis never enters the rank
    * machinery at all. Each axis's integer DOUBLED midrank (the
    * [[graft.operators.Ranking.scoreAuc]] idiom — Spearman is
    * affine-invariant in the ranks, so 2·midrank keeps every moment an
    * exact integer) comes straight from the marginal value histogram:
    * with c values strictly below and a tie class of size k,
    * min(rank) = c+1 and max(rank) = c+k, so
    * m2 = min+max = 2·prefix + count + 1 — one
    * [[GlobalRank.weightedPrefixSums]] pass over a distinct-value-sized
    * frame per axis, no row-level rank pass and no id join (the r13
    * verdict's efficiency item). All five moments sum count-weighted as
    * DECIMAL(38,0) before ONE double expression at the end — so the
    * oracle (which replays the row-level min+max midrank form) matches
    * bit-for-bit.
    *
    * Scale shape: ONE row-level hash aggregate (the joint histogram,
    * persisted — Bench/Verify clear caches between queries); everything
    * downstream — two marginal histograms, two bounded prefix-sum
    * passes, two equi-joins, one single-row moment aggregate — carries
    * distinct values or distinct pairs only.
    */
  /** In-process tier of [[spearmanCorrelation]]: marginal doubled
    * midranks + the five moments folded from the bounded joint (x, y, c)
    * histogram.
    */
  private def spearmanLocal(
      joint: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = true),
      StructField("rho", DoubleType, nullable = true)))
    BoundedCells.fold(joint, cellLimit, schema)(spearmanFold)
  }

  private def spearmanFold(
      cells: Array[org.apache.spark.sql.Row]): Option[Seq[org.apache.spark.sql.Row]] = {
    if (cells.isEmpty) return None
    // marginal doubled midranks: m2 = 2·prefix + count + 1 per axis
    def m2Of(get: org.apache.spark.sql.Row => Double): Map[Double, Long] = {
      val hist = scala.collection.mutable.Map[Double, Long]()
      cells.foreach(r => hist(get(r)) = hist.getOrElse(get(r), 0L) + r.getLong(2))
      val vs = hist.keys.toArray.sorted
      var pfx = 0L
      vs.iterator.map { v =>
        val c = hist(v)
        val m2 = 2L * pfx + c + 1L
        pfx += c
        v -> m2
      }.toMap
    }
    val mx = m2Of(_.getDouble(0))
    val my = m2Of(_.getDouble(1))
    var n = 0L
    var sx = BigInt(0); var sy = BigInt(0)
    var sxx = BigInt(0); var syy = BigInt(0); var sxy = BigInt(0)
    cells.foreach { r =>
      val c = BigInt(r.getLong(2))
      val ax = BigInt(mx(r.getDouble(0)))
      val ay = BigInt(my(r.getDouble(1)))
      n += r.getLong(2)
      sx += c * ax
      sy += c * ay
      sxx += c * ax * ax
      syy += c * ay * ay
      sxy += c * ax * ay
    }
    val nD = n.toDouble
    val den = math.sqrt((nD * decD(sxx) - decD(sx) * decD(sx)) *
      (nD * decD(syy) - decD(sy) * decD(sy)))
    // a constant axis makes the denominator 0.0 — under ANSI the
    // distributed chain THROWS there; defer so the degenerate's error
    // behavior stays identical
    if (den == 0.0) return None
    val rho = floorL((nD * decD(sxy) - decD(sx) * decD(sy)) / den
      * 10000 + 0.5).toDouble / 10000
    Some(Seq(org.apache.spark.sql.Row(n, rho)))
  }

  def spearmanCorrelation(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      idCol: String,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df
      .filter(xCol.isNotNull && yCol.isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("_id"),
        xCol.cast("double").as("_x"), yCol.cast("double").as("_y"))
    // referenced three times (both marginals + the moment base) — the
    // gate persists it, so the row-level aggregate runs once
    val joint = v.groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_c"))
    val localSp = spearmanLocal(joint, localSpineLimit)
    if (localSp.isDefined) return localSp.get
    def m2Table(valCol: String, out: String): DataFrame = {
      val hist = joint.groupBy(col(valCol)).agg(sum(col("_c")).as("_hc"))
      GlobalRank.weightedPrefixSums(hist, valCol, "_hc", "_hp")
        .select(col(valCol),
          (lit(2L) * col("_hp") + col("_hc") + lit(1L)).as(out))
    }
    // the two marginal midrank tables are independent and each submits
    // bounded driver jobs at construction (range sample + offsets collect)
    // — build them concurrently off the shared persisted joint histogram
    // (guide §2.6 overlap; BlockManager computes each cached partition
    // once under its per-block lock, so the race is safe)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val mxF = Future(m2Table("_x", "_mx"))
    val myF = Future(m2Table("_y", "_my"))
    val Seq(mx, my) = Await.result(
      Future.sequence(Seq(mxF, myF)), Duration.Inf)
    val joined = joint
      .join(mx, "_x")
      .join(my, "_y")
    val d = (c: Column) => c.cast("double")
    val cw = col("_c").cast(dec)
    joined.agg(
      coalesce(sum(col("_c")), lit(0L)).as("n"),
      sum(cw * col("_mx").cast(dec)).as("_sx"),
      sum(cw * col("_my").cast(dec)).as("_sy"),
      // products in DECIMAL: m2 ≤ 2n and c ≤ n, so c·m2² ≤ 4n³ — a long
      // overflows (ANSI throw) already around n ≈ 1.5e9 rows
      sum(cw * col("_mx").cast(dec) * col("_mx").cast(dec)).as("_sxx"),
      sum(cw * col("_my").cast(dec) * col("_my").cast(dec)).as("_syy"),
      sum(cw * col("_mx").cast(dec) * col("_my").cast(dec)).as("_sxy"))
      .select(col("n"),
        (floor((d(col("n")) * d(col("_sxy")) - d(col("_sx")) * d(col("_sy"))) /
          sqrt((d(col("n")) * d(col("_sxx")) - d(col("_sx")) * d(col("_sx"))) *
            (d(col("n")) * d(col("_syy")) - d(col("_sy")) * d(col("_sy"))))
          * 10000 + lit(0.5)) / 10000).as("rho"))
  }

  /** Two-proportion z comparison — the A/B answer [[wilsonInterval]]'s
    * per-group CIs only hint at: "did the pass rate actually DIFFER
    * between these two slices?", with the pooled two-proportion z
    * statistic (the standard large-sample test). One row:
    * (n_a, k_a, n_b, k_b, rate_a_bp, rate_b_bp, diff_bp, z) — masses
    * BIGINT, rates and the signed difference in basis points, z
    * floor-rounded, null when the pooled rate degenerates (all pass or
    * none) or a side is empty.
    *
    * Scale shape: one single-row conditional aggregate per side (map-side
    * partials; nothing but two counters per side crosses the shuffle),
    * one broadcast meet. Every displayed number derives from the four
    * integer masses in one double chain.
    */
  /** Cohen's h — the effect size for two proportions (Cohen 1988 §6:
    * h = 2·arcsin√p₁ − 2·arcsin√p₂, the arcsine-stabilized difference
    * whose 0.2/0.5/0.8 small/medium/large conventions transfer across
    * rates the raw difference can't — a 2-point gap at 50% and at 2%
    * are different effects, and [[proportionDiff]]'s z only says
    * whether, not how big; the proportion sibling of the X257
    * effect-size layer). One row:
    * (n_a, n_b, k_a, k_b, rate_a_bp, rate_b_bp, h_bp) — h signed
    * BIGINT basis points.
    *
    * Rates are single divisions of exact integer masses; the h chain
    * (two asin, one subtraction) is spelled once on both engines.
    * Empty sides null the displays.
    *
    * Scale shape: [[proportionDiff]]'s — two single-row conditional
    * aggregates and one broadcast cross.
    */
  def cohensH(
      a: DataFrame,
      b: DataFrame,
      passCol: Column): DataFrame = {
    def side(d: DataFrame, n: String, k: String) = d
      .agg(count(lit(1)).as(n),
        coalesce(sum(when(passCol, 1L).otherwise(0L)), lit(0L)).as(k))
    val one = side(a, "n_a", "k_a").crossJoin(broadcast(side(b, "n_b", "k_b")))
    val pa = col("k_a").cast("double") / col("n_a").cast("double")
    val pb = col("k_b").cast("double") / col("n_b").cast("double")
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, c: Column) =
      when(cond, bp(c)).otherwise(lit(null).cast("long"))
    one.select(col("n_a"), col("n_b"), col("k_a"), col("k_b"),
      guard(col("n_a") > 0, pa).as("rate_a_bp"),
      guard(col("n_b") > 0, pb).as("rate_b_bp"),
      guard(col("n_a") > 0 && col("n_b") > 0, h).as("h_bp"))
  }

  /** Gwet's AC1 agreement coefficient (Gwet 2008, "Computing inter-rater
    * reliability and its variance in the presence of high agreement" —
    * the kappa-paradox-robust alternative: on prevalent categories
    * Cohen's kappa collapses toward 0 under near-perfect raw agreement
    * because its chance term inherits the margins; AC1's chance term
    * Σπ_c(1−π_c)/(k−1) uses only the POOLED prevalence, so it stays
    * interpretable exactly where kappa misleads — the two are reported
    * side by side in annotation QA). Two raters, categorical. One row:
    * (n, k_cats, po_bp, pe_bp, ac1_bp).
    *
    * po and each pooled prevalence are exact integer rationals; pe folds
    * π(1−π) in sorted category order (bounded list, the house sorted-
    * fold discipline), and AC1 = (po − pe)/(1 − pe) is one chain.
    * pe = 1 (single shared category) nulls.
    *
    * Scale shape: ONE (a, b) contingency hash agg (classes² keys)
    * collapses the corpus map-side; the rest is a one-row fold.
    */
  def gwetAc1(df: DataFrame, colA: Column, colB: Column): DataFrame = {
    val v = df.filter(colA.isNotNull && colB.isNotNull)
      .select(colA.as("_a"), colB.as("_b"))
    val ct = v.groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("c"))
    val one = ct.agg(
      sort_array(collect_list(struct(col("_a"), col("_b"), col("c"))))
        .as("cs"),
      coalesce(sum(col("c")), lit(0L)).as("n"),
      coalesce(sum(when(col("_a") === col("_b"), col("c"))
        .otherwise(lit(0L))), lit(0L)).as("_agree"))
      .withColumn("_cats", sort_array(array_distinct(concat(
        transform(col("cs"), e => e.getField("_a")),
        transform(col("cs"), e => e.getField("_b"))))))
      .withColumn("_k", size(col("_cats")))
    val nd = col("n").cast("double")
    // pooled prevalence of category c: (row mass + column mass) / 2n
    def mass(keyField: String, key: Column): Column =
      aggregate(col("cs"), lit(0L), (acc, e) =>
        acc + when(e.getField(keyField) === key, e.getField("c"))
          .otherwise(lit(0L)))
    val pe = aggregate(col("_cats"), lit(0.0), (acc, cat) => {
      val pi = (mass("_a", cat) + mass("_b", cat)).cast("double") /
        (lit(2.0) * nd)
      acc + pi * (lit(1.0) - pi)
    }) / (col("_k").cast("double") - 1)
    val po = col("_agree").cast("double") / nd
    val ac1 = (po - pe) / (lit(1.0) - pe)
    val ok = col("n") > 0 && col("_k") > 1
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    one.select(col("n"), col("_k").cast("long").as("k_cats"),
      when(col("n") > 0, bp(po)).otherwise(lit(null).cast("long"))
        .as("po_bp"),
      when(ok, bp(pe)).otherwise(lit(null).cast("long")).as("pe_bp"),
      when(ok, bp(ac1)).otherwise(lit(null).cast("long")).as("ac1_bp"))
  }

  def proportionDiff(
      a: DataFrame,
      b: DataFrame,
      pass: Column): DataFrame = {
    def side(d: DataFrame, np: String, kp: String) = d
      .filter(pass.isNotNull)
      .agg(count(lit(1)).as(np),
        coalesce(sum(when(pass, 1L).otherwise(0L)), lit(0L)).as(kp))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val kad = col("k_a").cast("double")
    val kbd = col("k_b").cast("double")
    val pp = (kad + kbd) / (nad + nbd)
    val z = (kad / nad - kbd / nbd) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / nad + lit(1.0) / nbd))
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    side(a, "n_a", "k_a").crossJoin(broadcast(side(b, "n_b", "k_b")))
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        when(col("n_a") > 0, bp(kad / nad))
          .otherwise(lit(null).cast("long")).as("rate_a_bp"),
        when(col("n_b") > 0, bp(kbd / nbd))
          .otherwise(lit(null).cast("long")).as("rate_b_bp"),
        when(col("n_a") > 0 && col("n_b") > 0, bp(kad / nad - kbd / nbd))
          .otherwise(lit(null).cast("long")).as("diff_bp"),
        when(col("n_a") > 0 && col("n_b") > 0 &&
          col("k_a") + col("k_b") > 0 &&
          col("k_a") + col("k_b") < col("n_a") + col("n_b"), r4(z))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** McNemar's test for PAIRED decision rules (McNemar 1947) — "the new
    * filter and the old filter disagree on some documents; is the
    * disagreement BIASED in one direction, or just noise?" — the audit
    * for replacing one keep-rule with another, where [[proportionDiff]]
    * (unpaired slices) would throw away the pairing. One row:
    * (n, n_both, n_only_a, n_only_b, n_neither, chi2, chi2_cc) — the
    * four decision masses BIGINT, the statistic (b−c)²/(b+c) and its
    * continuity-corrected form (|b−c|−1)²/(b+c), both floor-rounded,
    * null when the rules never disagree.
    *
    * Scale shape: ONE single-row conditional aggregate (four map-side
    * counters); the statistics are one double chain over two integers.
    */
  def mcnemarTest(
      df: DataFrame,
      ruleA: Column,
      ruleB: Column): DataFrame = {
    val bd = col("n_only_a").cast("double")
    val cd = col("n_only_b").cast("double")
    df.filter(ruleA.isNotNull && ruleB.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(ruleA && ruleB, 1L).otherwise(0L)), lit(0L))
          .as("n_both"),
        coalesce(sum(when(ruleA && !ruleB, 1L).otherwise(0L)), lit(0L))
          .as("n_only_a"),
        coalesce(sum(when(!ruleA && ruleB, 1L).otherwise(0L)), lit(0L))
          .as("n_only_b"),
        coalesce(sum(when(!ruleA && !ruleB, 1L).otherwise(0L)), lit(0L))
          .as("n_neither"))
      .select(col("n"), col("n_both"), col("n_only_a"), col("n_only_b"),
        col("n_neither"),
        when(col("n_only_a") + col("n_only_b") > 0,
          r4((bd - cd) * (bd - cd) / (bd + cd)))
          .otherwise(lit(null).cast("double")).as("chi2"),
        when(col("n_only_a") + col("n_only_b") > 0,
          r4((abs(bd - cd) - 1) * (abs(bd - cd) - 1) / (bd + cd)))
          .otherwise(lit(null).cast("double")).as("chi2_cc"))
  }

  /** Categorical association card — chi-square, the G-test, and
    * Cramér's V in one pass ([[chiSquareIndependence]] reports the raw
    * χ² per cell; this is the summary the mixing decision actually
    * reads: G = 2Σ O·ln(O/E) is the likelihood-ratio twin (additive
    * across partitions, the better-behaved statistic on sparse tables —
    * Sokal & Rohlf §17.2), and Cramér's V = √(χ²/(n·(min(k_a,k_b)−1)))
    * (Cramér 1946) is the [0, 1] effect size that makes association
    * magnitudes comparable across tables where raw χ² scales with n).
    * One row: (n, k_a, k_b, dof, chi2_bp, g_bp, cramers_v_bp).
    *
    * Float discipline: the densified A×B cell list (absent cells carry
    * observed 0 but positive expected mass — they MUST contribute to
    * χ², the chiSquareIndependence lesson) collects sorted WITH integer
    * margins attached (the uncertaintyCoefficient shape), so every χ²/G
    * term folds in ascending (a, b) order from exact integer inputs;
    * G's o·ln(o/e) terms skip o = 0 cells (lim x·ln x = 0).
    *
    * Scale shape: one contingency hash agg (bounded by label arities),
    * two margin aggregates re-entering as broadcasts, one single-row
    * fold. No row-level window or join.
    */
  def associationCard(
      df: DataFrame,
      aCol: Column,
      bCol: Column): DataFrame = {
    val observed = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("_a"), bCol.as("_b"))
      .agg(count(lit(1)).as("_o"))
    val cells = observed.select(col("_a")).distinct()
      .crossJoin(observed.select(col("_b")).distinct())
      .join(observed, Seq("_a", "_b"), "left")
      .select(col("_a"), col("_b"), coalesce(col("_o"), lit(0L)).as("_o"))
    val ma = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_ra"))
    val mb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_cb"))
    val one = cells
      .join(broadcast(ma), "_a").join(broadcast(mb), "_b")
      .groupBy()
      .agg(sort_array(collect_list(struct(
        col("_a"), col("_b"), col("_o"), col("_ra"), col("_cb")))).as("cs"),
        coalesce(sum(col("_o")), lit(0L)).as("n"),
        countDistinct(col("_a")).as("k_a"),
        countDistinct(col("_b")).as("k_b"))
    val nn = col("n").cast("double")
    def oE(e: Column) = e.getField("_o").cast("double")
    def expE(e: Column) =
      e.getField("_ra").cast("double") * e.getField("_cb").cast("double") / nn
    val chi2 = aggregate(col("cs"), lit(0.0), (a, e) =>
      a + (expE(e) - oE(e)) * (expE(e) - oE(e)) / expE(e))
    val g = lit(2.0) * aggregate(col("cs"), lit(0.0), (a, e) =>
      a + when(e.getField("_o") > 0, oE(e) * log(oE(e) / expE(e)))
        .otherwise(lit(0.0)))
    val minK = least(col("k_a"), col("k_b")).cast("double")
    val vC = sqrt(chi2 / (nn * (minK - 1)))
    val dof = (col("k_a") - 1) * (col("k_b") - 1)
    val ok = col("n") > 0 && col("k_a") > 1 && col("k_b") > 1
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(c: Column) = when(ok, bp(c)).otherwise(lit(null).cast("long"))
    one.select(col("n"), col("k_a"), col("k_b"),
      when(ok, dof).otherwise(lit(null).cast("long")).as("dof"),
      guard(chi2).as("chi2_bp"), guard(g).as("g_bp"),
      guard(vC).as("cramers_v_bp"))
  }

  /** 2×2 association card — odds ratio and risk ratio with Woolf/Katz
    * log-scale confidence intervals (Woolf 1955; Katz et al. 1978 — the
    * everyday exposure-outcome read beside [[mantelHaenszel]]'s
    * STRATIFIED common OR: one table, both effect measures, and the
    * interval that says whether "weekend purchases are 1.3× likelier"
    * is evidence or noise). One row: (n_11, n_10, n_01, n_00, or_bp,
    * or_lo_bp, or_hi_bp, rr_bp, rr_lo_bp, rr_hi_bp) with
    * OR = ad/bc, RR = (a/(a+b))/(c/(c+d)), CI = exp(ln R ± z·SE),
    * SE_lnOR = √(1/a+1/b+1/c+1/d), SE_lnRR = √(1/a − 1/(a+b) + 1/c −
    * 1/(c+d)).
    *
    * Exactness: the four masses are one conditional aggregate; OR and
    * RR are single divisions of exact integers, and each CI chain is
    * spelled once (exp/ln/√ on both engines). Any empty margin or zero
    * cell nulls the affected displays (the classical card refuses to
    * continuity-fudge — callers who want Haldane-Anscombe +0.5 can add
    * it upstream, visibly). The guards are measure-specific: the OR
    * family (ratio + Woolf interval) needs all four cells positive,
    * while the RR family (ratio + Katz interval) needs only a > 0 and
    * c > 0 — b = 0 or d = 0 merely zeroes the Katz SE's terms.
    *
    * Scale shape: ONE single-row conditional aggregate (four map-side
    * counters); everything after is scalar arithmetic.
    */
  def twoByTwoCard(
      df: DataFrame,
      exposureCol: Column,
      outcomeCol: Column,
      zCrit: Double = 1.96): DataFrame = {
    require(zCrit > 0, "zCrit is a two-sided normal quantile, > 0")
    val v = df.filter(exposureCol.isNotNull && outcomeCol.isNotNull)
      .select(exposureCol.as("_x"), outcomeCol.as("_y"))
    val one = v.agg(
      coalesce(sum(when(col("_x") && col("_y"), 1L).otherwise(0L)), lit(0L))
        .as("n_11"),
      coalesce(sum(when(col("_x") && !col("_y"), 1L).otherwise(0L)), lit(0L))
        .as("n_10"),
      coalesce(sum(when(!col("_x") && col("_y"), 1L).otherwise(0L)), lit(0L))
        .as("n_01"),
      coalesce(sum(when(!col("_x") && !col("_y"), 1L).otherwise(0L)),
        lit(0L)).as("n_00"))
    val a = col("n_11").cast("double")
    val b = col("n_10").cast("double")
    val c = col("n_01").cast("double")
    val d = col("n_00").cast("double")
    val orR = a * d / (b * c)
    val seOr = sqrt(lit(1.0) / a + lit(1.0) / b + lit(1.0) / c +
      lit(1.0) / d)
    val rr = (a / (a + b)) / (c / (c + d))
    val seRr = sqrt(lit(1.0) / a - lit(1.0) / (a + b) + lit(1.0) / c -
      lit(1.0) / (c + d))
    val okOr = col("n_11") > 0 && col("n_10") > 0 && col("n_01") > 0 &&
      col("n_00") > 0
    val okRr = col("n_11") > 0 && col("n_01") > 0
    def bp(e: Column) = floor(e * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, e: Column) =
      when(cond, bp(e)).otherwise(lit(null).cast("long"))
    one.select(col("n_11"), col("n_10"), col("n_01"), col("n_00"),
      guard(okOr, orR).as("or_bp"),
      guard(okOr, exp(log(orR) - lit(zCrit) * seOr)).as("or_lo_bp"),
      guard(okOr, exp(log(orR) + lit(zCrit) * seOr)).as("or_hi_bp"),
      guard(okRr, rr).as("rr_bp"),
      // RR-specific interval guard (r15 ADVICE): the Katz SE
      // √(1/a − 1/(a+b) + 1/c − 1/(c+d)) is finite whenever a > 0 and
      // c > 0 — b = 0 or d = 0 only zeroes its terms — so the risk
      // ratio's CI ships under okRr, unlike the odds ratio's Woolf SE
      // which needs all four cells
      guard(okRr, exp(log(rr) - lit(zCrit) * seRr)).as("rr_lo_bp"),
      guard(okRr, exp(log(rr) + lit(zCrit) * seRr)).as("rr_hi_bp"))
  }

  /** Stuart–Maxwell marginal-homogeneity test for 3 ordinal categories
    * (Stuart 1955 / Maxwell 1970 — [[mcnemarTest]] generalized past 2×2:
    * two banded raters/runs disagree document by document; did the BAND
    * DISTRIBUTION itself shift between them? — the audit for swapping
    * one banding rule for another, where per-band proportion tests throw
    * away the pairing). One row: (n, d1, d2, chi2_bp, p_bp) with
    * d_i = row_i − col_i for categories 1 and 2 (Σd = 0 makes the third
    * redundant; the statistic is invariant to the dropped category),
    * χ² = d'S⁻¹d on 2 dof — and dof 2 is EVEN, so p = exp(−χ²/2) is
    * closed form (the jarqueBera precedent).
    *
    * Exactness: for k = 3 the 2×2 covariance inverse is closed form, so
    * χ² = (d₁²·S₂₂ − 2d₁d₂·S₁₂ + d₂²·S₁₁) / (S₁₁S₂₂ − S₁₂²) with
    * S_ii = r_i + c_i − 2n_ii and S₁₂ = −(n₁₂ + n₂₁) — every term an
    * exact DECIMAL(38,0) integer, ONE division. Categories must be
    * integer-coded 0/1/2; a singular covariance (det ≤ 0 — e.g. a band
    * absent from both raters) reports NULL displays.
    *
    * Scale shape: ONE (a, b) contingency hash agg (≤ 9 keys) collapses
    * the corpus map-side; the rest is a one-row fold.
    */
  def stuartMaxwell(df: DataFrame, colA: Column, colB: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ct = df.filter(colA.isNotNull && colB.isNotNull)
      .groupBy(colA.cast("long").as("_a"), colB.cast("long").as("_b"))
      .agg(count(lit(1)).as("c"))
    val one = ct.agg(
      sort_array(collect_list(struct(col("_a"), col("_b"), col("c"))))
        .as("cs"),
      coalesce(sum(col("c")), lit(0L)).as("n"),
      coalesce(max(greatest(col("_a"), col("_b"))), lit(0L)).as("_mx"),
      coalesce(min(least(col("_a"), col("_b"))), lit(0L)).as("_mn"))
    def mass(p: Column => Column): Column =
      aggregate(col("cs"), lit(0L), (a, e) => a + p(e))
    def cell(i: Int, j: Int): Column = mass(e =>
      when(e.getField("_a") === i && e.getField("_b") === j,
        e.getField("c")).otherwise(lit(0L)))
    def row(i: Int): Column = mass(e =>
      when(e.getField("_a") === i, e.getField("c")).otherwise(lit(0L)))
    def colM(i: Int): Column = mass(e =>
      when(e.getField("_b") === i, e.getField("c")).otherwise(lit(0L)))
    val d1 = row(1) - colM(1)
    val d2 = row(2) - colM(2)
    val s11 = (row(1) + colM(1) - lit(2L) * cell(1, 1)).cast(dec)
    val s22 = (row(2) + colM(2) - lit(2L) * cell(2, 2)).cast(dec)
    val s12 = (-(cell(1, 2) + cell(2, 1))).cast(dec)
    val num = d1.cast(dec) * d1.cast(dec) * s22 -
      lit(2).cast(dec) * d1.cast(dec) * d2.cast(dec) * s12 +
      d2.cast(dec) * d2.cast(dec) * s11
    val den = s11 * s22 - s12 * s12
    val chi2 = num.cast("double") / den.cast("double")
    val p = exp(-(chi2 / 2))
    val ok = col("n") > 0 && col("_mx") <= 2 && col("_mn") >= 0 && den > 0
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    one.select(col("n"),
      when(col("n") > 0, d1).otherwise(lit(null).cast("long")).as("d1"),
      when(col("n") > 0, d2).otherwise(lit(null).cast("long")).as("d2"),
      when(ok, bp(chi2)).otherwise(lit(null).cast("long")).as("chi2_bp"),
      when(ok, bp(p)).otherwise(lit(null).cast("long")).as("p_bp"))
  }

  /** Bowker's symmetry test (Bowker 1948 — the OTHER k×k McNemar
    * generalization: [[stuartMaxwell]] asks whether the two MARGINS
    * agree, Bowker asks the stronger cell-level question — is every
    * off-diagonal confusion balanced, n_ij ≈ n_ji? A banding swap can
    * hold the margins while systematically trading band-0↔2 for 2↔0;
    * only symmetry sees it). One row: (n, k_cats, df_b, chi2_bp) with
    * χ² = Σ_{i<j} (n_ij−n_ji)²/(n_ij+n_ji) over pairs with mass, df_b
    * the number of contributing pairs (zero-mass pairs contribute no
    * information — the standard convention; df may be odd, so the
    * statistic ships without p, the kruskalWallis precedent).
    *
    * Every term is a rational of exact integers folded in ascending
    * (i, j) pair order over the observed category list — engine-
    * replayable. Categories are integer codes (any arity).
    *
    * Scale shape: ONE (a, b) contingency hash agg (classes² keys)
    * collapses the corpus map-side; the rest is a one-row fold.
    */
  def bowkerTest(df: DataFrame, colA: Column, colB: Column): DataFrame = {
    val ct = df.filter(colA.isNotNull && colB.isNotNull)
      .groupBy(colA.cast("long").as("_a"), colB.cast("long").as("_b"))
      .agg(count(lit(1)).as("c"))
    val one = ct.agg(
      sort_array(collect_list(struct(col("_a"), col("_b"), col("c"))))
        .as("cs"),
      coalesce(sum(col("c")), lit(0L)).as("n"))
      .withColumn("_cats", sort_array(array_distinct(concat(
        transform(col("cs"), e => e.getField("_a")),
        transform(col("cs"), e => e.getField("_b"))))))
      .withColumn("_k", size(col("_cats")))
    def cellAt(i: Column, j: Column): Column =
      aggregate(col("cs"), lit(0L), (a, e) =>
        a + when(e.getField("_a") === i && e.getField("_b") === j,
          e.getField("c")).otherwise(lit(0L)))
    def catAt(i: Column) = element_at(col("_cats"), i.cast("int"))
    // ascending (i, j) pair walk over the observed category list: the
    // fold order is the spelled order on both engines
    val pairs = flatten(transform(sequence(lit(1), col("_k") - 1), i =>
      transform(sequence(i + 1, col("_k")), j =>
        struct(catAt(i).as("ci"), catAt(j).as("cj")))))
    val terms = transform(pairs, p => {
      val nij = cellAt(p.getField("ci"), p.getField("cj"))
      val nji = cellAt(p.getField("cj"), p.getField("ci"))
      struct((nij + nji).as("s"),
        ((nij - nji) * (nij - nji)).as("q"))
    })
    val chi2 = aggregate(col("_terms"), lit(0.0), (a, t) =>
      a + when(t.getField("s") > 0,
        t.getField("q").cast("double") / t.getField("s").cast("double"))
        .otherwise(lit(0.0)))
    val dfB = aggregate(col("_terms"), lit(0L), (a, t) =>
      a + when(t.getField("s") > 0, 1L).otherwise(0L))
    val withT = one.withColumn("_terms",
      // sequence(1, 0) would step DOWNWARD on a single category (the
      // bhAdjust lesson)
      when(col("_k") > 1, terms)
        .otherwise(array().cast("array<struct<s:bigint,q:bigint>>")))
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    withT.select(col("n"), col("_k").cast("long").as("k_cats"),
      when(col("_k") > 1 && dfB > 0, dfB)
        .otherwise(lit(null).cast("long")).as("df_b"),
      when(col("_k") > 1 && dfB > 0, bp(chi2))
        .otherwise(lit(null).cast("long")).as("chi2_bp"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for MORE
    * THAN TWO raters over a shared category space, what
    * [[graft.operators.Normalize.cohenKappa]] (pairwise) can't report:
    * "do the three cheap quality bands agree beyond their marginals?"
    * asked of all raters at once. One row:
    * (n, k_raters, p_bar, p_e, kappa), all statistics floor-rounded,
    * kappa null when chance agreement saturates.
    *
    * Exactness: with per-item category votes n_ij,
    * P̄ = (Σ_ij n_ij² − N·k)/(N·k·(k−1)) and P̄_e = Σ_j c_j²/(N·k)² clear
    * to INTEGER sums — Σ n_ij² is a per-row integer expression over the
    * fixed category range, the category totals c_j are k·C conditional
    * counters — so everything is one conditional aggregate and the
    * divisions happen once.
    *
    * Scale shape: ONE single-row aggregate with map-side partials
    * (C + 2 counters cross the shuffle); no join, no window.
    */
  def fleissKappa(
      df: DataFrame,
      raters: Seq[Column],
      numCategories: Int): DataFrame = {
    require(raters.size >= 2, "Fleiss needs at least 2 raters")
    require(numCategories >= 2 && numCategories <= 1000, "2 <= categories <= 1000")
    val k = raters.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df
      .filter(raters.map(_.isNotNull).reduce(_ && _))
      .select(raters.zipWithIndex.map { case (r, i) =>
        r.cast("long").as(s"_r$i") }: _*)
    def votes(j: Int): Column = raters.indices
      .map(i => when(col(s"_r$i") === j.toLong, 1L).otherwise(0L))
      .reduce(_ + _)
    val rowSumSq = (0 until numCategories)
      .map(j => votes(j) * votes(j)).reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).as("n"),
        coalesce(sum(rowSumSq), lit(0L)).as("_ss")) ++
        (0 until numCategories).map(j =>
          coalesce(sum(votes(j)), lit(0L)).as(s"_c$j"))
    val one = v.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    val kd = lit(k.toDouble)
    val pbar = (col("_ss").cast("double") - nd * kd) /
      (nd * kd * (kd - 1))
    val ce = (0 until numCategories)
      .map(j => col(s"_c$j").cast(dec) * col(s"_c$j").cast(dec))
      .reduce(_ + _)
    val pe = ce.cast("double") / (nd * kd * (nd * kd))
    one.select(
      col("n"), lit(k.toLong).as("k_raters"),
      when(col("n") > 0, r4(pbar)).otherwise(lit(null).cast("double"))
        .as("p_bar"),
      when(col("n") > 0, r4(pe)).otherwise(lit(null).cast("double"))
        .as("p_e"),
      when(col("n") > 0 &&
        ce =!= col("n").cast(dec) * lit(k) * (col("n").cast(dec) * lit(k)),
        r4((pbar - pe) / (lit(1.0) - pe)))
        .otherwise(lit(null).cast("double")).as("kappa"))
  }

  /** Intraclass correlation ICC(2,1) and ICC(2,k) (Shrout & Fleiss 1979
    * — the CONTINUOUS/interval reliability member the agreement shelf
    * lacks: kappa/AC1 are categorical, Kendall's W and alpha are
    * rank/distance forms; ICC is the two-way random-effects "how much
    * of the score variance is the document, not the rater?" — (2,1)
    * rates a single rater's score, (2,k) the k-rater average a pipeline
    * actually consumes). One row: (n, k_raters, icc21_bp, icc2k_bp).
    *
    * Exactness: the two-way ANOVA sums clear to exact DECIMAL(38,0)
    * integers under nk-scaling — nk·SS_rows = n·Σt² − G²,
    * nk·SS_cols = k·ΣΣ_j s_j² − G², nk·SS_tot = nk·Σx² − G² (t = row
    * totals, s_j = rater sums, G = grand total) — ONE single-row
    * aggregate carries k+3 counters; the MS/ICC chains are spelled once
    * from the integer inputs. Degenerate variance (a constant table)
    * nulls.
    *
    * Scale shape: one single-row aggregate with map-side partials;
    * nothing else touches the corpus.
    */
  def intraclassCorrelation(
      df: DataFrame,
      raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "ICC needs at least 2 raters")
    val k = raters.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(raters.map(_.isNotNull).reduce(_ && _))
      .select((raters.zipWithIndex.map { case (c, i) =>
        c.cast("long").as(s"_x$i") } :+
        raters.map(_.cast("long")).reduce(_ + _).as("_t")): _*)
    val aggs = Seq(
      count(lit(1)).as("n"),
      coalesce(sum(col("_t").cast(dec)), lit(0).cast(dec)).as("_g"),
      coalesce(sum(col("_t").cast(dec) * col("_t").cast(dec)),
        lit(0).cast(dec)).as("_tq"),
      coalesce(sum((0 until k).map(i =>
        col(s"_x$i").cast(dec) * col(s"_x$i").cast(dec)).reduce(_ + _)),
        lit(0).cast(dec)).as("_xq")) ++
      (0 until k).map(i =>
        coalesce(sum(col(s"_x$i").cast(dec)), lit(0).cast(dec)).as(s"_s$i"))
    val one = v.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast(dec)
    val kD = lit(k).cast(dec)
    val g2 = col("_g") * col("_g")
    val sq = (0 until k).map(i => col(s"_s$i") * col(s"_s$i")).reduce(_ + _)
    // nk-scaled sums of squares: exact integers
    val ssr = nD * col("_tq") - g2
    val ssc = kD * sq - g2
    val sst = nD * kD * col("_xq") - g2
    val sse = sst - ssr - ssc
    val nd = col("n").cast("double")
    val kd = lit(k.toDouble)
    // the nk scale cancels in every ratio: MS terms carry it uniformly
    val msr = ssr.cast("double") / (nd - 1)
    val msc = ssc.cast("double") / (kd - 1)
    val mse = sse.cast("double") / ((nd - 1) * (kd - 1))
    val icc21 = (msr - mse) /
      (msr + (kd - 1) * mse + kd / nd * (msc - mse))
    val icc2k = (msr - mse) / (msr + (msc - mse) / nd)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val den21 = msr + (kd - 1) * mse + kd / nd * (msc - mse)
    val den2k = msr + (msc - mse) / nd
    one.select(col("n"), lit(k.toLong).as("k_raters"),
      when(col("n") > 1 && den21 > 0, bp(icc21))
        .otherwise(lit(null).cast("long")).as("icc21_bp"),
      when(col("n") > 1 && den2k > 0, bp(icc2k))
        .otherwise(lit(null).cast("long")).as("icc2k_bp"))
  }

  /** Krippendorff's alpha, interval metric, complete ratings
    * (Krippendorff 1970/2004, δ(c,c') = (c−c')² — the agreement
    * coefficient annotation QA standardized on: [[fleissKappa]] treats
    * band 0-vs-2 like an adjacent miss and assumes its own chance model;
    * alpha weights misses by DISTANCE and its chance term comes from the
    * pooled value distribution, making it comparable across studies.
    * This is the complete-data form — every unit rated by the same m
    * raters, the shape the banded-rater audits produce; Krippendorff's
    * missing-data machinery is not needed there). One row:
    * (n, m_raters, k_vals, alpha_bp) with
    * α = 1 − D_o/D_e = 1 − N(N−1)·Σ_u Σ_{r≠r'}δ / (n·m(m−1)·Σ_{c,c'} n_c n_{c'} δ),
    * N = n·m pooled ratings.
    *
    * Exactness: the observed disagreement is a map-side integer per row
    * (2·Σ_{r<r'}(x_r−x_r')²), the expected term is the pooled-histogram
    * pair fold (the weightedKappa esum discipline), and α is ONE
    * division of two exact DECIMAL(38,0) integers. Unanimous-constant
    * corpora (D_e = 0) report NULL.
    *
    * Scale shape: one single-row conditional aggregate + one m-wide
    * explode into a values-bounded histogram — two corpus passes, no
    * join, no window.
    */
  def krippendorffAlpha(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "alpha needs at least 2 raters")
    val m = raters.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(raters.map(_.isNotNull).reduce(_ && _))
      .select(raters.zipWithIndex.map { case (c, i) =>
        c.cast("long").as(s"_x$i") }: _*)
    // ordered-pair disagreement per unit: 2·Σ_{r<r'} (x_r − x_r')²
    val pd = lit(2L) * (for (i <- 0 until m; j <- i + 1 until m) yield {
      val d = col(s"_x$i") - col(s"_x$j")
      d * d
    }).reduce(_ + _)
    val agg1 = v.agg(count(lit(1)).as("n"),
      coalesce(sum(pd.cast(dec)), lit(0).cast(dec)).as("_onum"))
    val pooled = v
      .select(explode(array((0 until m).map(i => col(s"_x$i")): _*)).as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      .agg(sort_array(collect_list(struct(col("_v"), col("_c")))).as("vs"),
        count(lit(1)).as("k_vals"))
    def vE(e: Column) = e.getField("_v")
    def cE(e: Column) = e.getField("_c").cast(dec)
    val esum = aggregate(col("vs"), lit(0).cast(dec), (acc, e1) =>
      (acc + cE(e1) * aggregate(col("vs"), lit(0).cast(dec), (a2, e2) =>
        (a2 + cE(e2) *
          ((vE(e1) - vE(e2)) * (vE(e1) - vE(e2))).cast(dec)).cast(dec)))
        .cast(dec))
    val bigN = col("n").cast(dec) * lit(m).cast(dec)
    val num2 = col("_onum") * bigN * (bigN - 1)
    val den2 = col("n").cast(dec) * lit(m.toLong * (m - 1)).cast(dec) *
      col("_esum")
    val alpha = lit(1.0) - num2.cast("double") / den2.cast("double")
    agg1.crossJoin(broadcast(pooled)).withColumn("_esum", esum)
      .select(col("n"), lit(m.toLong).as("m_raters"), col("k_vals"),
        when(col("n") > 0 && col("_esum") > 0,
          floor(alpha * 10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("alpha_bp"))
  }

  /** One-way ANOVA F + eta² over an INTEGRAL measure (Fisher 1925) —
    * "does mean token count actually differ by source, and how much of
    * the variance does source explain?" — the k-group mean-shift test
    * completing the two-sample family ([[mannWhitneyU]] compares two
    * distributions; this compares k group MEANS). One row:
    * (n, k_groups, f, eta2_bp), F floor-rounded, eta² in basis points,
    * null when degenerate (k < 2, N <= k, or zero within-variance).
    *
    * Exactness: per-group (n_g, Σv, Σv²) are INTEGER sums in
    * DECIMAL(38,0) (the measure is integral by contract — token counts,
    * char counts, event counts), so the only float work is the final
    * SSB/SST chain, whose Σ s_g²/n_g term folds over the SORTED
    * collected group list (groups are a bounded dimension — the q186
    * fold idiom) and replays engine-for-engine.
    *
    * Scale shape: ONE group-keyed hash aggregate with map-side partials
    * (three counters per group cross the shuffle), one single-row fold.
    */
  def anovaF(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = BoundedCells.groupValues(df, valueCol, groupCol, "long")
    val groups = v.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v").cast(dec)).as("_s"),
        sum(col("_v").cast(dec) * col("_v").cast(dec)).as("_q"))
    anovaFCore(groups)
  }

  /** [[anovaF]]'s fold-and-display chain over an already-built per-group
    * moment frame (_g, _n, _s, _q) — extracted so the fused
    * [[scaleCard]]'s Brown–Forsythe leg consumes the SAME code path as
    * the standalone (the ksTestCore delegation discipline). The caller's
    * _g type sets the sorted-group fold order, exactly as it does for
    * the standalone's groupCol.
    */
  private def anovaFCore(groups: DataFrame): DataFrame = {
    val one = groups.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_n"), col("_s"))))
        .as("gs"),
      sum(col("_n")).as("n"),
      count(lit(1)).as("k_groups"),
      sum(col("_s")).as("_st"),
      sum(col("_q")).as("_qt"))
    val nd = col("n").cast("double")
    val kd = col("k_groups").cast("double")
    val sd = col("_st").cast("double")
    val ssb = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + e.getField("_s").cast("double") * e.getField("_s").cast("double") /
        e.getField("_n").cast("double")) - sd * sd / nd
    val sst = col("_qt").cast("double") - sd * sd / nd
    val ssw = sst - ssb
    val f = ssb / (kd - 1) / (ssw / (nd - kd))
    one.select(
      col("n"), col("k_groups"),
      when(col("k_groups") > 1 && col("n") > col("k_groups") && ssw > 0,
        r4(f)).otherwise(lit(null).cast("double")).as("f"),
      when(sst > 0,
        floor(ssb / sst * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("eta2_bp"))
  }

  /** Welch's heteroscedastic one-way ANOVA (Welch 1951) — the k-group
    * location test that stays valid when [[brownForsythe]] says the
    * spreads DIFFER: classic F assumes one pooled variance and is
    * anticonservative when large groups are tight and small groups
    * loose (the mixed-source corpus default); W* weights each group by
    * n_g/s_g² and Satterthwaite-corrects the denominator dof — the
    * k-group sibling of [[welchTTest]]. One row:
    * (n, k_groups, w_star, df2_bp) — W* floor-rounded to 4 decimals,
    * df1 = k−1 implicit, the fractional denominator dof as BIGINT basis
    * points (the brunnerMunzel df_bp precedent; no closed-form p — the
    * F CDF is incomplete-beta, the kruskalWallis stat-without-p
    * precedent).
    *
    * Exactness: per-group (n, Σx, Σx²) are exact DECIMAL(38,0) integer
    * moments in ONE group-keyed aggregate; every per-group double
    * (mean, variance, weight) is one spelled chain from those integers,
    * and the four cross-group sums (Σw, Σw·m, Σw(m−m̃)², Λ) fold in
    * sorted group order over the k-bounded collected list — the anovaF
    * association, replayed verbatim by the oracle's ORDER BY group
    * list_reduce. Nulls when any group is degenerate (n_g < 2 or zero
    * variance) or k < 2.
    *
    * Scale shape: ONE (group)-keyed hash aggregate with map-side
    * partials is the only corpus-width reduction; everything after is
    * a k-row in-row fold.
    */
  def welchAnova(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.cast("string").as("_g"), valueCol.cast("long").as("_v"))
    val groups = v.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v").cast(dec)).as("_s"),
        sum(col("_v").cast(dec) * col("_v").cast(dec)).as("_q"))
    welchAnovaCore(groups)
  }

  /** [[welchAnova]]'s fold-and-display chain over an already-built
    * per-group moment frame (_g string, _n, _s, _q) — extracted so the
    * fused [[scaleCard]] consumes the SAME code path instead of a copy
    * (the ksTestCore delegation discipline): fold order, guards, and
    * displays cannot drift between the standalone and the card. The _g
    * column must already be string-typed — the sorted-group fold order
    * is part of the replayed contract (the oracle's ORDER BY g).
    */
  private def welchAnovaCore(groups: DataFrame): DataFrame = {
    val one = groups.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_n"), col("_s"),
        col("_q")))).as("gs"),
      sum(col("_n")).as("n"),
      count(lit(1)).as("k_groups"))
    def fD(e: Column, fld: String) = e.getField(fld).cast("double")
    def nG(e: Column) = fD(e, "_n")
    def mG(e: Column) = fD(e, "_s") / nG(e)
    def s2G(e: Column) = (nG(e) * fD(e, "_q") - fD(e, "_s") * fD(e, "_s")) /
      (nG(e) * (nG(e) - 1))
    def wG(e: Column) = nG(e) / s2G(e)
    def fold(term: Column => Column) =
      aggregate(col("gs"), lit(0.0), (a, e) => a + term(e))
    val kd = col("k_groups").cast("double")
    val wSum = fold(wG)
    val wmSum = fold(e => wG(e) * mG(e))
    val mTilde = wmSum / wSum
    val num = fold(e => wG(e) * (mG(e) - mTilde) * (mG(e) - mTilde)) /
      (kd - 1)
    val lam = fold(e => (lit(1.0) - wG(e) / wSum) *
      (lit(1.0) - wG(e) / wSum) / (nG(e) - 1))
    val wStar = num / (lit(1.0) + lit(2.0) * (kd - 2) / (kd * kd - 1) * lam)
    val df2 = (kd * kd - 1) / (lit(3.0) * lam)
    // degeneracy folds: the smallest group size and variance across
    // groups — any n_g < 2 or s2_g <= 0 nulls every display
    val minN = aggregate(col("gs"), lit(Long.MaxValue),
      (a, e) => least(a, e.getField("_n")))
    val minS2 = aggregate(col("gs"), lit(Double.MaxValue),
      (a, e) => least(a, s2G(e)))
    val ok = col("k_groups") > 1 && minN > 1 && minS2 > 0 && lam > 0
    one.select(col("n"), col("k_groups"),
      when(ok, r4(wStar)).otherwise(lit(null).cast("double")).as("w_star"),
      when(ok, floor(df2 * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("df2_bp"))
  }

  /** Fused k-group SCALE card — [[brownForsythe]] + [[bartlettTest]] +
    * [[welchAnova]] in ONE corpus pass (the kGroupCard fusion on the
    * spread axis): the three readings a heteroscedasticity review wants
    * together — the robust spread-homogeneity W, the parametric
    * likelihood-ratio T whose DISAGREEMENT with W is itself diagnostic
    * (heavy tails inflate Bartlett but not BF), and the location answer
    * that remains valid if both say the variances differ. Run standalone
    * each is a full scan; the card pays the scan once. One row:
    * (n, k_groups, bf_w, bf_eta2_bp, bart_df_t, bart_t_bp, w_star,
    * df2_bp) — every display chain spelled exactly as its standalone
    * operator (ScaleCardSpec pins column-for-column equality).
    *
    * Exactness: the shared per-(group, value) cell aggregate is exact
    * integer multiplicities; each group's interpolated median — the
    * [[GlobalRank.groupedPercentileTable]] (n−1)/2 definition — selects
    * its two central order statistics from the per-group cell
    * cumulative, so the doubled center 2·med = v_lo + v_hi is an exact
    * integer and the BF deviations, the Welch/Bartlett moments, and all
    * three sorted-group folds replay the standalones' DECIMAL(38,0)
    * arithmetic verbatim. Bartlett's leg filters its group list to
    * n ≥ 2 exactly as the standalone does.
    *
    * Scale shape: ONE (group, value) hash aggregate is the only
    * corpus-width exchange (persisted; every leg derives from it); the
    * median selection is a PARTITIONED per-group window over the
    * bounded cell table; the three final folds are k-row in-row work
    * cross-joined as one-row broadcasts.
    */
  def scaleCard(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // the cell aggregate stays persisted after the card materializes
    // (caller-visible lifecycle, the dedup-family discipline: unpersist
    // via spark.catalog.clearCache between cards — Bench does; a library
    // caller running many cards in one session should too) — ADVICE r17
    val cells = BoundedCells.cellTable(df, valueCol, groupCol, "long")
      .persist()
    val perG = cells.groupBy(col("_g")).agg(
      sum(col("_c")).as("_ng"),
      sum(col("_c").cast(dec) * col("_v").cast(dec)).as("_s1"),
      sum(col("_c").cast(dec) * col("_v").cast(dec) * col("_v").cast(dec))
        .as("_s2"))
    // per-group interpolated median (the groupedPercentileTable (n−1)/2
    // chain) selected from the cell cumulative: 2·med = v_lo + v_hi
    val wsp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = cells
      .withColumn("_pfx", coalesce(sum(col("_c")).over(wsp), lit(0L)))
      .join(perG.select(col("_g"), col("_ng")), Seq("_g"))
    val lo = floor((col("_ng") - 1) / lit(2.0)).cast("long")
    val hi = floor(col("_ng") / lit(2.0)).cast("long")
    val vLo = cum.filter(col("_pfx") <= lo && lo < col("_pfx") + col("_c"))
      .select(col("_g"), col("_v").as("_vlo"))
    val vHi = cum.filter(col("_pfx") <= hi && hi < col("_pfx") + col("_c"))
      .select(col("_g"), col("_v").as("_vhi"))
    val medT = vLo.join(vHi, Seq("_g"))
      .select(col("_g"), (col("_vlo") + col("_vhi")).as("_m2"))
    // --- Brown–Forsythe leg: anovaFCore on |2v − 2·med| (the standalone
    // brownForsythe delegates to anovaF over the same moments — one code
    // path, so card and standalone cannot drift) ------------------------
    val u = abs(lit(2L) * col("_v") - col("_m2"))
    val devG = cells.join(broadcast(medT), Seq("_g"))
      .groupBy(col("_g")).agg(
        sum(col("_c")).as("_n"),
        sum(col("_c").cast(dec) * u.cast(dec)).as("_s"),
        sum(col("_c").cast(dec) * u.cast(dec) * u.cast(dec)).as("_q"))
    val bf = anovaFCore(devG)
      .select(col("n"), col("k_groups"),
        col("f").as("bf_w"), col("eta2_bp").as("bf_eta2_bp"))
    // --- Bartlett leg: bartlettCore over the n ≥ 2 group list ----------
    val pc = perG
      .select(col("_g"), col("_ng").as("_n"),
        (col("_ng").cast(dec) * col("_s2") - col("_s1") * col("_s1"))
          .as("_c2"))
      .filter(col("_n") >= 2)
    val bart = bartlettCore(pc)
      .select(col("df_t").as("bart_df_t"), col("t_bp").as("bart_t_bp"))
    // --- Welch leg: welchAnovaCore from the shared group moments; _g
    // casts to string exactly as the standalone's input projection does,
    // so the sorted-group fold order matches for ANY group type ---------
    val welch = welchAnovaCore(perG.select(
      col("_g").cast("string").as("_g"), col("_ng").as("_n"),
      col("_s1").as("_s"), col("_s2").as("_q")))
      .select(col("w_star"), col("df2_bp"))
    bf.crossJoin(broadcast(bart)).crossJoin(broadcast(welch))
  }

  /** Per-group two-sample KS screen — [[ksTest]] asked once PER GROUP
    * against the group's complement: "WHICH source's value distribution
    * deviates from the rest of the corpus?" — the fan-out form that
    * turns the pairwise test into a screening report (feed the p-values
    * to [[bhAdjust]] to control the screen's false discoveries). One
    * row per group: (group_key, n_g, n_rest, ks_d, p_value), the
    * ksTest display chains verbatim.
    *
    * Exactness: the supremum for group g must scan ALL pooled distinct
    * values (a value absent from g can still move the complement's
    * CDF), so the per-group cumulative runs over the groups × values
    * spine — groups are a bounded dimension (the q186 cross
    * discipline), values carry the same integer cross-mass numerators
    * as [[ksTest]] with cum_rest = cum_all − cum_g.
    *
    * Scale shape, two tiers gated on the CELL table ([[BoundedCells]]):
    * the (group, value) hash agg always runs distributed with map-side
    * partials; under the gate the cumulative walk, the integer
    * cross-mass supremum, and the display chain fold on the driver — the
    * distributed form spends ~20 bounded jobs (persist, value roll-up,
    * group table, wps pass, broadcast cross, per-group window, max agg)
    * on a frame of a few thousand rows, pure fixed job cost. Past the
    * gate: one value-keyed roll-up + ONE `weightedPrefixSums` pass for
    * the global cumulative, a broadcast cross with the bounded group
    * table, a PARTITIONED window per group (never single-partition), one
    * group-keyed max (QualityScreenSpec pins the tiers equal).
    */
  def groupedKsTest(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localKs = ksScreenLocal(perGV, localSpineLimit)
    if (localKs.isDefined) return localKs.get
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val totals = perV.agg(coalesce(sum(col("_cv")), lit(0L)).as("_n"))
    val cumAll = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_xa")
      .select(col("_v"), (col("_xa") + col("_cv")).as("_cumall"))
    val spine = cumAll.crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_ng"), col("_v"), col("_cumall"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val cumG = sum(col("_c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val num = abs(col("_cumg").cast(dec) *
        (col("_n") - col("_ng")).cast(dec) -
      (col("_cumall") - col("_cumg")).cast(dec) * col("_ng").cast(dec))
    val ngd = col("_ng").cast("double")
    val nrd = col("n_rest").cast("double")
    val d = col("_dnum").cast("double") / (ngd * nrd)
    val lambda = sqrt(ngd * nrd / (ngd + nrd)) * d
    spine
      .withColumn("_cumg", cumG)
      .crossJoin(broadcast(totals))
      .groupBy(col("_g"), col("_ng"), col("_n"))
      .agg(max(num).as("_dnum"))
      .select(col("_g").as("group_key"), col("_ng").as("n_g"),
        (col("_n") - col("_ng")).as("n_rest"), col("_ng"), col("_dnum"))
      .select(col("group_key"), col("n_g"), col("n_rest"),
        r4(d).as("ks_d"),
        r4(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * lambda * lambda)))
          .as("p_value"))
  }

  /** Spark Floor(DoubleType)->LongType: Math.floor then d2l (NaN -> 0,
    * +-Inf saturate) — the display chains round-trip through it.
    */
  private def floorL(x: Double): Long = math.floor(x).toLong

  /** Decimal(38,0) -> double, as Spark's Decimal.toDouble computes it. */
  private def decD(x: BigInt): Double =
    new java.math.BigDecimal(x.bigInteger).doubleValue()

  /** Spark's type ordering for the group key, for replicating
    * sort_array(struct(_g, ...)) folds on the driver: strings compare as
    * unsigned UTF-8 bytes (UTF8String.compareTo), integral/floating
    * types naturally. None = unsupported type, caller falls back to the
    * distributed tier.
    */
  private def groupOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case _ => None
    }
  }

  /** Spark Least(1.0, x) under the NaN-greatest ordering. */
  private def least1(x: Double): Double =
    if (java.lang.Double.isNaN(x)) 1.0 else math.min(1.0, x)

  /** The driver tier of [[groupedKsTest]]. The cross-mass numerator cumg·(n−ng) − (cumall−cumg)·ng
    * expands to cumg·n − cumall·ng exactly (integers), BigInt ==
    * DECIMAL(38,0); the per-group supremum over the pooled value spine
    * is evaluated only at segment endpoints (between a group's own value
    * points cumg is constant and the numerator is linear in cumall, so
    * the max over the segment sits at its ends) — O(cells), never
    * O(groups × values).
    */
  private def ksScreenLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("group_key", perGV.schema("_g").dataType, nullable = true),
      StructField("n_g", LongType, nullable = true),
      StructField("n_rest", LongType, nullable = true),
      StructField("ks_d", DoubleType, nullable = true),
      StructField("p_value", DoubleType, nullable = true)))
    BoundedCells.fold(perGV, cellLimit, schema)(ksScreenFold)
  }

  private def ksScreenFold(
      cells: Array[org.apache.spark.sql.Row]): Option[Seq[org.apache.spark.sql.Row]] = {
    if (cells.isEmpty) return Some(Seq.empty)
    val sp = CellSpine.doubles(cells)
    val gps = sp.groupPoints
    // a group owning the whole pool divides by n_rest = 0 — under
    // ANSI the distributed chain THROWS there; defer to it so the
    // degenerate's error behavior stays identical
    if (gps.exists(_._2 == sp.n)) return None
    val nB = BigInt(sp.n)
    Some(gps.map { case (g, ng, pts) =>
      val ngB = BigInt(ng)
      var cumg = 0L
      var dnum = BigInt(0)
      pts.foreach { case (pos, c) =>
        if (pos > 0) {
          val pre = (BigInt(cumg) * nB - BigInt(sp.cumAll(pos - 1)) * ngB).abs
          if (pre > dnum) dnum = pre
        }
        cumg += c
        val at = (BigInt(cumg) * nB - BigInt(sp.cumAll(pos)) * ngB).abs
        if (at > dnum) dnum = at
      }
      val ngd = ng.toDouble
      val nrd = (sp.n - ng).toDouble
      val d = decD(dnum) / (ngd * nrd)
      val lambda = math.sqrt(ngd * nrd / (ngd + nrd)) * d
      org.apache.spark.sql.Row(g, ng, sp.n - ng, r4(d),
        r4(least1(2.0 * math.exp(-2.0 * lambda * lambda))))
    })
  }

  /** [[groupedKsTest]] with the scale fallback built in — the entry
    * point for a CONTINUOUS metric (score drift, latency) whose
    * distinct-value table may approach the row count. The exact screen's
    * per-group spine is groups × distinct values; on integral measures
    * (token counts, bands) that is cheap, but a continuous metric fans
    * the broadcast cross out by |groups| · |rows| — the one shape in the
    * screen that does not survive a 100× scale-up.
    *
    * Regime test (the [[GlobalRank.groupedPercentileAuto]] precedent):
    * one distinct-count of the value column. Within `maxDistinct` the
    * exact path runs verbatim. Past it, distinct values collapse to
    * `bins` equi-index bins BEFORE the spine forms: the positional index
    * of each distinct value (one weight-1 [[GlobalRank.weightedPrefixSums]]
    * pass — the q222 index kernel) maps to bin = ix·bins div nd, rows
    * join the distinct-value-sized bin map on the value key, and the
    * exact machinery reruns on bin ids with the spine now bounded by
    * groups × bins. The switch is visible in the plan (the regime count
    * + the extra value-keyed equi-join) and documented here rather than
    * silent: counts (n_g, n_rest) are exact either way; the binned ks_d
    * is the supremum RESTRICTED to bin boundaries — a one-sided lower
    * bound of the exact D (and p_value correspondingly conservative
    * upward), with resolution set by the heaviest in-bin CDF rise. When
    * `bins` ≥ the distinct count the index map is injective and the
    * binned screen EQUALS the exact one row-for-row (the spec's
    * reduction law).
    */
  def groupedKsTestAuto(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      maxDistinct: Long = 2000000L,
      bins: Int = 8192): DataFrame = {
    require(bins >= 2, "groupedKsTestAuto: at least 2 bins")
    require(maxDistinct >= 0, "groupedKsTestAuto: non-negative budget")
    val v = BoundedCells.groupValues(df, valueCol, groupCol, "double")
    val nd = v.select(col("_v")).distinct().count()
    if (nd <= maxDistinct) groupedKsTest(df, valueCol, groupCol)
    else {
      val binMap = GlobalRank.weightedPrefixSums(
          v.select(col("_v")).distinct().withColumn("_one", lit(1L)),
          "_v", "_one", "_ix")
        .select(col("_v"),
          expr(s"CAST(_ix * ${bins.toLong}L AS BIGINT) div ${nd}L")
            .as("_bv"))
      groupedKsTest(
        v.join(binMap, "_v").select(col("_g"), col("_bv")),
        col("_bv"), col("_g"))
    }
  }

  /** Per-group 1-Wasserstein screen — [[wassersteinDistance]] asked once
    * PER GROUP against the group's complement, the magnitude companion
    * to [[groupedKsTest]]: the KS screen says WHICH source drifted,
    * this says HOW MUCH the drift costs in value units (transport
    * distance of the group's distribution from the rest of the corpus).
    * One row per group: (group_key, n_g, n_rest, w1, w1_norm_bp), the
    * wassersteinDistance display chains verbatim — the spec pins each
    * row to the pairwise `wassersteinDistance(group, complement)`
    * bit-for-bit.
    *
    * Exactness: over the POOLED distinct values,
    * W₁(g) = Σ_i |F_g(v_i) − F_rest(v_i)|·(v_{i+1} − v_i); the |·|
    * numerator is the SAME integer cross-mass
    * |cum_g·n_rest − (cum_all − cum_g)·n_g| the KS spine already carries
    * (KS takes its max where W₁ sums it against the gap), each per-gap
    * term quantizes floor(term·2²⁰) into an integer sum (the q203/q222
    * fixed-point discipline), and the displays divide once at the end.
    *
    * Scale shape: [[groupedKsTest]]'s plan plus ONE more weight-1
    * [[GlobalRank.weightedPrefixSums]] pass for the next-value gap
    * (positional index + ix+1 equi-join — never lead() over a single
    * partition): one row-level hash agg to (group, value) cells, one
    * value roll-up, two bounded prefix-sum passes, a broadcast cross
    * with the bounded group table, a PARTITIONED per-group window, one
    * group-keyed sum.
    */
  /** The driver tier of [[groupedW1]]: the W1 gap sum instead of the KS
    * max. The walk is O(groups × values) (every pooled value contributes
    * a gap term to every group), so it also bounds the spine product.
    */
  private def w1ScreenLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("group_key", perGV.schema("_g").dataType, nullable = true),
      StructField("n_g", LongType, nullable = true),
      StructField("n_rest", LongType, nullable = true),
      StructField("w1", DoubleType, nullable = true),
      StructField("w1_norm_bp", LongType, nullable = true)))
    BoundedCells.fold(perGV, cellLimit, schema)(w1ScreenFold)
  }

  private def w1ScreenFold(
      cells: Array[org.apache.spark.sql.Row]): Option[Seq[org.apache.spark.sql.Row]] = {
    if (cells.isEmpty) return Some(Seq.empty)
    val sp = CellSpine.doubles(cells)
    val gps = sp.groupPoints
    if (gps.size.toLong * sp.values.length > (1L << 20)) return None
    // n_rest = 0 divides in the distributed gap term and THROWS
    // under ANSI; defer the degenerate to the distributed tier
    if (gps.exists(_._2 == sp.n)) return None
    val nB = BigInt(sp.n)
    val vmin = sp.values.head
    val vmax = sp.values.last
    Some(gps.map { case (g, ng, pts) =>
      val ngB = BigInt(ng)
      val ngd = ng.toDouble
      val nrd = (sp.n - ng).toDouble
      var cumg = 0L
      var s2 = 0L
      var pi = 0
      var i = 0
      while (i < sp.values.length) {
        if (pi < pts.length && pts(pi)._1 == i) {
          cumg += pts(pi)._2; pi += 1
        }
        if (i < sp.values.length - 1) {
          val num = (BigInt(cumg) * nB - BigInt(sp.cumAll(i)) * ngB).abs
          s2 += floorL(decD(num) * (sp.values(i + 1) - sp.values(i)) /
            (ngd * nrd) * 1048576)
        }
        i += 1
      }
      val w1d = s2.toDouble / 1048576
      val norm: Any =
        if (vmax > vmin)
          floorL(w1d / (vmax - vmin) * 10000 + 0.5)
        else null
      org.apache.spark.sql.Row(g, ng, sp.n - ng, r4(w1d), norm)
    })
  }

  def groupedW1(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localW1 = w1ScreenLocal(perGV, localSpineLimit)
    if (localW1.isDefined) return localW1.get
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val totals = perV.agg(coalesce(sum(col("_cv")), lit(0L)).as("_n"),
      min(col("_v")).as("_vmin"), max(col("_v")).as("_vmax"))
    val withIx = GlobalRank.weightedPrefixSumsMulti(
        perV.withColumn("_one", lit(1L)), "_v",
        Seq("_cv" -> "_xa", "_one" -> "_ix"))._1
      .select(col("_v"), (col("_xa") + col("_cv")).as("_cumall"), col("_ix"))
    val nxt = withIx.select((col("_ix") - 1).as("_ix"), col("_v").as("_vn"))
    // inner on the successor index: the last value's CDF gap is zero
    // anyway, and dropping it before the window leaves every remaining
    // cumulative untouched (the window only looks downward in value)
    val spine = withIx.join(nxt, "_ix")
      .crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_ng"), col("_v"), col("_vn"), col("_cumall"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val cumG = sum(col("_c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val num = abs(col("_cumg").cast(dec) *
        (col("_n") - col("_ng")).cast(dec) -
      (col("_cumall") - col("_cumg")).cast(dec) * col("_ng").cast(dec))
    val ngd = col("_ng").cast("double")
    val nrd = (col("_n") - col("_ng")).cast("double")
    // the wassersteinDistance term, verbatim association — the spec's
    // bit-for-bit pairwise-parity claim rests on this float sequence
    val term = floor(num.cast("double") * (col("_vn") - col("_v")) /
      (ngd * nrd) * 1048576).cast("long")
    val w1d = col("_s2").cast("double") / 1048576
    val gapMass = spine
      .withColumn("_cumg", cumG)
      .crossJoin(broadcast(totals))
      .groupBy(col("_g"))
      .agg(coalesce(sum(term), lit(0L)).as("_s2"))
    // left from the group table: with < 2 pooled distinct values the gap
    // spine is EMPTY, and every group must still report its real counts
    // and a zero distance (the wassersteinDistance degenerate-input fix,
    // grouped)
    groups
      .join(gapMass, Seq("_g"), "left")
      .withColumn("_s2", coalesce(col("_s2"), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("_g").as("group_key"), col("_ng").as("n_g"),
        (col("_n") - col("_ng")).as("n_rest"),
        r4(w1d).as("w1"),
        when(col("_vmax") > col("_vmin"),
          floor(w1d / (col("_vmax") - col("_vmin")) * 10000 + lit(0.5))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("w1_norm_bp"))
  }

  /** Benjamini-Hochberg FDR adjustment (Benjamini & Hochberg 1995) —
    * the meta-audit this shelf earns once it reports MANY p-values at
    * once: at 20 sources and α = 0.05, one "significant" drift per
    * screen is expected by chance; BH adjusts each p to the smallest
    * FDR level at which it would be rejected (step-up:
    * adj_j = min_{i≥j} p_i·m/i, clamped to 1), controlling the expected
    * fraction of false alarms among the alarms. One row per test:
    * (test_key, p_value, p_rank, p_adj, reject) — reject from the
    * ROUNDED adjusted p (the band-from-rounded discipline).
    *
    * Scale shape: the input is a screening REPORT (one row per
    * group/test — a bounded frame by construction), so the sort, the
    * p·m/i transform, and the suffix-min all run as in-row folds over
    * one collected sorted list (the calibration idiom) and explode back
    * to rows. Ties order deterministically by (p, key).
    */
  def bhAdjust(
      df: DataFrame,
      keyCol: Column,
      pCol: Column,
      fdrQ: Double = 0.1): DataFrame = {
    require(fdrQ > 0 && fdrQ < 1, "FDR level must be in (0, 1)")
    val v = df.filter(keyCol.isNotNull && pCol.isNotNull)
      .select(pCol.cast("double").as("_p"), keyCol.as("_k"))
    val one = v.groupBy().agg(
      sort_array(collect_list(struct(col("_p"), col("_k")))).as("ps"),
      count(lit(1)).as("m"))
    val md = col("m").cast("double")
    // w_i = p_(i)·m/i in sorted order, 1-based — the same element_at
    // chain the oracle spells with list indexing
    val ws = transform(sequence(lit(1L), col("m")),
      i => element_at(col("ps"), i.cast("int")).getField("_p") * md /
        i.cast("double"))
    val entries = transform(sequence(lit(1L), col("m")), j => struct(
      j.as("rnk"),
      element_at(col("ps"), j.cast("int")).getField("_k").as("k"),
      element_at(col("ps"), j.cast("int")).getField("_p").as("p"),
      least(lit(1.0), array_min(slice(col("ws"), j.cast("int"),
        (col("m") - j + 1).cast("int")))).as("adj")))
    one
      // sequence(1, 0) would step DOWNWARD — an empty report must yield
      // an empty frame, not an element_at(0) throw
      .filter(col("m") > 0)
      .select(col("m"), col("ps"), ws.as("ws"))
      .select(explode(entries).as("e"))
      .select(col("e.k").as("test_key"), col("e.p").as("p_value"),
        col("e.rnk").as("p_rank"),
        r4(col("e.adj")).as("p_adj"),
        (r4(col("e.adj")) <= fdrQ).as("reject"))
  }

  /** Holm step-down adjustment (Holm 1979 — the FWER companion to
    * [[bhAdjust]]: BH controls the expected FALSE FRACTION among the
    * alarms (fine for a screening report), Holm controls the chance of
    * even ONE false alarm — the right knob when a single reject triggers
    * an expensive action, e.g. quarantining a source. Uniformly more
    * powerful than plain Bonferroni, no independence assumption). Same
    * shape as [[bhAdjust]]: one row per input test,
    * (test_key, p_value, p_rank, p_adj, reject) with
    * adj_(j) = min(1, max_{i≤j} (m−i+1)·p_(i)) and reject = adj ≤ `alpha`.
    *
    * The input is a screening report (bounded by construction), so the
    * sort, the (m−i+1)·p transform, and the prefix-max all run as in-row
    * folds over one collected sorted list (bhAdjust's discipline, with
    * the suffix-min swapped for a prefix-max) and explode back to rows.
    */
  def holmAdjust(
      df: DataFrame,
      keyCol: Column,
      pCol: Column,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "FWER level must be in (0, 1)")
    val v = df.filter(keyCol.isNotNull && pCol.isNotNull)
      .select(pCol.cast("double").as("_p"), keyCol.as("_k"))
    val one = v.groupBy().agg(
      sort_array(collect_list(struct(col("_p"), col("_k")))).as("ps"),
      count(lit(1)).as("m"))
    val md = col("m").cast("double")
    // w_i = p_(i)·(m−i+1) in sorted order, 1-based — the same element_at
    // chain the oracle spells with list indexing
    val ws = transform(sequence(lit(1L), col("m")),
      i => element_at(col("ps"), i.cast("int")).getField("_p") *
        (md - i.cast("double") + 1))
    val entries = transform(sequence(lit(1L), col("m")), j => struct(
      j.as("rnk"),
      element_at(col("ps"), j.cast("int")).getField("_k").as("k"),
      element_at(col("ps"), j.cast("int")).getField("_p").as("p"),
      least(lit(1.0), array_max(slice(col("ws"), lit(1), j.cast("int"))))
        .as("adj")))
    one
      // sequence(1, 0) would step DOWNWARD — an empty report must yield
      // an empty frame, not an element_at(0) throw
      .filter(col("m") > 0)
      .select(col("m"), col("ps"), ws.as("ws"))
      .select(explode(entries).as("e"))
      .select(col("e.k").as("test_key"), col("e.p").as("p_value"),
        col("e.rnk").as("p_rank"),
        r4(col("e.adj")).as("p_adj"),
        (r4(col("e.adj")) <= alpha).as("reject"))
  }

  /** Benjamini–Yekutieli adjustment (Benjamini & Yekutieli 2001 — the
    * third multiplicity knob beside [[bhAdjust]] and [[holmAdjust]]: BH
    * controls FDR under independence/PRDS, BY under ARBITRARY
    * dependence by inflating the step-up weights with the harmonic
    * factor c(m) = Σ1/i — the conservative choice when the screen's
    * tests share data, as per-source-vs-complement screens do by
    * construction: every test's complement overlaps every other's).
    * Same shape as [[bhAdjust]]: (test_key, p_value, p_rank, p_adj,
    * reject), adj_(j) = min(1, min_{i≥j} c(m)·m/i·p_(i)), reject =
    * adj ≤ `fdrQ`.
    *
    * c(m) is an exact compile-time-independent fold the ORACLE can
    * replay: the 1-based harmonic sum in ascending i order, spelled
    * identically on both engines.
    */
  def byAdjust(
      df: DataFrame,
      keyCol: Column,
      pCol: Column,
      fdrQ: Double = 0.1): DataFrame = {
    require(fdrQ > 0 && fdrQ < 1, "FDR level must be in (0, 1)")
    val v = df.filter(keyCol.isNotNull && pCol.isNotNull)
      .select(pCol.cast("double").as("_p"), keyCol.as("_k"))
    val one = v.groupBy().agg(
      sort_array(collect_list(struct(col("_p"), col("_k")))).as("ps"),
      count(lit(1)).as("m"))
    val md = col("m").cast("double")
    // harmonic factor in ascending-i order — both engines fold the same
    val cm = aggregate(sequence(lit(1L), col("m")), lit(0.0),
      (a, i) => a + lit(1.0) / i.cast("double"))
    val ws = transform(sequence(lit(1L), col("m")),
      i => element_at(col("ps"), i.cast("int")).getField("_p") * cm * md /
        i.cast("double"))
    val entries = transform(sequence(lit(1L), col("m")), j => struct(
      j.as("rnk"),
      element_at(col("ps"), j.cast("int")).getField("_k").as("k"),
      element_at(col("ps"), j.cast("int")).getField("_p").as("p"),
      least(lit(1.0), array_min(slice(col("ws"), j.cast("int"),
        (col("m") - j + 1).cast("int")))).as("adj")))
    one
      // sequence(1, 0) would step DOWNWARD — an empty report must yield
      // an empty frame, not an element_at(0) throw
      .filter(col("m") > 0)
      .select(col("m"), col("ps"), ws.as("ws"))
      .select(explode(entries).as("e"))
      .select(col("e.k").as("test_key"), col("e.p").as("p_value"),
        col("e.rnk").as("p_rank"),
        r4(col("e.adj")).as("p_adj"),
        (r4(col("e.adj")) <= fdrQ).as("reject"))
  }

  /** Brown-Forsythe variance-homogeneity test (Brown & Forsythe 1974 —
    * Levene's test with the MEDIAN center, the robust form): "did the
    * SPREAD change across groups?" where [[anovaF]] asks about the mean
    * — a mixture whose sources agree on mean token count but not on its
    * variance still needs re-weighting. One row:
    * (n, k_groups, f, eta2_bp) — the one-way F over absolute deviations
    * from the group median.
    *
    * Exactness trick: over an INTEGRAL measure the doubled deviation
    * |2·v − 2·median| is itself integral (an exact median of integers
    * is k or k+0.5, so 2·median is an integer), and the F statistic is
    * scale-invariant, so running [[anovaF]]'s integer-moment machinery
    * on doubled deviations computes the Brown-Forsythe F with no float
    * anywhere before the final chain. Group medians are exact
    * distributed order statistics ([[GlobalRank.groupedPercentileTable]]
    * — bounded-driver contract, broadcast back as a groups-sized
    * table); the deviation projection is map-side.
    */
  def brownForsythe(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val v = BoundedCells.groupValues(df, valueCol, groupCol, "long")
    val med = GlobalRank.groupedPercentileTable(v, "_g", "_v", Seq(0.5), Seq("_m"))
    val dev = v.join(broadcast(med), "_g")
      .select(col("_g"),
        abs(lit(2L) * col("_v") - (col("_m") * 2).cast("long")).as("_d"))
    anovaF(dev, col("_d"), col("_g"))
  }

  /** Bartlett's variance-homogeneity test (Bartlett 1937 — the
    * parametric sibling of [[brownForsythe]]: BF's median-centered F is
    * the robust default, Bartlett is the textbook likelihood-ratio form
    * with the well-known normality sensitivity — the pair every stats
    * package ships side by side, and disagreement between them is itself
    * diagnostic: heavy tails inflate Bartlett but not BF). One row:
    * (n, k_groups, df_t, t_bp) with
    * T = [(N−k)·ln s²_p − Σ(n_i−1)·ln s²_i] / C,
    * C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)), χ²_{k−1} under H₀
    * (T is reported without p — k−1 is odd for even group counts, the
    * [[kruskalWallis]] H-without-p precedent).
    *
    * Float discipline: each group's variance numerator clears to the
    * exact integer c2 = n·Σx² − (Σx)² (the cronbachAlpha moment trick);
    * (n_i−1)s²_i = c2_i/n_i, so the pooled sum folds ONE division per
    * group over the SORTED bounded group list, and every ln enters a
    * fixed-order fold — the whole chain replays on both engines.
    * Groups with n < 2 drop before the statistic (their s² is
    * undefined); any zero-variance group (c2 = 0) nulls the displays
    * (ln 0 = −∞ — Bartlett is undefined there, BF is the robust
    * fallback).
    *
    * Scale shape: ONE groups-bounded hash agg with map-side partials is
    * the only exchange; everything after is a one-row in-row fold.
    */
  def bartlettTest(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = BoundedCells.groupValues(df, valueCol, groupCol, "long")
    val perG = v.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v").cast(dec)).as("_s1"),
        sum(col("_v").cast(dec) * col("_v").cast(dec)).as("_s2"))
      .select(col("_g"), col("_n"),
        (col("_n").cast(dec) * col("_s2") - col("_s1") * col("_s1"))
          .as("_c2"))
      .filter(col("_n") >= 2)
    bartlettCore(perG)
  }

  /** [[bartlettTest]]'s fold-and-display chain over an already-built
    * n ≥ 2 per-group frame (_g, _n, _c2) — extracted so the fused
    * [[scaleCard]]'s Bartlett leg consumes the SAME code path as the
    * standalone (the ksTestCore delegation discipline).
    */
  private def bartlettCore(perG: DataFrame): DataFrame = {
    val one = perG.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_n"), col("_c2"))))
        .as("gs"),
      sum(col("_n")).as("n"),
      count(lit(1)).as("k_groups"))
    def nE(e: Column) = e.getField("_n").cast("double")
    def c2E(e: Column) = e.getField("_c2").cast("double")
    val nd = col("n").cast("double")
    val kd = col("k_groups").cast("double")
    // (n_i − 1)·s²_i = c2_i / n_i exactly — one division per group
    val pooled = aggregate(col("gs"), lit(0.0), (a, e) => a + c2E(e) / nE(e))
    val s2p = pooled / (nd - kd)
    val lnSum = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + (nE(e) - 1) * log(c2E(e) / (nE(e) * (nE(e) - 1))))
    val invSum = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + lit(1.0) / (nE(e) - 1))
    val tNum = (nd - kd) * log(s2p) - lnSum
    val cFac = lit(1.0) + (invSum - lit(1.0) / (nd - kd)) / (lit(3.0) * (kd - 1))
    val minC2 = array_min(transform(col("gs"), e => e.getField("_c2")))
    val ok = col("k_groups") > 1 && minC2 > 0
    one.select(col("n"), col("k_groups"),
      when(col("k_groups") > 1, col("k_groups") - 1)
        .otherwise(lit(null).cast("long")).as("df_t"),
      when(ok, floor(tNum / cFac * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("t_bp"))
  }

  /** Jarque–Bera normality screen per group (Jarque & Bera 1980 — the
    * moment-based omnibus every econometrics package ships:
    * JB = n/6·(g₁² + g₂²/4) from sample skewness g₁ = m₃/m₂^{3/2} and
    * excess kurtosis g₂ = m₄/m₂² − 3, χ²₂ under normality — dof 2 is
    * even, so the survival p = exp(−JB/2) is CLOSED FORM, the cleanest
    * member of the chi-square family). The practical question on a
    * corpus: which source's metric distribution is so skewed or
    * heavy-tailed that mean±σ monitoring (EWMA bands, z-fences) is the
    * wrong tool for it? One row per group:
    * (group_key, n_g, skew_bp, kurt_bp, jb_bp, p_bp) — skew/kurtosis
    * signed BIGINT basis points. Groups with n < 2 or zero variance
    * report NULL displays.
    *
    * Float discipline: the per-(group, value) histogram (bounded by
    * distinct values — integral metrics, the [[groupedKsTest]] caveat)
    * collects to a sorted in-row array; μ is one division and each
    * central moment folds in sorted-value order — the
    * uncertaintyCoefficient sorted-fold discipline, engine-replayable.
    *
    * Scale shape: ONE (group, value) hash agg with map-side partials is
    * the only exchange; moments are in-row folds per group row.
    */
  def jarqueBera(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val cells = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val perG = cells.groupBy(col("_g"))
      .agg(sort_array(collect_list(struct(col("_v"), col("_c")))).as("cs"),
        sum(col("_c")).as("n_g"))
    def vE(e: Column) = e.getField("_v")
    def cE(e: Column) = e.getField("_c").cast("double")
    val nd = col("n_g").cast("double")
    val mu = aggregate(col("cs"), lit(0.0), (a, e) => a + cE(e) * vE(e)) / nd
    def moment(p: Int): Column =
      aggregate(col("cs"), lit(0.0), (a, e) => {
        val d = vE(e) - mu
        a + cE(e) * Seq.fill(p)(d).reduce(_ * _)
      }) / nd
    val m2 = moment(2)
    val m3 = moment(3)
    val m4 = moment(4)
    val s = sqrt(m2)
    val skew = m3 / (s * s * s)
    val kurt = m4 / (m2 * m2) - 3
    val jb = nd / 6 * (skew * skew + kurt * kurt / 4)
    val p = exp(-(jb / 2))
    val ok = col("n_g") > 1 && m2 > 0
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(c: Column) =
      when(ok, bp(c)).otherwise(lit(null).cast("long"))
    perG.select(col("_g").as("group_key"), col("n_g"),
      guard(skew).as("skew_bp"), guard(kurt).as("kurt_bp"),
      guard(jb).as("jb_bp"), guard(p).as("p_bp"))
  }

  /** Cronbach's alpha (Cronbach 1951) — internal consistency of k
    * INTEGRAL item scores measuring one construct: "do the quality
    * sub-signals hang together as a scale, or is each measuring its own
    * thing?" — the audit run before averaging sub-scores into one
    * quality number. One row: (n, k_items, alpha), floor-rounded, null
    * when the total-score variance is zero.
    *
    * Exactness: α = k/(k−1)·(1 − Σσ²ᵢ/σ²ₜ) where every variance
    * numerator clears to the integer n·Σx² − (Σx)² (the n(n−1)
    * denominators cancel in the ratio), summed per item and for the
    * per-row total score — all DECIMAL(38,0) moments in ONE single-row
    * aggregate (2k+2 counters cross the shuffle), one double chain.
    */
  def cronbachAlpha(
      df: DataFrame,
      items: Seq[Column]): DataFrame = {
    require(items.size >= 2, "alpha needs at least 2 items")
    val k = items.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df
      .filter(items.map(_.isNotNull).reduce(_ && _))
      .select((items.zipWithIndex.map { case (c, i) =>
        c.cast("long").as(s"_x$i") } :+
        items.map(_.cast("long")).reduce(_ + _).as("_t")): _*)
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(col("_t").cast(dec)).as("_st"),
        sum(col("_t").cast(dec) * col("_t").cast(dec)).as("_qt")) ++
        (0 until k).flatMap(i => Seq(
          sum(col(s"_x$i").cast(dec)).as(s"_s$i"),
          sum(col(s"_x$i").cast(dec) * col(s"_x$i").cast(dec)).as(s"_q$i")))
    val one = v.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast(dec)
    def vnum(s: Column, q: Column): Column = nD * q - s * s
    val vItems = (0 until k)
      .map(i => vnum(col(s"_s$i"), col(s"_q$i"))).reduce(_ + _)
    val vTotal = vnum(col("_st"), col("_qt"))
    one.select(
      col("n"), lit(k.toLong).as("k_items"),
      when(col("n") > 1 && vTotal =!= lit(0).cast(dec),
        r4(lit(k.toDouble / (k - 1)) *
          (lit(1.0) - vItems.cast("double") / vTotal.cast("double"))))
        .otherwise(lit(null).cast("double")).as("alpha"))
  }

  /** Cochran's Q test (Cochran 1950) — [[mcnemarTest]] generalized to k
    * PAIRED binary rules on the same corpus: "the three keep-filters
    * disagree document by document; is any of them systematically
    * stricter?" — the omnibus check run before pairwise McNemars. One
    * row: (n, k_rules, q_stat), floor-rounded, null when every document
    * is unanimous (the statistic's undefined case).
    *
    * Exactness: Q = (k−1)·(k·Σc_j² − T²) / (k·T − Σu_i²) with c_j the
    * per-rule pass masses, u_i the per-row pass counts, T = Σu — an
    * INTEGER rational (DECIMAL sums, k+2 counters) with one division.
    *
    * Scale shape: ONE single-row conditional aggregate with map-side
    * partials; no join, no window.
    */
  def cochranQ(
      df: DataFrame,
      rules: Seq[Column]): DataFrame = {
    require(rules.size >= 2, "Cochran's Q needs at least 2 rules")
    val k = rules.size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(rules.map(_.isNotNull).reduce(_ && _))
      .select((rules.zipWithIndex.map { case (r, i) =>
        when(r, 1L).otherwise(0L).as(s"_r$i") } :+
        rules.map(r => when(r, 1L).otherwise(0L)).reduce(_ + _).as("_u")): _*)
    val aggs = Seq(
      count(lit(1)).as("n"),
      coalesce(sum(col("_u").cast(dec)), lit(0).cast(dec)).as("_t"),
      coalesce(sum(col("_u").cast(dec) * col("_u").cast(dec)),
        lit(0).cast(dec)).as("_u2")) ++
      (0 until k).map(i =>
        coalesce(sum(col(s"_r$i").cast(dec)), lit(0).cast(dec)).as(s"_c$i"))
    val one = v.agg(aggs.head, aggs.tail: _*)
    val cSq = (0 until k).map(i => col(s"_c$i") * col(s"_c$i")).reduce(_ + _)
    val num = (lit(k) * cSq - col("_t") * col("_t")).cast("double")
    val den = (lit(k) * col("_t") - col("_u2")).cast("double")
    one.select(
      col("n"), lit(k.toLong).as("k_rules"),
      when(lit(k) * col("_t") =!= col("_u2"),
        r4(lit((k - 1).toDouble) * num / den))
        .otherwise(lit(null).cast("double")).as("q_stat"))
  }

  /** Kruskal-Wallis H test with tie correction (Kruskal & Wallis 1952)
    * — the RANK one-way ANOVA: [[mannWhitneyU]] generalized to k groups,
    * the nonparametric third leg of the k-group family beside
    * [[anovaF]] (means) and [[brownForsythe]] (spreads) — the test to
    * reach for when the measure is heavy-tailed and a mean shift is the
    * wrong question. One row: (n, k_groups, h, h_adj), floor-rounded,
    * h_adj null when every value is tied (the correction's undefined
    * case); h null when k < 2.
    *
    * Exactness: the r14 histogram-midrank kernel again — per-(group,
    * value) cells from ONE row-level aggregate, doubled midranks
    * m2 = 2·prefix + count + 1 from ONE [[GlobalRank.weightedPrefixSums]]
    * pass over the value table, per-group DOUBLED rank sums
    * R2_g = Σ c·m2 as DECIMAL integers, and the tie masses Σt³−t
    * likewise; the only float work is the final
    * H = 12/(n(n+1))·Σ(R2_g²/4)/n_g − 3(n+1) chain, whose Σ folds over
    * the SORTED collected group list (bounded dimension, the q229
    * idiom), and the division by the tie factor 1 − ΣT/(n³−n).
    */
  /** The driver tier of [[kruskalWallis]]. The H fold is order-dependent
    * (a double sum over the SORTED group list), so the driver sort
    * replicates sort_array's type ordering via [[groupOrdering]];
    * unsupported group-key types fall back to the distributed tier.
    */
  private def kruskalWallisLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = true),
      StructField("k_groups", LongType, nullable = true),
      StructField("h", DoubleType, nullable = true),
      StructField("h_adj", DoubleType, nullable = true)))
    // an unsupported group-key type defers without a probe
    val ord = groupOrdering(perGV.schema("_g").dataType)
    BoundedCells.fold(perGV, if (ord.isEmpty) 0L else cellLimit, schema) {
      case cells if cells.nonEmpty =>
        val sp = CellSpine.doubles(cells)
        val tt = sp.cv.iterator.map(c =>
          BigInt(c) * BigInt(c) * BigInt(c) - BigInt(c)).sum
        val gps = sp.groupPoints.map { case (g, ng, pts) =>
          val r2 = pts.iterator.map { case (i, c) =>
            BigInt(c) * BigInt(sp.m2(i)) }.sum
          (g, ng, r2)
        }.sortBy(_._1)(ord.get)
        val n = sp.n
        val k = gps.size.toLong
        val nd = n.toDouble
        var foldH = 0.0
        gps.foreach { case (_, ng, r2) =>
          foldH = foldH + decD(r2) * decD(r2) / 4 / ng.toDouble
        }
        val h = 12.0 / (nd * (nd + 1)) * foldH - 3.0 * (nd + 1)
        val corr = 1.0 - decD(tt) / (nd * nd * nd - nd)
        Some(Seq(org.apache.spark.sql.Row(
          n, k,
          if (k > 1) r4(h) else null,
          if (k > 1 && corr > 0) r4(h / corr) else null)))
      case _ => None
    }
  }

  def kruskalWallis(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localKw = kruskalWallisLocal(perGV, localSpineLimit)
    if (localKw.isDefined) return localKw.get
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val m2 = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_pfx")
      .select(col("_v"),
        (lit(2L) * col("_pfx") + col("_cv") + lit(1L)).as("_m2"),
        (col("_cv").cast(dec) * col("_cv").cast(dec) * col("_cv").cast(dec) -
          col("_cv").cast(dec)).as("_t3"))
    val ties = m2.agg(coalesce(sum(col("_t3")), lit(0).cast(dec)).as("_tt"))
    val perG = perGV.join(m2.select(col("_v"), col("_m2")), "_v")
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c").cast(dec) * col("_m2").cast(dec)).as("_r2"))
    val one = perG.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_ng"), col("_r2"))))
        .as("gs"),
      sum(col("_ng")).as("n"),
      count(lit(1)).as("k_groups"))
    val nd = col("n").cast("double")
    // Σ R_g²/n_g with R_g = R2_g/2: fold R2²/4/n_g in sorted group order
    val fold = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + e.getField("_r2").cast("double") * e.getField("_r2").cast("double") /
        4 / e.getField("_ng").cast("double"))
    val h = lit(12.0) / (nd * (nd + 1)) * fold - lit(3.0) * (nd + 1)
    val corr = lit(1.0) - col("_tt").cast("double") / (nd * nd * nd - nd)
    one.crossJoin(broadcast(ties)).select(
      col("n"), col("k_groups"),
      when(col("k_groups") > 1, r4(h))
        .otherwise(lit(null).cast("double")).as("h"),
      when(col("k_groups") > 1 && corr > 0, r4(h / corr))
        .otherwise(lit(null).cast("double")).as("h_adj"))
  }

  /** Fused k-group omnibus card — one-way ANOVA (means), Kruskal–Wallis
    * (ranks), and Mood's median (robust location) in ONE corpus pass:
    * the three k-group location readings a mixture review wants
    * together, each separately paying a full scan + cell aggregate when
    * run standalone. The fusion point is the shared (group, value) cell
    * aggregate — the ONLY corpus-width exchange — off which the ANOVA
    * moments, the pooled doubled midranks, and the pooled-median split
    * are all bounded derivations (the X313 two-sample-card discipline
    * applied to the k-group axis). One row:
    * (n, k_groups, f, eta2_bp, h, h_adj, median_v, chi2_bp, dof).
    *
    * Every leg's display chain is spelled EXACTLY as its standalone
    * operator ([[anovaF]], [[kruskalWallis]], [[moodMedian]] — the
    * KGroupCardSpec cross-pins column-for-column equality); the only
    * structural difference is Mood's grain summation folding over the
    * collected sorted group list instead of a distributed group-keyed
    * aggregate — integer grains are order-free, so the values are
    * identical by construction. Contract: an INTEGRAL measure (token
    * counts, char counts — the anovaF/moodMedian contract).
    */
  /** In-process tier of [[kGroupCard]] — all three legs (ANOVA moments,
    * doubled-midrank H, Mood grains) folded from ONE collected cell
    * table, in the sorted-group order of the distributed
    * sort_array(struct(_g, ...)) fold ([[groupOrdering]]).
    */
  private def kGroupCardLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = true),
      StructField("k_groups", LongType, nullable = true),
      StructField("f", DoubleType, nullable = true),
      StructField("eta2_bp", LongType, nullable = true),
      StructField("h", DoubleType, nullable = true),
      StructField("h_adj", DoubleType, nullable = true),
      StructField("median_v", LongType, nullable = true),
      StructField("chi2_bp", LongType, nullable = true),
      StructField("dof", LongType, nullable = true)))
    // an unsupported group-key type defers without a probe
    val ord = groupOrdering(perGV.schema("_g").dataType)
    BoundedCells.fold(perGV, if (ord.isEmpty) 0L else cellLimit, schema) {
      case cells if cells.nonEmpty =>
        val sp = CellSpine.longs(cells)
        val tt = sp.cv.iterator.map(c =>
          BigInt(c) * BigInt(c) * BigInt(c) - BigInt(c)).sum
        val med = sp.medianV
        val medIdx = java.util.Arrays.binarySearch(sp.values, med)
        // per group: ng, Σc·v, Σc·v², Σc·m2, hi — all exact integers
        val gps = sp.groupPoints.map { case (g, ng, pts) =>
          var s = BigInt(0); var q = BigInt(0); var r2 = BigInt(0)
          var hi = 0L
          pts.foreach { case (i, c) =>
            val vB = BigInt(sp.values(i))
            s += BigInt(c) * vB
            q += BigInt(c) * vB * vB
            r2 += BigInt(c) * BigInt(sp.m2(i))
            if (i > medIdx) hi += c
          }
          (g, ng, s, q, r2, hi)
        }.sortBy(_._1)(ord.get)
        val n = sp.n
        val k = gps.size.toLong
        val st = gps.iterator.map(_._3).sum
        val qt = gps.iterator.map(_._4).sum
        val ta = gps.iterator.map(_._6).sum
        val nd = n.toDouble
        val kd = k.toDouble
        val sd = decD(st)
        var foldS = 0.0
        var foldH = 0.0
        var moodQ = 0L
        val ad = ta.toDouble
        gps.foreach { case (_, ng, s, _, r2, hi) =>
          val ngd = ng.toDouble
          foldS = foldS + decD(s) * decD(s) / ngd
          foldH = foldH + decD(r2) * decD(r2) / 4 / ngd
          if (ta > 0 && ta < n) {
            val hid = hi.toDouble
            val e1 = ngd * ad / nd
            val e2 = ngd * (nd - ad) / nd
            val term = (hid - e1) * (hid - e1) / e1 +
              ((ngd - hid) - e2) * ((ngd - hid) - e2) / e2
            moodQ += floorL(term * 1073741824)
          }
        }
        val ssb = foldS - sd * sd / nd
        val sst = decD(qt) - sd * sd / nd
        val ssw = sst - ssb
        val f = ssb / (kd - 1) / (ssw / (nd - kd))
        val h = 12.0 / (nd * (nd + 1)) * foldH - 3.0 * (nd + 1)
        val corr = 1.0 - decD(tt) / (nd * nd * nd - nd)
        val okMood = k > 1 && ta > 0 && ta < n
        Some(Seq(org.apache.spark.sql.Row(
          n, k,
          if (k > 1 && n > k && ssw > 0) r4(f) else null,
          if (sst > 0) floorL(ssb / sst * 10000 + 0.5) else null,
          if (k > 1) r4(h) else null,
          if (k > 1 && corr > 0) r4(h / corr) else null,
          med,
          if (okMood) floorL(moodQ.toDouble / 1073741824 * 10000 + 0.5)
          else null,
          if (okMood) k - 1 else null)))
      case _ => None
    }
  }

  def kGroupCard(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = BoundedCells.cellTable(df, valueCol, groupCol, "long")
    val localKg = kGroupCardLocal(cells, localSpineLimit)
    if (localKg.isDefined) return localKg.get
    val perV = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val pref = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_pfx")
      .select(col("_v"), col("_cv"), col("_pfx"),
        (lit(2L) * col("_pfx") + col("_cv") + lit(1L)).as("_m2"),
        (col("_cv").cast(dec) * col("_cv").cast(dec) * col("_cv").cast(dec) -
          col("_cv").cast(dec)).as("_t3"))
    val ties = pref.agg(coalesce(sum(col("_t3")), lit(0).cast(dec)).as("_tt"))
    val totalsN = perV.agg(coalesce(sum(col("_cv")), lit(0L)).as("_tn"))
    val med = pref.crossJoin(broadcast(totalsN))
      .filter((col("_pfx") + col("_cv")) * 2 >= col("_tn"))
      .agg(min(col("_v")).as("_m"))
    val perG = cells
      .join(pref.select(col("_v"), col("_m2")), "_v")
      .crossJoin(broadcast(med))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c").cast(dec) * col("_v").cast(dec)).as("_s"),
        sum(col("_c").cast(dec) * col("_v").cast(dec) * col("_v").cast(dec))
          .as("_q"),
        sum(col("_c").cast(dec) * col("_m2").cast(dec)).as("_r2"),
        sum(when(col("_v") > col("_m"), col("_c")).otherwise(0L)).as("_hi"))
    val one = perG.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_ng"), col("_s"),
        col("_r2"), col("_hi")))).as("gs"),
      sum(col("_ng")).as("n"),
      count(lit(1)).as("k_groups"),
      sum(col("_s")).as("_st"),
      sum(col("_q")).as("_qt"),
      coalesce(sum(col("_hi")), lit(0L)).as("_ta"))
      .crossJoin(broadcast(ties))
      .crossJoin(broadcast(med))
    val nd = col("n").cast("double")
    val kd = col("k_groups").cast("double")
    val sd = col("_st").cast("double")
    // ANOVA (anovaF's spelling)
    val ssb = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + e.getField("_s").cast("double") * e.getField("_s").cast("double") /
        e.getField("_ng").cast("double")) - sd * sd / nd
    val sst = col("_qt").cast("double") - sd * sd / nd
    val ssw = sst - ssb
    val f = ssb / (kd - 1) / (ssw / (nd - kd))
    // KW (kruskalWallis's spelling)
    val foldH = aggregate(col("gs"), lit(0.0), (a, e) =>
      a + e.getField("_r2").cast("double") * e.getField("_r2").cast("double") /
        4 / e.getField("_ng").cast("double"))
    val h = lit(12.0) / (nd * (nd + 1)) * foldH - lit(3.0) * (nd + 1)
    val corr = lit(1.0) - col("_tt").cast("double") / (nd * nd * nd - nd)
    // Mood (moodMedian's spelled per-group term; grains fold in-row —
    // integer grains are order-free, so the distributed-vs-collected
    // summation difference cannot move a value)
    val ad = col("_ta").cast("double")
    def moodTerm(e: Column): Column = {
      val ngd = e.getField("_ng").cast("double")
      val hid = e.getField("_hi").cast("double")
      val e1 = ngd * ad / nd
      val e2 = ngd * (nd - ad) / nd
      (hid - e1) * (hid - e1) / e1 +
        ((ngd - hid) - e2) * ((ngd - hid) - e2) / e2
    }
    val moodQ = when(col("_ta") > 0 && col("_ta") < col("n"),
      aggregate(col("gs"), lit(0L), (a, e) =>
        a + floor(moodTerm(e) * 1073741824).cast("long")))
      .otherwise(lit(0L))
    val okMood = col("k_groups") > 1 && col("_ta") > 0 &&
      col("_ta") < col("n")
    one.select(
      col("n"), col("k_groups"),
      when(col("k_groups") > 1 && col("n") > col("k_groups") && ssw > 0,
        r4(f)).otherwise(lit(null).cast("double")).as("f"),
      when(sst > 0,
        floor(ssb / sst * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("eta2_bp"),
      when(col("k_groups") > 1, r4(h))
        .otherwise(lit(null).cast("double")).as("h"),
      when(col("k_groups") > 1 && corr > 0, r4(h / corr))
        .otherwise(lit(null).cast("double")).as("h_adj"),
      col("_m").as("median_v"),
      when(okMood,
        floor(moodQ.cast("double") / 1073741824 * 10000 + lit(0.5))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("chi2_bp"),
      when(okMood, (col("k_groups") - 1).cast("long"))
        .otherwise(lit(null).cast("long")).as("dof"))
  }

  /** Dunn's post-hoc pairwise comparisons (Dunn 1964, tie-corrected —
    * the follow-up [[kruskalWallis]] owes its readers: the omnibus H
    * says SOME group differs; this says WHICH PAIRS, on the same pooled
    * midranks, z_ij = (R̄_i − R̄_j) / √(B·(1/n_i + 1/n_j)) with
    * B = (N(N+1) − Σ(t³−t)/(N−1))/12). One row per unordered group
    * pair (group_a < group_b): (group_a, group_b, n_a, n_b, z_bp,
    * reject) — z signed BIGINT basis points, reject = |z| ≥ `zCrit`
    * (the caller's per-pair critical value — e.g. 3.2905 for two-sided
    * α ≈ 0.001; pick it Bonferroni/BH-style for the pair count, the
    * q232 FDR discipline applies downstream if p-level control is
    * wanted). All-tied pools (B = 0) report NULL displays; a single
    * group yields an empty frame.
    *
    * Float discipline: the rank-mean difference clears to the exact
    * DECIMAL(38,0) numerator R2_i·n_j − R2_j·n_i over 2·n_i·n_j (the
    * doubled-midrank sums R2 are integers), and the variance numerator
    * N(N+1)(N−1) − Σ(t³−t) is one exact integer — the z chain is three
    * divisions and one sqrt, spelled once, engine-replayable.
    *
    * Scale shape: [[kruskalWallis]]'s exactly — ONE row-level hash agg
    * to (group, value) cells, one `weightedPrefixSums` pass, a
    * groups-bounded collect to one row, pairs exploded in-row (k(k−1)/2
    * rows, k bounded). No window over rows, no row-level self-join.
    */
  /** In-process tier of [[dunnPostHoc]] — midrank sums + tie mass from
    * the collected cell table, pairs in sorted-group order (the
    * distributed form explodes i < j over the sorted collected list, so
    * pair ORDER and sides replicate via [[groupOrdering]]).
    */
  private def dunnPostHocLocal(
      perGV: DataFrame,
      cellLimit: Long,
      zCrit: Double): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val gType = perGV.schema("_g").dataType
    val schema = StructType(Seq(
      StructField("group_a", gType, nullable = true),
      StructField("group_b", gType, nullable = true),
      StructField("n_a", LongType, nullable = true),
      StructField("n_b", LongType, nullable = true),
      StructField("z_bp", LongType, nullable = true),
      StructField("reject", BooleanType, nullable = true)))
    // an unsupported group-key type defers without a probe
    val ord = groupOrdering(gType)
    BoundedCells.fold(perGV, if (ord.isEmpty) 0L else cellLimit, schema) {
      case cells if cells.nonEmpty =>
        val sp = CellSpine.doubles(cells)
        val tt = sp.cv.iterator.map(c =>
          BigInt(c) * BigInt(c) * BigInt(c) - BigInt(c)).sum
        val gps = sp.groupPoints.map { case (g, ng, pts) =>
          val r2 = pts.iterator.map { case (i, c) =>
            BigInt(c) * BigInt(sp.m2(i)) }.sum
          (g, ng, r2)
        }.sortBy(_._1)(ord.get)
        val n = sp.n
        val nB = BigInt(n)
        val nd = n.toDouble
        val vE = nB * (nB + 1) * (nB - 1) - tt
        val ok = n > 1 && vE > 0
        val zcBp = math.floor(zCrit * 10000 + 0.5).toLong
        Some(for {
          i <- gps.indices
          j <- (i + 1) until gps.size
        } yield {
          val (ga, na, r2a) = gps(i)
          val (gb, nb, r2b) = gps(j)
          val naD = na.toDouble
          val nbD = nb.toDouble
          val dnum = r2a * BigInt(nb) - r2b * BigInt(na)
          val z = (decD(dnum) / (2.0 * naD * nbD)) /
            math.sqrt(decD(vE) / (12.0 * (nd - 1)) * (naD + nbD) /
              (naD * nbD))
          val zb: Any = if (ok) floorL(z * 10000 + 0.5) else null
          val rej: Any = zb match {
            case l: Long => math.abs(l) >= zcBp
            case _ => null
          }
          org.apache.spark.sql.Row(ga, gb, na, nb, zb, rej)
        })
      case _ => None
    }
  }

  def dunnPostHoc(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      zCrit: Double = 3.2905,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    require(zCrit >= 0, "zCrit is a two-sided critical value, >= 0")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localDp = dunnPostHocLocal(perGV, localSpineLimit, zCrit)
    if (localDp.isDefined) return localDp.get
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val m2 = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_pfx")
      .select(col("_v"),
        (lit(2L) * col("_pfx") + col("_cv") + lit(1L)).as("_m2"),
        (col("_cv").cast(dec) * col("_cv").cast(dec) * col("_cv").cast(dec) -
          col("_cv").cast(dec)).as("_t3"))
    val ties = m2.agg(coalesce(sum(col("_t3")), lit(0).cast(dec)).as("_tt"))
    val perG = perGV.join(m2.select(col("_v"), col("_m2")), "_v")
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c").cast(dec) * col("_m2").cast(dec)).as("_r2"))
    val one = perG.groupBy().agg(
      sort_array(collect_list(struct(col("_g"), col("_ng"), col("_r2"))))
        .as("gs"),
      sum(col("_ng")).as("n"),
      count(lit(1)).as("k_groups"))
      .crossJoin(broadcast(ties))
    // sequence(1, 0) would step DOWNWARD on a single group (the bhAdjust
    // lesson): pair indices only build past the k > 1 filter
    val pairs = one.filter(col("k_groups") > 1)
      .select(col("n"), col("_tt"),
        explode(flatten(transform(sequence(lit(1), size(col("gs")) - 1),
          i => transform(sequence(i + 1, size(col("gs"))), j =>
            struct(element_at(col("gs"), i.cast("int")).as("a"),
              element_at(col("gs"), j.cast("int")).as("b")))))).as("p"))
    def side(s: String, f: String) =
      col("p").getField(s).getField(f)
    val naD = side("a", "_ng").cast("double")
    val nbD = side("b", "_ng").cast("double")
    val nd = col("n").cast("double")
    // exact integers: rank-mean difference numerator and the variance
    // numerator N(N+1)(N−1) − Σ(t³−t)
    val dnum = side("a", "_r2") * side("b", "_ng").cast(dec) -
      side("b", "_r2") * side("a", "_ng").cast(dec)
    val vE = col("n").cast(dec) * (col("n").cast(dec) + 1) *
      (col("n").cast(dec) - 1) - col("_tt")
    val z = (dnum.cast("double") / (lit(2.0) * naD * nbD)) /
      sqrt(vE.cast("double") / (lit(12.0) * (nd - 1)) * (naD + nbD) /
        (naD * nbD))
    val ok = col("n") > 1 && vE > 0
    val zcBp = math.floor(zCrit * 10000 + 0.5).toLong
    val withZ = pairs.withColumn("_zb",
      when(ok, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")))
    withZ.select(
      side("a", "_g").as("group_a"), side("b", "_g").as("group_b"),
      side("a", "_ng").as("n_a"), side("b", "_ng").as("n_b"),
      col("_zb").as("z_bp"),
      when(col("_zb").isNotNull, abs(col("_zb")) >= zcBp)
        .otherwise(lit(null).cast("boolean")).as("reject"))
  }

  /** Uncertainty coefficient (Theil's U, 1970) + mutual information for
    * two categorical columns — the DIRECTIONAL association audit
    * [[chiSquareIndependence]] can't give: U(X|Y) = I(X;Y)/H(X) is the
    * fraction of X's entropy that knowing Y removes ("how much does the
    * source tell you about the language?" is a different number from the
    * reverse). One row: (n, k_x, k_y, h_x, h_y, mi, u_xy, u_yx), nats
    * floor-rounded to 4 digits, U null when the conditioned axis is
    * constant.
    *
    * Float discipline: every entropy/MI term folds over SORTED collected
    * arrays (cells by (x, y), marginals by key — the q186 chi-square
    * idiom: bounded label spaces make the lists in-row, and a
    * deterministic fold order makes the double sums engine-replayable);
    * marginal lists derive in-row from the sorted cell list via
    * array_distinct (first-occurrence order of a sorted list is the
    * sorted order). Ratios use the UNROUNDED folds and round once.
    *
    * Scale shape: one row-level hash aggregate to cells, two cell-sized
    * marginal aggregates + broadcast joins, one single-row fold. No
    * cross join, no window.
    */
  def uncertaintyCoefficient(
      df: DataFrame,
      xCol: Column,
      yCol: Column): DataFrame = {
    val v = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.as("_x"), yCol.as("_y"))
    val cells = v.groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_c"))
    val ra = cells.groupBy(col("_x")).agg(sum(col("_c")).as("_r"))
    val cb = cells.groupBy(col("_y")).agg(sum(col("_c")).as("_s"))
    val one = cells
      .join(broadcast(ra), "_x").join(broadcast(cb), "_y")
      .groupBy()
      .agg(
        sort_array(collect_list(struct(
          col("_x"), col("_y"), col("_c"), col("_r"), col("_s")))).as("cs"),
        sum(col("_c")).as("n"),
        countDistinct(col("_x")).as("k_x"),
        countDistinct(col("_y")).as("k_y"))
    val nd = col("n").cast("double")
    // sort_array AFTER the distinct: the cell list is sorted by (x, y),
    // so the y-keyed distinct comes out in first-occurrence order (grouped
    // by ascending x) — but the oracle folds ORDER BY the marginal key,
    // and double addition is non-associative, so the fold order must be
    // the key order on BOTH axes (for x it is already; sorting is a no-op)
    def margList(key: String, mass: String) = sort_array(array_distinct(
      transform(col("cs"), e =>
        struct(e.getField(key).as("k"), e.getField(mass).as("m")))))
    def entropy(list: Column) = -aggregate(list, lit(0.0), (a, e) =>
      a + e.getField("m").cast("double") / nd *
        log(e.getField("m").cast("double") / nd))
    val hx = entropy(margList("_x", "_r"))
    val hy = entropy(margList("_y", "_s"))
    val mi = aggregate(col("cs"), lit(0.0), (a, e) =>
      a + e.getField("_c").cast("double") / nd *
        log(nd * e.getField("_c").cast("double") /
          (e.getField("_r").cast("double") * e.getField("_s").cast("double"))))
    one.select(
      col("n"), col("k_x"), col("k_y"),
      r4(hx).as("h_x"), r4(hy).as("h_y"), r4(mi).as("mi"),
      when(col("k_x") > 1, r4(mi / hx))
        .otherwise(lit(null).cast("double")).as("u_xy"),
      when(col("k_y") > 1, r4(mi / hy))
        .otherwise(lit(null).cast("double")).as("u_yx"))
  }

  /** Kendall tau-b rank correlation with full tie correction (Kendall
    * 1938; tau-b per Kendall 1945) between two ORDINAL columns — the
    * pairwise-agreement companion to [[spearmanCorrelation]]: Spearman
    * correlates midranks, tau-b asks directly "of all comparable pairs,
    * how many order the same way?" — the statistic quoted for
    * band-vs-band and rating-vs-rating agreement. One row:
    * (n, n_concordant, n_discordant, tau_b).
    *
    * Contract: inputs are ordinals (bands, deciles, ratings — integral
    * casts), so the (x, y) grid is BOUNDED by the band-space square.
    * The corpus collapses to grid cells in ONE distributed hash
    * aggregate; the concordant/discordant masses then come from a
    * driver pass over the collected grid (a Fenwick tree over the y
    * axis in ascending x order — O(cells·log), the [[Graphs]]
    * fit-small-scalars discipline, with a loud guard past `maxCells`).
    * All masses are BigInt-exact; tau-b = (C−D)/√((n₀−n₁)(n₀−n₂))
    * happens in ONE double chain, floor-rounded, null when either axis
    * is constant. C and D render as BIGINT (exact below n ≈ 4·10⁹ pairs
    * of pairs — past that, read tau_b, which is computed from the exact
    * BigInt masses regardless).
    */
  /** Exact pairwise-order masses of a bounded ordinal grid — the shared
    * driver kernel behind [[kendallTauB]] and [[ordinalAssociationCard]]:
    * the corpus collapses to (x, y) cells in ONE distributed hash
    * aggregate, then a Fenwick tree over the y axis in ascending x order
    * yields concordant/discordant pair masses in O(cells·log) with
    * BigInt exactness. The caller-facing contract (bounded band-space
    * grid, loud guard past `maxCells`) is documented on the public
    * entry points.
    */
  private final case class OrdinalPairMasses(
      n: Long, conc: BigInt, disc: BigInt,
      n0: BigInt, tiesX: BigInt, tiesY: BigInt, kX: Long, kY: Long)

  private def ordinalPairMasses(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      maxCells: Int,
      caller: String): OrdinalPairMasses = {
    import org.apache.spark.sql.Row
    // collect through limit(maxCells + 1): the guard must fire BEFORE the
    // grid materializes on the driver — a miscall on a continuous
    // (unbucketed) column would otherwise OOM the driver before the
    // require ever ran. If the limited fetch comes back within budget it
    // IS the complete grid (limit only truncates past the bound).
    val cells = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_c"))
      .limit(maxCells + 1)
      .collect()
    require(cells.length <= maxCells,
      s"$caller: > $maxCells grid cells — this is the ordinal " +
        "(band/decile/rating) pairwise audit; bucket continuous axes first")
    val yRanks = cells.map(_.getLong(1)).distinct.sorted.zipWithIndex.toMap
    val fen = new Array[Long](yRanks.size + 1)
    def fenAdd(i0: Int, v: Long): Unit = {
      var i = i0 + 1
      while (i < fen.length) { fen(i) += v; i += i & -i }
    }
    def fenPrefix(i0: Int): Long = { // inclusive prefix of ranks <= i0
      var i = i0 + 1; var s = 0L
      while (i > 0) { s += fen(i); i -= i & -i }
      s
    }
    var cBig = BigInt(0); var dBig = BigInt(0)
    var inserted = 0L
    cells.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (_, grp) =>
      grp.foreach { r =>
        val yr = yRanks(r.getLong(1)); val c = r.getLong(2)
        val below = if (yr == 0) 0L else fenPrefix(yr - 1)
        val above = inserted - fenPrefix(yr)
        cBig += BigInt(c) * below
        dBig += BigInt(c) * above
      }
      grp.foreach { r => fenAdd(yRanks(r.getLong(1)), r.getLong(2)) }
      inserted += grp.map(_.getLong(2)).sum
    }
    val n = BigInt(inserted)
    def tiePairs(key: Row => Long): BigInt =
      cells.groupBy(key).values.map { g =>
        val t = BigInt(g.map(_.getLong(2)).sum); t * (t - 1) / 2
      }.sum
    OrdinalPairMasses(inserted, cBig, dBig, n * (n - 1) / 2,
      tiePairs(_.getLong(0)), tiePairs(_.getLong(1)),
      cells.map(_.getLong(0)).distinct.length.toLong,
      yRanks.size.toLong)
  }

  def kendallTauB(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      maxCells: Int = 10000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
    val spark = df.sparkSession
    val m = ordinalPairMasses(df, xCol, yCol, maxCells, "kendallTauB")
    val tau: Any =
      if (m.n0 > m.tiesX && m.n0 > m.tiesY) {
        val t = (m.conc - m.disc).toDouble /
          math.sqrt((m.n0 - m.tiesX).toDouble * (m.n0 - m.tiesY).toDouble)
        math.floor(t * 10000 + 0.5) / 10000
      } else null
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(m.n, m.conc.toLong, m.disc.toLong, tau)),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("n_concordant", LongType, nullable = false),
        StructField("n_discordant", LongType, nullable = false),
        StructField("tau_b", DoubleType, nullable = true))))
  }

  /** Ordinal association card — Goodman–Kruskal gamma, Somers' D (both
    * directions), and Stuart's tau-c in one pass (Goodman & Kruskal
    * 1954; Somers 1962; Stuart 1953) — the measures that complete
    * [[kendallTauB]]'s pairwise-order family, each answering a question
    * tau-b can't: gamma ignores ALL ties (the association among pairs
    * that actually order — highest magnitude, the classic cross-tab
    * report number); Somers' D is the ASYMMETRIC form (ties removed only
    * on the predictor side — "how much does knowing the token band
    * improve ordering on the length band?", the regression-flavored
    * read, and the statistic behind the c-index); tau-c rescales for
    * non-square tables where tau-b cannot reach ±1. One row:
    * (n, k_x, k_y, gamma, somers_d_yx, somers_d_xy, tau_c).
    *
    * Same contract and kernel as [[kendallTauB]]: bounded ordinal grid,
    * ONE distributed contingency aggregate, the Fenwick driver pass for
    * BigInt-exact C/D/tie masses, every statistic ONE double chain over
    * exact integers, floor-rounded to 4 digits. Nulls: gamma when no
    * pair orders (C+D = 0), each Somers' D when its denominator
    * degenerates, tau-c when either axis is constant.
    */
  def ordinalAssociationCard(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      maxCells: Int = 10000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
    val spark = df.sparkSession
    val m = ordinalPairMasses(df, xCol, yCol, maxCells, "ordinalAssociationCard")
    val s = (m.conc - m.disc).toDouble
    def r4(x: Double): Any = math.floor(x * 10000 + 0.5) / 10000
    val gamma: Any =
      if (m.conc + m.disc > 0) r4(s / (m.conc + m.disc).toDouble) else null
    // D(Y|X): ties on the PREDICTOR x drop from the denominator
    val dYX: Any =
      if (m.n0 > m.tiesX) r4(s / (m.n0 - m.tiesX).toDouble) else null
    val dXY: Any =
      if (m.n0 > m.tiesY) r4(s / (m.n0 - m.tiesY).toDouble) else null
    val mm = math.min(m.kX, m.kY)
    val tauC: Any =
      if (mm > 1 && m.n > 0)
        r4(2.0 * mm.toDouble * s /
          (m.n.toDouble * m.n.toDouble * (mm - 1).toDouble))
      else null
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(m.n, m.kX, m.kY, gamma, dYX, dXY, tauC)),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("k_x", LongType, nullable = false),
        StructField("k_y", LongType, nullable = false),
        StructField("gamma", DoubleType, nullable = true),
        StructField("somers_d_yx", DoubleType, nullable = true),
        StructField("somers_d_xy", DoubleType, nullable = true),
        StructField("tau_c", DoubleType, nullable = true))))
  }

  /** Numeric-feature PSI — the form the industry actually monitors
    * (model scores, numeric features; Siddiqi 2006): equal-frequency
    * bins are cut from the REFERENCE snapshot's exact deciles (so the
    * reference occupies each bin ~uniformly and any drift shows as
    * mass imbalance), both snapshots count into those bins, and
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-1 smoothing over the
    * B-bin spine, banded like the token-mix PSI (< 0.1 stable, < 0.25
    * moderate, else major; band from the ROUNDED value).
    *
    * The cutpoints are exact interpolated order statistics from
    * [[GlobalRank.percentileValues]] (distributed ranks — no
    * whole-column aggregation state, the r13 percentile discipline) and
    * enter the plan as literals, so binning is a map-side comparison
    * chain; counting is ONE union + ONE bin-keyed hash aggregate; the
    * PSI fold runs over the fixed B-row spine. Corpus size only ever
    * flows through an 8-byte bin id.
    */
  def scoreDrift(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      idCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 1 && bins <= 10000, "2 <= bins <= 10000")
    val probs = (1 until bins).map(_.toDouble / bins)
    val cuts = GlobalRank.percentileValues(ref, valueCol, idCol, probs)
      .getOrElse(throw new IllegalArgumentException(
        "scoreDrift needs a non-empty reference"))
    val binExpr = cuts.zipWithIndex.reverse
      .foldLeft(lit((bins - 1).toLong)) { case (els, (c, i)) =>
        when(col("_v") < lit(c), lit(i.toLong)).otherwise(els)
      }
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val counts = sided(ref, 0).unionAll(sided(cur, 1))
      .select(binExpr.as("bin"), col("_s"))
      .groupBy(col("bin"))
      .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("cr"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("cc"))
    val totals = counts.agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    val spine = ref.sparkSession.range(bins).select(col("id").as("bin"))
    val pr = (coalesce(col("cr"), lit(0L)) + 1.0) / (col("nr") + bins)
    val pc = (coalesce(col("cc"), lit(0L)) + 1.0) / (col("nc") + bins)
    spine
      .join(counts, Seq("bin"), "left")
      .crossJoin(broadcast(totals))
      .agg(
        first(col("nr")).as("n_ref"),
        first(col("nc")).as("n_cur"),
        round(sum((pr - pc) * log(pr / pc)), 4).as("psi"))
      .select(col("n_ref"), col("n_cur"), col("psi"),
        when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") < 0.25, lit("moderate"))
          .otherwise(lit("major")).as("band"))
  }

  /** Group-fairness audit of a thresholded scorer (Barocas-Hardt-
    * Narayanan 2019; Hardt et al. NeurIPS 2016): per group, the full
    * confusion-matrix masses plus the three rates the standard criteria
    * read — selection rate (demographic parity), TPR and FPR (equalized
    * odds). The audit a curation team runs before shipping a quality
    * filter that might silently starve a language or source of its
    * training share.
    *
    * Everything is integer by construction: the decision
    * score ≥ threshold evaluates as the cross-multiplication
    * num·thrDen ≥ thrNum·den in DECIMAL (exact — no division, no float
    * threshold), the masses are counts, and the rates are BIGINT basis
    * points (floor(r·1e4 + 0.5)); a rate whose denominator is empty
    * (no positives / no negatives in the group) is NULL, mirroring its
    * undefinedness. One hash aggregate keyed by group — map-side
    * partials, groups-bounded output, no window, no collect.
    */
  def fairnessAudit(
      df: DataFrame,
      groupCol: String,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      thrNum: Long,
      thrDen: Long): DataFrame = {
    require(thrDen > 0 && thrNum >= 0, "threshold as a non-negative rational")
    val rows = df
      .filter(col(groupCol).isNotNull && scoreNum.isNotNull &&
        scoreDen.isNotNull && label.isNotNull && scoreDen.cast("long") > 0L)
      .select(col(groupCol).as("grp"),
        scoreNum.cast("long").as("_num"), scoreDen.cast("long").as("_den"),
        label.cast("boolean").as("_y"))
      .selectExpr("grp", "_y",
        s"CAST(_num AS DECIMAL(38,0)) * $thrDen >= " +
          s"CAST(_den AS DECIMAL(38,0)) * $thrNum AS _pred")
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    rows.groupBy(col("grp").as("group_key"))
      .agg(count(lit(1)).as("n"),
        cnt(col("_y")).as("n_label_pos"),
        cnt(col("_pred")).as("n_pred_pos"),
        cnt(col("_pred") && col("_y")).as("tp"),
        cnt(col("_pred") && !col("_y")).as("fp"),
        cnt(!col("_pred") && col("_y")).as("fn"),
        cnt(!col("_pred") && !col("_y")).as("tn"))
      .select(col("group_key"), col("n"), col("n_label_pos"),
        col("n_pred_pos"), col("tp"), col("fp"), col("fn"), col("tn"),
        bp(col("n_pred_pos").cast("double") / col("n")).as("selection_rate_bp"),
        when(col("n_label_pos") > 0,
          bp(col("tp").cast("double") / col("n_label_pos"))).as("tpr_bp"),
        when(col("n") - col("n_label_pos") > 0,
          bp(col("fp").cast("double") / (col("n") - col("n_label_pos"))))
          .as("fpr_bp"))
  }

  /** One-row roll-up of [[fairnessAudit]]: the worst-case cross-group
    * gaps the fairness criteria threshold on — demographic parity gap
    * (max − min selection rate), TPR/FPR gaps over the groups where each
    * is defined, and the equalized-odds gap (the larger of the two). All
    * integer arithmetic over the groups-bounded audit frame.
    */
  def fairnessGaps(
      df: DataFrame,
      groupCol: String,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      thrNum: Long,
      thrDen: Long): DataFrame = {
    fairnessAudit(df, groupCol, scoreNum, scoreDen, label, thrNum, thrDen)
      .agg(count(lit(1)).as("n_groups"),
        (max(col("selection_rate_bp")) - min(col("selection_rate_bp")))
          .as("parity_gap_bp"),
        (max(col("tpr_bp")) - min(col("tpr_bp"))).as("tpr_gap_bp"),
        (max(col("fpr_bp")) - min(col("fpr_bp"))).as("fpr_gap_bp"))
      .select(col("n_groups"), col("parity_gap_bp"), col("tpr_gap_bp"),
        col("fpr_gap_bp"),
        greatest(col("tpr_gap_bp"), col("fpr_gap_bp")).as("eo_gap_bp"))
  }

  /** One-row roll-up of [[calibrationReport]]: expected calibration error
    * ECE = Σ_b (n_b/N)·|mean_b − rate_b| and the mean Brier score, both
    * as BIGINT basis points beside their integer masses. The ECE fold
    * runs over the B-bounded bin table in sorted bin order (sorted
    * collect → left fold, the engine-portable association for a ≤B-term
    * double sum); the Brier mass is an order-free integer sum.
    */
  def calibrationSummary(
      df: DataFrame,
      scoreNum: Column,
      scoreDen: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    val rep = calibrationReport(df, scoreNum, scoreDen, label, bins)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    rep
      .groupBy()
      .agg(
        sort_array(collect_list(struct(
          col("bin"), col("n"), col("n_pos"), col("score_q20_sum")))).as("bs"),
        sum(col("n")).as("n"),
        sum(col("n_pos")).as("n_pos"),
        sum(col("brier_q20_sum").cast(dec)).as("_b"))
      .select(col("n"), col("n_pos"),
        bp(aggregate(col("bs"), lit(0.0), (a, e) => {
          val nb = e.getField("n").cast("double")
          a + nb / col("n").cast("double") *
            abs(e.getField("score_q20_sum").cast("double") / (nb * 1048576.0) -
              e.getField("n_pos").cast("double") / nb)
        })).as("ece_bp"),
        bp(col("_b").cast("double") /
          (col("n").cast("double") * 1048576.0)).as("brier_bp"))
  }

  /** Two-sample Cramér–von Mises criterion, ECDF functional form with
    * ties (Anderson 1962, "On the distribution of the two-sample
    * Cramér-von Mises criterion", Ann. Math. Statist. 33):
    * T = n_a·n_b/N² · Σ_z (F_a(z) − F_b(z))² over the N pooled
    * observations z — the L2 member of the two-sample drift family the
    * board already carries: KS ([[ksTest]]) is the sup-norm (one bad
    * gap anywhere trips it), W₁ ([[wassersteinDistance]]) the L1
    * transport cost, T the L2 that weights SUSTAINED separation over a
    * single spike. Ties are first-class: the sum runs value-class by
    * value-class weighted by the pooled class count h_v, with both
    * ECDFs right-continuous (evaluated AT the class). One row:
    * (n_a, n_b, t_bp).
    *
    * Exactness discipline (the q222/q235 per-term quantization): at
    * each distinct value the CDF-gap numerator
    * dnum = |cum_a·n_b − cum_b·n_a| is an exact DECIMAL(38,0) integer
    * (the [[ksTest]] cross-mass — no float CDF accumulates along the
    * value axis); the per-class term h·(dnum/(n_a·n_b))² floors to
    * ⌊term·2³⁰⌋ LONG, so the cross-class sum is an ORDER-FREE integer
    * sum both engines replay bit-for-bit (double addition of raw terms
    * would make the total depend on association). Squaring happens in
    * doubles AFTER the exact integer numerator forms — deterministic
    * IEEE both sides — and T renders as BIGINT basis points (the q200
    * integer-display discipline, day one).
    *
    * Scale shape: one union + one value-keyed hash agg (the only
    * corpus-wide exchange carries distinct values), two bounded
    * prefix-sum passes over the value table, one single-row integer
    * aggregate — the ksTest plan with a different final fold.
    */
  def cramerVonMises(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (spine, tna, tnb) = twoSampleSpine(sided(a, 0).unionAll(sided(b, 1)))
    val cums = spine
      .select(col("_ca"), col("_cb"),
        (col("_xa") + col("_ca")).as("_cuma"),
        (col("_xb") + col("_cb")).as("_cumb"))
    val totals = totalsRow(a.sparkSession, tna, tnb)
    val dnum = abs(col("_cuma").cast(dec) * col("_nb").cast(dec) -
      col("_cumb").cast(dec) * col("_na").cast(dec))
    val nad = col("_na").cast("double")
    val nbd = col("_nb").cast("double")
    val nnd = (col("_na") + col("_nb")).cast("double")
    // the verbatim float sequence the oracle replays: gap = dnum/(na·nb)
    // twice (NOT gap² via pow), h·gap·gap, floor to 2^-30 grains
    val gap = dnum.cast("double") / (nad * nbd)
    val term = floor((col("_ca") + col("_cb")).cast("double") *
      gap * gap * lit(1073741824.0)).cast("long")
    val t = col("_s").cast("double") / 1073741824.0 *
      (nad * nbd) / (nnd * nnd)
    // aggregate ONLY the quantized mass here, then crossJoin the totals
    // row AFTER (the r14-advisor wassersteinDistance pattern): with an
    // empty or one-sided input the term frame is empty and a first(_na)
    // over zero rows would report NULL counts while the totals row holds
    // the real ones
    cums
      .crossJoin(broadcast(totals))
      .agg(coalesce(sum(term), lit(0L)).as("_s"))
      .crossJoin(broadcast(totals))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        when(col("_na") > 0 && col("_nb") > 0,
          floor(t * 10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("t_bp"))
  }

  /** k-sample Anderson–Darling test, tie-adjusted midrank form (Scholz
    * & Stephens 1987, "K-Sample Anderson-Darling Tests", JASA 82, their
    * A²akN — the discrete/midrank variant every reference
    * implementation ships for tied data): the omnibus "did ANY source's
    * distribution drift?" with the AD weight 1/(H(1−H)) that makes it
    * TAIL-SENSITIVE where [[kruskalWallis]] sees location and
    * [[groupedKsTest]] the single worst gap — short-document spikes and
    * truncation-length shifts live in the tails this statistic was
    * built for. One row: (k, n, a2_bp).
    *
    * A²akN = (N−1)/N · Σ_i 1/n_i · Σ_j h_j/N ·
    * (N·M_ij − n_i·B_j)² / (B_j(N−B_j) − N·h_j/4), with B_j the pooled
    * cumulative minus h_j/2 and M_ij sample i's cumulative minus
    * h_ij/2 (midranks). Doubling clears the halves: 2B = 2·cum − h and
    * 2M = 2·cum_i − c are exact integers, the squared numerator is
    * (N·2M − n_i·2B)²/4 and the denominator (2B·(2N−2B) − N·h)/4, so
    * the ratio's integer core inum = N·2M − n_i·2B and
    * iden = 2B·(2N−2B) − N·h form in DECIMAL(38,0) with no float
    * before the per-cell term. Each term then floors to ⌊term·2³⁰⌋
    * LONG (the q222/q235 order-free-integer-sum discipline — a raw
    * double Σ over groups × values would be association-dependent),
    * and A² renders as BIGINT basis points. iden vanishes only when a
    * single value class holds the whole pool (all values tied) — the
    * degenerate input reports NULL.
    *
    * Scale shape: [[groupedKsTest]]'s spine verbatim — one
    * per-(group, value) hash agg is the only corpus-width exchange
    * (persisted: the pooled histogram, group table, and totals all
    * derive from it), one bounded prefix-sum pass, the bounded-groups
    * broadcast cross, a PARTITIONED per-group window, one single-row
    * integer aggregate.
    */
  def andersonDarlingK(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
      .persist()
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val totals = perV.agg(
      coalesce(sum(col("_cv")), lit(0L)).as("_n"),
      count(lit(1)).as("_m"))
    val cumAll = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_xa")
      .select(col("_v"), col("_cv"), (col("_xa") + col("_cv")).as("_cumall"))
    val spine = cumAll.crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_ng"), col("_v"), col("_cv"), col("_cumall"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val cumG = sum(col("_c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val nDec = col("_n").cast(dec)
    val b2 = lit(2).cast(dec) * col("_cumall").cast(dec) - col("_cv").cast(dec)
    val m2 = lit(2).cast(dec) * col("_cumg").cast(dec) - col("_c").cast(dec)
    val inum = nDec * m2 - col("_ng").cast(dec) * b2
    val iden = b2 * (lit(2).cast(dec) * nDec - b2) - nDec * col("_cv").cast(dec)
    val nd = col("_n").cast("double")
    val ngd = col("_ng").cast("double")
    // verbatim float sequence (oracle replays it): ratio = (inum/iden)
    // via inum·inum/iden, scaled by the pooled class weight h/N and the
    // per-sample 1/n_i, floored to 2^-30 grains — an order-free LONG sum
    val term = floor(inum.cast("double") * inum.cast("double") /
      iden.cast("double") * (col("_cv").cast("double") / nd) / ngd *
      lit(1073741824.0)).cast("long")
    val kTab = groups.agg(count(lit(1)).as("k"))
    // aggregate ONLY the quantized mass, then crossJoin the totals and
    // group-count rows AFTER (the r14-advisor wassersteinDistance
    // pattern) so k/n report real counts even on a degenerate spine
    spine
      .withColumn("_cumg", cumG)
      .crossJoin(broadcast(totals))
      .groupBy()
      .agg(
        // iden = 0 ⟺ the single all-tied value class — excluded here,
        // surfaced as the NULL display below via the _m = 1 gate
        coalesce(sum(when(iden > lit(0).cast(dec), term)), lit(0L)).as("_s"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(kTab))
      .select(col("k"), col("_n").as("n"),
        when(col("_m") > 1,
          floor(col("_s").cast("double") / 1073741824.0 *
            ((col("_n") - 1).cast("double") / col("_n").cast("double")) *
            10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("a2_bp"))
  }

  /** Two-sample standardized effect sizes — the MAGNITUDE companion the
    * test shelf was missing: [[ksTest]]/[[mannWhitneyU]]/[[cramerVonMises]]
    * say whether the sides differ, [[wassersteinDistance]] what the gap
    * costs in VALUE units; these are the scale-free "how big?" numbers a
    * report compares across metrics and corpora. One row:
    * (n_a, n_b, cliff_bp, d_bp, g_bp).
    *
    *  - Cliff's delta (Cliff 1993, Psych. Bull. 114): δ = (#(a>b) −
    *    #(a<b))/(n_a·n_b) ∈ [−1, 1], the ordinal dominance effect — with
    *    tied mass split, δ = 2U/(n_a·n_b) − 1, i.e. the rank-biserial r
    *    and exactly 2·AUC − 1 of [[mannWhitneyU]]'s auc. Computed from
    *    the SAME doubled-midrank integer kernel: u2 = 2U is an exact
    *    DECIMAL(38,0), so δ has ONE float division.
    *  - Cohen's d (Cohen 1988): (mean_a − mean_b)/s_pooled with the
    *    (n−1)-weighted pooled SD — the standardized mean difference.
    *  - Hedges' g (Hedges 1981, small-sample correction in the standard
    *    J ≈ 1 − 3/(4N−9) form): g = J·d.
    *
    * Exactness discipline: d needs Σv and Σv² — raw double sums are
    * association-dependent, so each DISTINCT value quantizes once to
    * q1 = ⌊v·2²⁰⌋, q2 = ⌊v²·2²⁰⌋ LONG grains and the moments are exact
    * integer sums Σc·q in DECIMAL(38,0) (the q222/q235 grain discipline,
    * applied to moments instead of gaps: both engines see identical
    * integers, the d/g double chain then replays bit-for-bit; the ≤2⁻²⁰
    * grain bias is three decimal orders below the displayed basis
    * point). Displays are signed BIGINT basis points ⌊x·10⁴ + 0.5⌋.
    * Degenerates: an empty side nulls every display; a zero pooled
    * variance (all values equal) nulls d/g but leaves δ = 0 real.
    *
    * Scale shape: the [[mannWhitneyU]] plan verbatim — one per-value
    * union hash agg is the only corpus-width exchange, one bounded
    * prefix-sum pass, ONE single-row integer aggregate.
    */
  def effectSizes(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val perValue = sided(a, 0).unionAll(sided(b, 1))
      .groupBy(col("_v"))
      .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_cb"))
    val withM2 = GlobalRank.weightedPrefixSums(
        perValue.withColumn("_ct", col("_ca") + col("_cb")),
        "_v", "_ct", "_pfx")
      .select(col("_v"), col("_ca"), col("_cb"),
        (lit(2L) * col("_pfx") + col("_ct") + lit(1L)).as("_m2"))
    // per-DISTINCT-value moment grains: the only float→integer crossing,
    // identical on both engines because the same double v feeds the same
    // product and floor
    val q1 = floor(col("_v") * lit(1048576.0)).cast(dec)
    val q2 = floor(col("_v") * col("_v") * lit(1048576.0)).cast(dec)
    val moments = withM2.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      coalesce(sum(col("_ca").cast(dec) * col("_m2").cast(dec)),
        lit(0).cast(dec)).as("_r2"),
      coalesce(sum(col("_ca").cast(dec) * q1), lit(0).cast(dec)).as("_s1a"),
      coalesce(sum(col("_cb").cast(dec) * q1), lit(0).cast(dec)).as("_s1b"),
      coalesce(sum(col("_ca").cast(dec) * q2), lit(0).cast(dec)).as("_s2a"),
      coalesce(sum(col("_cb").cast(dec) * q2), lit(0).cast(dec)).as("_s2b"))
    val na = col("n_a").cast(dec)
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    // ANSI Spark throws on ANY division by zero, and a `when` guard does
    // NOT protect divisions reachable from the when CONDITION (conditions
    // are always evaluated; codegen subexpression elimination also hoists
    // shared branch terms) — so every divisor on the sp2 path substitutes
    // 1 exactly when its own display guard already nulls the output. On
    // non-degenerate inputs the safe divisor IS the raw one, so the
    // oracle's unguarded replay sees the identical chain
    val nadS = when(col("n_a") > 0, nad).otherwise(lit(1.0))
    val nbdS = when(col("n_b") > 0, nbd).otherwise(lit(1.0))
    val dfS = when(col("n_a") + col("n_b") > 2, nad + nbd - 2)
      .otherwise(lit(1.0))
    // 2U exact (the mannWhitneyU kernel), then ONE division for δ
    val u2 = (col("_r2") - na * (na + lit(1)))
    val cliff = u2.cast("double") / (nadS * nbdS) - 1
    // the verbatim double chain the oracle replays: de-grain each moment,
    // mean, (n−1)-weighted pooled variance, d, the Hedges J factor
    val m1a = col("_s1a").cast("double") / 1048576.0 / nadS
    val m1b = col("_s1b").cast("double") / 1048576.0 / nbdS
    val ssa = col("_s2a").cast("double") / 1048576.0 - nad * m1a * m1a
    val ssb = col("_s2b").cast("double") / 1048576.0 - nbd * m1b * m1b
    val sp2 = (ssa + ssb) / dfS
    val d = (m1a - m1b) / sqrt(sp2)
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (nad + nbd) - 9)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    moments.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, bp(cliff))
        .otherwise(lit(null).cast("long")).as("cliff_bp"),
      when(col("n_a") > 0 && col("n_b") > 0 &&
          col("n_a") + col("n_b") > 2 && sp2 > 0, bp(d))
        .otherwise(lit(null).cast("long")).as("d_bp"),
      when(col("n_a") > 0 && col("n_b") > 0 &&
          col("n_a") + col("n_b") > 2 && sp2 > 0, bp(j * d))
        .otherwise(lit(null).cast("long")).as("g_bp"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test (Jonckheere 1954
    * / Terpstra 1952; tie-corrected normal form per Hollander & Wolfe,
    * Nonparametric Statistical Methods §6.2): "does the metric trend
    * MONOTONICALLY across the ordered groups?" — the ordered question the
    * unordered k-group shelf cannot ask ([[kruskalWallis]]/ANOVA/
    * [[andersonDarlingK]] all test ANY difference; JT concentrates its
    * power on i < j ⟹ values(i) ≾ values(j), e.g. quality across daily
    * snapshots or size buckets). One row: (k, n, po_bp, z).
    *
    * JT = Σ_{i<j} U_ij with tied pairs counted half. The doubled
    * statistic is an exact integer: with pre_i(v) the count of group i
    * strictly below pooled value v,
    * 2·JT = Σ_{(g,v)} c_g(v)·(2·Σ_{i<g} pre_i(v) + Σ_{i<g} c_i(v)) —
    * the inner prefix sums over LOWER-ORDERED groups come from one
    * value-partitioned window over the bounded spine, so every mass is
    * DECIMAL(38,0) with no float anywhere before the display chain.
    * Displays: po_bp = the probability-of-ordered-superiority
    * JT/Σ_{i<j} n_i·n_j = jt2/(N² − Σn²) in basis points (the scale-free
    * trend strength a report compares), and the tie-corrected z
    * (E = (N² − Σn²)/4; var per H&W eq. 6.19 with both group- and
    * tie-mass correction terms, every Σ exact integer).
    *
    * Scale shape: [[groupedKsTest]]'s spine — ONE per-(group, value)
    * hash agg is the only corpus-width exchange (persisted), the
    * bounded-groups broadcast cross, two PARTITIONED windows over the
    * bounded spine (per-group value-cumulative, per-value group-prefix),
    * three one-row aggregates meeting in literal crosses. Degenerates:
    * a single group or an all-tied pool leaves var = 0 → NULL z; po is
    * NULL when no cross-group pair exists.
    */
  def jonckheereTerpstra(
      df: DataFrame,
      valueCol: Column,
      groupOrderCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = df.filter(valueCol.isNotNull && groupOrderCol.isNotNull)
      .select(groupOrderCol.cast("long").as("_g"),
        valueCol.cast("double").as("_v"))
    val perGV = v.groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
      .persist()
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val spine = perV.select(col("_v")).crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_v"), coalesce(col("_c"), lit(0L)).as("_c"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // lower-ordered groups at the same pooled value: EXCLUSIVE prefix
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_v")).orderBy(col("_g"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withPre = spine
      .withColumn("_cumg", sum(col("_c")).over(wg))
      .withColumn("_pre", col("_cumg") - col("_c"))
      .withColumn("_a", coalesce(sum(col("_pre")).over(wv), lit(0L)))
      .withColumn("_b", coalesce(sum(col("_c")).over(wv), lit(0L)))
    val jt = withPre.agg(coalesce(sum(col("_c").cast(dec) *
      (lit(2).cast(dec) * col("_a").cast(dec) + col("_b").cast(dec))),
      lit(0).cast(dec)).as("_jt2"))
    def mass(c: Column, f: Column => Column) = coalesce(sum(f(c.cast(dec))),
      lit(0).cast(dec))
    val gStats = groups.agg(
      count(lit(1)).as("k"),
      coalesce(sum(col("_ng")), lit(0L)).as("n"),
      mass(col("_ng"), x => x * x).as("_sq"),
      mass(col("_ng"), x => x * (x - 1) * (lit(2).cast(dec) * x + 5)).as("_g1"),
      mass(col("_ng"), x => x * (x - 1) * (x - 2)).as("_g2"),
      mass(col("_ng"), x => x * (x - 1)).as("_g3"))
    val tStats = perV.agg(
      mass(col("_cv"), x => x * (x - 1) * (lit(2).cast(dec) * x + 5)).as("_t1"),
      mass(col("_cv"), x => x * (x - 1) * (x - 2)).as("_t2"),
      mass(col("_cv"), x => x * (x - 1)).as("_t3"))
    val nd = col("n").cast("double")
    // P2 = N² − Σn² = 2·Σ_{i<j} n_i·n_j, exact and even
    val p2 = col("n").cast(dec) * col("n").cast(dec) - col("_sq")
    // ANSI-safe divisors (when-conditions always evaluate): substitute 1
    // exactly when the display guard already nulls the output
    val p2S = when(p2 > 0, p2.cast("double")).otherwise(lit(1.0))
    val d1S = when(col("n") > 2, nd * (nd - 1) * (nd - 2)).otherwise(lit(1.0))
    val d2S = when(col("n") > 1, nd * (nd - 1)).otherwise(lit(1.0))
    // the verbatim double chain the oracle replays: H&W tie-corrected var
    val a1 = nd * (nd - 1) * (lit(2.0) * nd + 5) -
      col("_g1").cast("double") - col("_t1").cast("double")
    val varJt = a1 / 72 +
      col("_g2").cast("double") * col("_t2").cast("double") / (lit(36.0) * d1S) +
      col("_g3").cast("double") * col("_t3").cast("double") / (lit(8.0) * d2S)
    val num = col("_jt2").cast("double") / 2 - p2.cast("double") / 4
    jt.crossJoin(broadcast(gStats))
      .crossJoin(broadcast(tStats))
      .select(col("k"), col("n"),
        when(p2 > 0,
          floor(col("_jt2").cast("double") / p2S * 10000 + lit(0.5))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("po_bp"),
        when(p2 > 0 && varJt > 0, r4(num / sqrt(varJt)))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Cochran–Armitage trend test for proportions (Cochran 1954 /
    * Armitage 1955, equally-spaced scores): "does the PASS RATE trend
    * monotonically across the ordered groups?" — the binary-outcome
    * sibling of [[jonckheereTerpstra]] (JT asks it of a metric, this of
    * a proportion: gate pass rate across snapshots, purchase rate across
    * the week) and the trend member beside [[proportionDiff]]'s single
    * comparison. One row: (k, n, n_pos, z).
    *
    * With integer scores s_g (the group key itself), T = Σ s_g·r_g,
    * E[T] = p̄·Σ s_g·n_g, Var[T] = p̄(1−p̄)·(Σ n_g s_g² − (Σ n_g s_g)²/N):
    * every Σ is an exact DECIMAL(38,0) over the bounded per-group
    * (n_g, r_g) masses, p̄ = R/N is the first float, and the z chain is
    * spelled once — both engines replay it bit-for-bit. A degenerate
    * pool (all-pass, all-fail, or a single group) has Var = 0 → NULL z.
    *
    * Scale shape: ONE groups-bounded hash agg over the corpus (map-side
    * partials — the only exchange), one single-row fold. Nothing else
    * touches the data.
    */
  def cochranArmitage(
      df: DataFrame,
      outcomeCol: Column,
      groupOrderCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perG = df.filter(outcomeCol.isNotNull && groupOrderCol.isNotNull)
      .select(groupOrderCol.cast("long").as("_s"),
        outcomeCol.cast("long").as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_r"))
    val s = col("_s").cast(dec)
    val agg = perG.agg(
      count(lit(1)).as("k"),
      coalesce(sum(col("_n")), lit(0L)).as("n"),
      coalesce(sum(col("_r")), lit(0L)).as("n_pos"),
      coalesce(sum(s * col("_r").cast(dec)), lit(0).cast(dec)).as("_t"),
      coalesce(sum(s * col("_n").cast(dec)), lit(0).cast(dec)).as("_s1"),
      coalesce(sum(s * s * col("_n").cast(dec)), lit(0).cast(dec)).as("_s2"))
    val nd = col("n").cast("double")
    val ndS = when(col("n") > 0, nd).otherwise(lit(1.0))
    // the verbatim chain the oracle replays: p̄, centered score mass,
    // trend variance, z — float enters at p̄ and nowhere earlier
    val pbar = col("n_pos").cast("double") / ndS
    val s1d = col("_s1").cast("double")
    val varT = pbar * (lit(1.0) - pbar) *
      (col("_s2").cast("double") - s1d * s1d / ndS)
    val num = col("_t").cast("double") - pbar * s1d
    agg.select(col("k"), col("n"), col("n_pos"),
      when(col("n") > 0 && varT > 0, r4(num / sqrt(varT)))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Mantel–Haenszel stratified 2×2 association (Mantel & Haenszel 1959;
    * the Cochran-MH chi-square in its signed normal form): "are exposure
    * and outcome associated AFTER controlling for the stratum?" — the
    * one confounder-adjusted comparison on the shelf.
    * [[proportionDiff]] pools blindly and Simpson's paradox flips pooled
    * rates; MH weights each stratum's 2×2 by its own size. One row:
    * (k, n, or_mh, z) — the MH common odds ratio and the CMH z
    * (z² = the CMH chi-square on 1 df, no continuity correction).
    *
    * Per stratum i with cells (a, b, c, d) and n_i: OR_MH =
    * Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i); E_i = (a+b)(a+c)/n_i,
    * V_i = (a+b)(c+d)(a+c)(b+d)/(n_i²(n_i−1)). Every cell is an exact
    * integer from ONE strata-bounded hash agg; the four float sums fold
    * in SORTED stratum order over the collected list (the
    * [[chiSquareIndependence]] in-row discipline), so both engines
    * replay term-for-term. Degenerates: Σbc = 0 nulls the ratio
    * (infinite OR), ΣV = 0 nulls z.
    *
    * Scale shape: ONE strata-bounded hash agg over the corpus (map-side
    * partials — the only exchange), the bounded stratum list collects
    * into ONE row, O(strata) in-row folds.
    */
  def mantelHaenszel(
      df: DataFrame,
      exposureCol: Column,
      outcomeCol: Column,
      stratumCol: Column): DataFrame = {
    val perS = df
      .filter(exposureCol.isNotNull && outcomeCol.isNotNull &&
        stratumCol.isNotNull)
      .select(stratumCol.cast("string").as("_g"),
        exposureCol.cast("boolean").as("_e"), outcomeCol.cast("boolean").as("_o"))
      .groupBy(col("_g"))
      .agg(
        sum(when(col("_e") && col("_o"), 1L).otherwise(0L)).as("_a"),
        sum(when(col("_e") && !col("_o"), 1L).otherwise(0L)).as("_b"),
        sum(when(!col("_e") && col("_o"), 1L).otherwise(0L)).as("_c"),
        sum(when(!col("_e") && !col("_o"), 1L).otherwise(0L)).as("_d"))
    val one = perS.groupBy().agg(
      sort_array(collect_list(struct(
        col("_g"), col("_a"), col("_b"), col("_c"), col("_d")))).as("h"))
    def f(e: Column, field: String) = e.getField(field).cast("double")
    def fold(term: Column => Column) = aggregate(col("h"), lit(0.0),
      (acc, e) => acc + term(e))
    def foldL(term: Column => Column) = aggregate(col("h"), lit(0L),
      (acc, e) => acc + term(e))
    def ni(e: Column) = f(e, "_a") + f(e, "_b") + f(e, "_c") + f(e, "_d")
    // the verbatim per-stratum chains the oracle replays, folded in
    // sorted stratum order seeded 0.0
    val sumAD = fold(e => f(e, "_a") * f(e, "_d") / ni(e))
    val sumBC = fold(e => f(e, "_b") * f(e, "_c") / ni(e))
    val sumA = foldL(e => e.getField("_a"))
    val sumE = fold(e => (f(e, "_a") + f(e, "_b")) *
      (f(e, "_a") + f(e, "_c")) / ni(e))
    val sumV = fold(e => {
      val n = ni(e)
      when(n > 1,
        (f(e, "_a") + f(e, "_b")) * (f(e, "_c") + f(e, "_d")) *
          (f(e, "_a") + f(e, "_c")) * (f(e, "_b") + f(e, "_d")) /
          (n * n * (n - 1)))
        .otherwise(lit(0.0))
    })
    one.select(
      size(col("h")).cast("long").as("k"),
      foldL(e => e.getField("_a") + e.getField("_b") + e.getField("_c") +
        e.getField("_d")).as("n"),
      when(sumBC > 0, r4(sumAD / sumBC))
        .otherwise(lit(null).cast("double")).as("or_mh"),
      when(sumV > 0, r4((sumA.cast("double") - sumE) / sqrt(sumV)))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Friedman rank test for k correlated raters with Kendall's W
    * (Friedman 1937; tie-corrected form per Conover, Practical
    * Nonparametric Statistics §5.8; Kendall & Babington Smith 1939):
    * the within-block rank companion to [[fleissKappa]] — kappa asks
    * whether the k raters AGREE beyond chance; this asks whether they
    * differ SYSTEMATICALLY (is one scoring rule consistently harsher
    * across documents?), which agreement statistics cannot see (two
    * raters offset by a constant band agree on nothing yet rank
    * identically). One row: (b, k, chi2, w_bp) — the tie-corrected
    * Friedman χ² on k−1 df and Kendall's coefficient of concordance
    * W = χ²/(b(k−1)) ∈ [0, 1].
    *
    * Within each block (row) the k values take DOUBLED midranks
    * 2R = 2·#less + #tied-others + 2 — exact integers, computed by
    * pairwise comparisons in-row (k is tiny). With S2 = Σ_j(Σ_i 2R_ij)²,
    * A2 = Σ_ij(2R_ij)², and the constant bk(k+1)²:
    * χ² = (k−1)·(S2 − b²k(k+1)²)/(A2 − bk(k+1)²) — every Σ an exact
    * DECIMAL(38,0), ONE division (the doubling cancels; with no ties
    * this is the textbook 12ΣR²/(bk(k+1)) − 3b(k+1)). A2 = bk(k+1)²
    * ⟺ every block fully tied — NULL displays.
    *
    * Scale shape: ONE single-row aggregate over in-row integer rank
    * arithmetic — the corpus is touched once, nothing shuffles but the
    * k+2 partial sums.
    */
  def friedmanTest(
      df: DataFrame,
      raters: Seq[Column]): DataFrame = {
    val k = raters.length
    require(k >= 2, "Friedman needs at least two raters")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val r2 = raters.indices.map { j =>
      val others = raters.indices.filter(_ != j)
      val less = others.map(o =>
        when(raters(o) < raters(j), 1L).otherwise(0L)).reduce(_ + _)
      val tied = others.map(o =>
        when(raters(o) === raters(j), 1L).otherwise(0L)).reduce(_ + _)
      (lit(2L) * less + tied + lit(2L)).as(s"_r2_$j")
    }
    val rows = df.filter(raters.map(_.isNotNull).reduce(_ && _))
      .select(r2: _*)
    val sums = raters.indices.map(j =>
      coalesce(sum(col(s"_r2_$j").cast(dec)), lit(0).cast(dec)).as(s"_s$j"))
    val a2 = coalesce(sum(raters.indices.map(j =>
        col(s"_r2_$j").cast(dec) * col(s"_r2_$j").cast(dec)).reduce(_ + _)),
      lit(0).cast(dec)).as("_a2")
    val aggCols = sums :+ a2 :+ count(lit(1)).as("b")
    val one = rows.agg(aggCols.head, aggCols.tail: _*)
    val s2 = raters.indices.map(j =>
      col(s"_s$j") * col(s"_s$j")).reduce(_ + _)
    val bDec = col("b").cast(dec)
    val cK = lit(k.toLong * (k + 1) * (k + 1)).cast(dec)
    val numI = lit((k - 1).toLong).cast(dec) * (s2 - bDec * bDec * cK)
    val denI = col("_a2") - bDec * cK
    val denS = when(denI > 0, denI.cast("double")).otherwise(lit(1.0))
    val chi2 = numI.cast("double") / denS
    val w = chi2 / (col("b").cast("double") * (k - 1))
    one.select(col("b"), lit(k.toLong).as("k"),
      when(col("b") > 0 && denI > 0, r4(chi2))
        .otherwise(lit(null).cast("double")).as("chi2"),
      when(col("b") > 0 && denI > 0,
        floor(w * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("w_bp"))
  }

  /** Quade test (Quade 1979) — [[friedmanTest]] with blocks WEIGHTED by
    * how much they discriminate: each block's within-block ranks are
    * scaled by the rank of the block's RANGE across all blocks, so a
    * document where the k scoring rules disagree wildly counts more
    * than one where they nearly tie. For small k (≤ 4–5) Quade
    * dominates Friedman in power (Conover §5.8.3) — the right default
    * for the 3-rater band question. One row: (b, k, w) — the Quade W
    * statistic (reads against F(k−1, (b−1)(k−1)); no closed-form p,
    * the kruskalWallis precedent), floor-rounded to 4 decimals.
    *
    * Exactness: within-block DOUBLED midranks 2R_ij (friedmanTest's
    * in-row pairwise chains verbatim) and the DOUBLED cross-block
    * range midrank 2Q_i = 2·#less + #tied + 1 (one histogram +
    * [[GlobalRank.weightedPrefixSums]] pass over block ranges) make
    * every scaled score 4S_ij = 2Q_i·(2R_ij − (k+1)) an exact integer;
    * with SA = Σᵢⱼ(4S_ij)² and SB = Σⱼ(Σᵢ4S_ij)² — exact DECIMAL(38,0)
    * sums — the statistic clears to ONE division
    * W = (b−1)·SB / (b·SA − SB) (the 16s cancel). b·SA = SB ⟺ every
    * block fully tied — NULL display.
    *
    * Scale shape: one map-side rank/range projection, one range-keyed
    * histogram aggregate + bounded prefix pass, one value-keyed
    * broadcast-size join back, one single-row (k+2)-sum aggregate —
    * blocks never sort globally and nothing driver-side scales with b.
    */
  def quadeTest(
      df: DataFrame,
      raters: Seq[Column]): DataFrame = {
    val k = raters.length
    require(k >= 2, "Quade needs at least two raters")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val r2 = raters.indices.map { j =>
      val others = raters.indices.filter(_ != j)
      val less = others.map(o =>
        when(raters(o) < raters(j), 1L).otherwise(0L)).reduce(_ + _)
      val tied = others.map(o =>
        when(raters(o) === raters(j), 1L).otherwise(0L)).reduce(_ + _)
      (lit(2L) * less + tied + lit(2L)).as(s"_r2_$j")
    }
    val longs = raters.map(_.cast("long"))
    val rng = (greatest(longs: _*) - least(longs: _*)).as("_rng")
    val rows = df.filter(raters.map(_.isNotNull).reduce(_ && _))
      .select(r2 :+ rng: _*)
    val hist = rows.groupBy(col("_rng")).agg(count(lit(1)).as("_hc"))
    val q2 = GlobalRank.weightedPrefixSums(hist, "_rng", "_hc", "_hp")
      .select(col("_rng"),
        (lit(2L) * col("_hp") + col("_hc") + lit(1L)).as("_q2"))
    // q2 is range-cardinality-bounded (distinct block ranges, ≤ k·maxVal
    // values) — broadcast it so the corpus-wide rows frame never shuffles
    // on the near-constant range key
    val scored = rows.join(broadcast(q2), Seq("_rng"))
    // 4S_ij = 2Q_i·(2R_ij − (k+1)) — exact integers per cell
    def s4(j: Int) =
      col("_q2").cast(dec) * (col(s"_r2_$j").cast(dec) - lit(k + 1L).cast(dec))
    val tSums = raters.indices.map(j =>
      coalesce(sum(s4(j)), lit(0).cast(dec)).as(s"_t$j"))
    val sa = coalesce(
      sum(raters.indices.map(j => s4(j) * s4(j)).reduce(_ + _)),
      lit(0).cast(dec)).as("_sa")
    val aggCols = tSums :+ sa :+ count(lit(1)).as("b")
    val one = scored.agg(aggCols.head, aggCols.tail: _*)
    val sb = raters.indices.map(j => col(s"_t$j") * col(s"_t$j"))
      .reduce(_ + _)
    val bDec = col("b").cast(dec)
    val denI = bDec * col("_sa") - sb
    val w = (col("b").cast("double") - 1) * sb.cast("double") /
      when(denI > 0, denI.cast("double")).otherwise(lit(1.0))
    one.select(col("b"), lit(k.toLong).as("k"),
      when(col("b") > 1 && denI > 0, r4(w))
        .otherwise(lit(null).cast("double")).as("w"))
  }

  /** Per-source drift report card — FIVE screens over ONE shared spine:
    * [[groupedKsTest]]+[[bhAdjust]] say WHICH source drifted (sup-norm
    * gap, FDR-controlled), [[groupedW1]] what the drift COSTS in value
    * units, [[groupedCliffsDelta]] how directionally DOMINANT the
    * source is, and the group-vs-complement [[cramerVonMises]] and
    * [[energyDistance]] members distinguish SUSTAINED separation from a
    * single spike. Run separately those scan the corpus five times and
    * build the same groups × pooled-values spine each time; the card
    * builds the per-(group, value) histogram ONCE and folds max(KS
    * numerator), Σ(W₁ gap grains), Σ(doubled dominance masses),
    * Σ(CvM class grains), and Σ(energy gap grains) in ONE group-keyed
    * aggregate — same displays, one corpus pass. One row per group:
    * (test_key, n_g, n_rest, ks_d_bp, p_bp, p_rank, p_adj_bp, reject,
    * w1, w1_norm_bp, auc_bp, cliff_bp, cvm_bp, energy), value-identical
    * to the standalone screens and to the pairwise two-sample operators
    * run on (group, complement) (spec-pinned).
    *
    * Scale shape: ONE per-(group, value) hash agg is the only
    * corpus-width exchange (persisted; histogram, group table, totals
    * all derive from it), two bounded prefix-sum passes (cumulative +
    * positional index for the successor-value gap), the bounded-groups
    * broadcast cross, one PARTITIONED per-group window, one group-keyed
    * aggregate carrying three folds, then the bounded BH list step.
    */
  /** The driver tier of [[driftScreenCard]]'s five folds, accumulated
    * in ONE O(groups × values) walk (spine-product gated), including the
    * distributed card's nrdS complement guard.
    */
  private def driftCardScreensLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("group_key", perGV.schema("_g").dataType, nullable = true),
      StructField("n_g", LongType, nullable = true),
      StructField("n_rest", LongType, nullable = true),
      StructField("ks_d", DoubleType, nullable = true),
      StructField("p_value", DoubleType, nullable = true),
      StructField("w1", DoubleType, nullable = true),
      StructField("w1_norm_bp", LongType, nullable = true),
      StructField("auc_bp", LongType, nullable = true),
      StructField("cliff_bp", LongType, nullable = true),
      StructField("cvm_bp", LongType, nullable = true),
      StructField("energy", DoubleType, nullable = true)))
    BoundedCells.fold(perGV, cellLimit, schema)(driftCardScreensFold)
  }

  private def driftCardScreensFold(
      cells: Array[org.apache.spark.sql.Row]): Option[Seq[org.apache.spark.sql.Row]] = {
    if (cells.isEmpty) return Some(Seq.empty)
    val sp = CellSpine.doubles(cells)
    val gps = sp.groupPoints
    if (gps.size.toLong * sp.values.length > (1L << 20)) return None
    val nB = BigInt(sp.n)
    val vmin = sp.values.head
    val vmax = sp.values.last
    Some(gps.map { case (g, ng, pts) =>
      val ngB = BigInt(ng)
      val ngd = ng.toDouble
      val rest = sp.n > ng
      val nrdS = if (rest) (sp.n - ng).toDouble else 1.0
      val nrd = (sp.n - ng).toDouble
      var cumg = 0L
      var dnum = BigInt(0)
      var w1q = 0L
      var u2 = BigInt(0)
      var cvmq = 0L
      var enq = 0L
      var pi = 0
      var i = 0
      while (i < sp.values.length) {
        if (pi < pts.length && pts(pi)._1 == i) {
          val c = pts(pi)._2
          cumg += c
          val below = BigInt(sp.cumAll(i) - sp.cv(i)) - BigInt(cumg - c)
          val tie = BigInt(sp.cv(i) - c)
          u2 += BigInt(c) * (BigInt(2) * below + tie)
          pi += 1
        }
        val num = (BigInt(cumg) * nB - BigInt(sp.cumAll(i)) * ngB).abs
        if (num > dnum) dnum = num
        val numD = decD(num)
        val gapC = numD / (ngd * nrdS)
        cvmq += floorL(sp.cv(i).toDouble * gapC * gapC * 1073741824.0)
        if (i < sp.values.length - 1) {
          val gap = sp.values(i + 1) - sp.values(i)
          w1q += floorL(numD * gap / (ngd * nrdS) * 1048576)
          enq += floorL(gapC * gapC * gap * 1048576.0)
        }
        i += 1
      }
      val dnumD = decD(dnum)
      val dS = dnumD / (ngd * nrdS)
      val lambda = math.sqrt(ngd * nrdS / (ngd + nrdS)) * dS
      val w1d = w1q.toDouble / 1048576
      val u2D = decD(u2)
      val cvmT = cvmq.toDouble / 1073741824.0 * (ngd * nrd) /
        ((ngd + nrd) * (ngd + nrd))
      val enD = 2.0 * (enq.toDouble / 1048576.0)
      org.apache.spark.sql.Row(
        g, ng, sp.n - ng,
        if (rest) r4(dS) else null,
        if (rest) r4(least1(2.0 * math.exp(-2.0 * lambda * lambda)))
        else null,
        if (rest) r4(w1d) else null,
        if (rest && vmax > vmin)
          floorL(w1d / (vmax - vmin) * 10000 + 0.5)
        else null,
        if (rest) floorL(u2D / (2.0 * ngd * nrd) * 10000 + 0.5)
        else null,
        if (rest) floorL((u2D / (ngd * nrd) - 1) * 10000 + 0.5)
        else null,
        if (rest) floorL(cvmT * 10000 + 0.5) else null,
        if (rest) r4(enD) else null)
    })
  }

  def driftScreenCard(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      fdrQ: Double = 0.1,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localScreens = driftCardScreensLocal(perGV, localSpineLimit)
    if (localScreens.isDefined) return driftCardTail(localScreens.get, fdrQ)
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val totals = perV.agg(coalesce(sum(col("_cv")), lit(0L)).as("_n"),
      min(col("_v")).as("_vmin"), max(col("_v")).as("_vmax"))
    val withIx = GlobalRank.weightedPrefixSumsMulti(
        perV.withColumn("_one", lit(1L)), "_v",
        Seq("_cv" -> "_xa", "_one" -> "_ix"))._1
      .select(col("_v"), col("_cv"), (col("_xa") + col("_cv")).as("_cumall"),
        col("_ix"))
    val nxt = withIx.select((col("_ix") - 1).as("_ix"), col("_v").as("_vn"))
    // LEFT on the successor: the last value keeps its row (KS and delta
    // need it) and contributes a zero W1 gap
    val spine = withIx.join(nxt, Seq("_ix"), "left")
      .crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_ng"), col("_v"), col("_vn"), col("_cv"),
        col("_cumall"), coalesce(col("_c"), lit(0L)).as("_c"))
    val cumG = sum(col("_c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val ngd = col("_ng").cast("double")
    // ANSI-safe complement size: a single-group input nulls every display
    // anyway, and on real inputs nrdS IS the raw complement
    val nrdS = when(col("_n") > col("_ng"),
      (col("_n") - col("_ng")).cast("double")).otherwise(lit(1.0))
    // the three per-row masses, each verbatim from its standalone screen
    val ksNum = abs(col("_cumg").cast(dec) *
        (col("_n") - col("_ng")).cast(dec) -
      (col("_cumall") - col("_cumg")).cast(dec) * col("_ng").cast(dec))
    val w1Term = when(col("_vn").isNotNull,
      floor(ksNum.cast("double") * (col("_vn") - col("_v")) /
        (ngd * nrdS) * 1048576).cast("long")).otherwise(lit(0L))
    val below = (col("_cumall") - col("_cv")).cast(dec) -
      (col("_cumg") - col("_c")).cast(dec)
    val tie = col("_cv").cast(dec) - col("_c").cast(dec)
    val deltaTerm = col("_c").cast(dec) * (lit(2).cast(dec) * below + tie)
    // the group-vs-complement CvM and energy terms — the SAME exact
    // cross-mass numerator, so both equal the pairwise two-sample
    // operators run on (group, rest) verbatim (DriftCardSpec pins it)
    val gapC = ksNum.cast("double") / (ngd * nrdS)
    val cvmTerm = floor(col("_cv").cast("double") * gapC * gapC *
      lit(1073741824.0)).cast("long")
    val enTerm = when(col("_vn").isNotNull,
      floor(gapC * gapC * (col("_vn") - col("_v")) *
        lit(1048576.0)).cast("long")).otherwise(lit(0L))
    val perGroup = spine
      .withColumn("_cumg", cumG)
      .crossJoin(broadcast(totals))
      .groupBy(col("_g"), col("_ng"), col("_n"), col("_vmin"), col("_vmax"))
      .agg(max(ksNum).as("_dnum"),
        coalesce(sum(w1Term), lit(0L)).as("_w1q"),
        coalesce(sum(deltaTerm), lit(0).cast(dec)).as("_u2"),
        coalesce(sum(cvmTerm), lit(0L)).as("_cvmq"),
        coalesce(sum(enTerm), lit(0L)).as("_enq"))
    val nrd = (col("_n") - col("_ng")).cast("double")
    val dS = col("_dnum").cast("double") / (ngd * nrdS)
    val lambda = sqrt(ngd * nrdS / (ngd + nrdS)) * dS
    val w1d = col("_w1q").cast("double") / 1048576
    // the pairwise cramerVonMises / energyDistance display chains verbatim
    val cvmT = col("_cvmq").cast("double") / 1073741824.0 *
      (ngd * nrd) / ((ngd + nrd) * (ngd + nrd))
    val enD = lit(2.0) * (col("_enq").cast("double") / 1048576.0)
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    val screens = perGroup.select(
      col("_g").as("group_key"), col("_ng").as("n_g"),
      (col("_n") - col("_ng")).as("n_rest"),
      when(col("_n") > col("_ng"), r4(dS))
        .otherwise(lit(null).cast("double")).as("ks_d"),
      when(col("_n") > col("_ng"),
        r4(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * lambda * lambda))))
        .otherwise(lit(null).cast("double")).as("p_value"),
      when(col("_n") > col("_ng"), r4(w1d))
        .otherwise(lit(null).cast("double")).as("w1"),
      when(col("_n") > col("_ng") && col("_vmax") > col("_vmin"),
        floor(w1d / (col("_vmax") - col("_vmin")) * 10000 + lit(0.5))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("w1_norm_bp"),
      when(col("_n") > col("_ng"),
        floor(col("_u2").cast("double") / (lit(2.0) * ngd * nrd) * 10000 +
          lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("auc_bp"),
      when(col("_n") > col("_ng"),
        floor((col("_u2").cast("double") / (ngd * nrd) - 1) * 10000 +
          lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("cliff_bp"),
      when(col("_n") > col("_ng"), floor(cvmT * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("cvm_bp"),
      when(col("_n") > col("_ng"), r4(enD))
        .otherwise(lit(null).cast("double")).as("energy"))
      .persist()
    driftCardTail(screens, fdrQ)
  }

  /** The BH step + display join shared by both driftScreenCard tiers. */
  private def driftCardTail(screens: DataFrame, fdrQ: Double): DataFrame = {
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    bhAdjust(screens, col("group_key"), col("p_value"), fdrQ)
      .join(broadcast(screens.select(col("group_key").as("test_key"),
        col("n_g"), col("n_rest"), col("ks_d"), col("w1"),
        col("w1_norm_bp"), col("auc_bp"), col("cliff_bp"),
        col("cvm_bp"), col("energy"))), "test_key")
      .select(col("test_key"), col("n_g"), col("n_rest"),
        bp(col("ks_d")).as("ks_d_bp"), bp(col("p_value")).as("p_bp"),
        col("p_rank"), bp(col("p_adj")).as("p_adj_bp"),
        (bp(col("p_adj")) <= lit((fdrQ * 10000).round)).as("reject"),
        col("w1"), col("w1_norm_bp"), col("auc_bp"), col("cliff_bp"),
        col("cvm_bp"), col("energy"))
  }

  /** One-dimensional energy distance (Székely & Rizzo 2004; equivalently
    * twice the Cramér distance, the LEBESGUE-weighted squared-CDF-gap
    * integral): D² = 2·∫(F_a − F_b)² dz — the member that completes the
    * two-sample distance family's geometry: [[wassersteinDistance]] is
    * the L1 transport integral ∫|F_a − F_b| dz, [[ksTest]] the sup-norm,
    * [[cramerVonMises]] the POOLED-ECDF-weighted L2 sum (a test
    * statistic, dimensionless); this is the L2² integral in VALUE units
    * — it prices how far apart the gap lives on the axis AND squares
    * sustained separation, the metric used by energy-statistics
    * two-sample tests and the CRPS decomposition. One row:
    * (n_a, n_b, energy, energy_norm_bp).
    *
    * Same exactness discipline as [[wassersteinDistance]] — the SAME
    * per-gap spine, with the exact integer CDF-gap numerator SQUARED:
    * term = (dnum/(n_a·n_b))²·(v_next − v), floored to 2⁻²⁰ grains, an
    * order-free LONG sum; final ×2 and the range normalization are the
    * display chain. Scale shape identical: one per-value union agg, two
    * prefix-sum passes, an index equi-join for the successor value, one
    * single-row integer aggregate.
    */
  def energyDistance(
      a: DataFrame,
      b: DataFrame,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sided = (d: DataFrame, side: Int) => d
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"), lit(side).as("_s"))
    val (spineIx, tots) = GlobalRank.weightedPrefixSumsMulti(
      sided(a, 0).unionAll(sided(b, 1))
        .groupBy(col("_v"))
        .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_ca"),
          sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_cb"))
        .withColumn("_one", lit(1L)),
      "_v", Seq("_ca" -> "_xa", "_cb" -> "_xb", "_one" -> "_ix"))
    val cums = spineIx
      .select(col("_v"), col("_ix"),
        (col("_xa") + col("_ca")).as("_cuma"),
        (col("_xb") + col("_cb")).as("_cumb"))
    val nxt = cums.select((col("_ix") - 1).as("_ix"), col("_v").as("_vn"))
    // side totals from the fused offsets pass; min/max re-read the
    // persisted spine (distinct-value-sized), never the corpus subtree
    val totals = totalsRow(a.sparkSession, tots(0), tots(1))
      .crossJoin(spineIx.agg(
        min(col("_v")).as("_vmin"), max(col("_v")).as("_vmax")))
    // ANSI-safe divisors: an empty side zeroes every cross-mass numerator,
    // so substituting 1 leaves the (all-zero) sum exact while keeping the
    // eager per-gap division legal
    val nad = when(col("_na") > 0, col("_na").cast("double")).otherwise(lit(1.0))
    val nbd = when(col("_nb") > 0, col("_nb").cast("double")).otherwise(lit(1.0))
    val num = abs(col("_cuma").cast(dec) * col("_nb").cast(dec) -
      col("_cumb").cast(dec) * col("_na").cast(dec))
    // the wassersteinDistance term with the gap SQUARED: gap twice (the
    // q238 no-pow discipline), then the axis measure, then the grain
    val gap = num.cast("double") / (nad * nbd)
    val term = floor(gap * gap * (col("_vn") - col("_v")) *
      lit(1048576.0)).cast("long")
    val ed = lit(2.0) * (col("_s2").cast("double") / 1048576.0)
    cums
      .join(nxt, "_ix")
      .crossJoin(broadcast(totals))
      .agg(coalesce(sum(term), lit(0L)).as("_s2"))
      .crossJoin(broadcast(totals))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        r4(ed).as("energy"),
        when(col("_vmax") > col("_vmin"),
          floor(ed / (col("_vmax") - col("_vmin")) * 10000 + lit(0.5))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("energy_norm_bp"))
  }

  /** Breslow–Day homogeneity test with the Tarone correction (Breslow &
    * Day 1980 vol. 1 §4.4; Tarone 1985): "is the odds ratio CONSTANT
    * across strata?" — the question [[mantelHaenszel]] ASSUMES away (MH
    * estimates one common OR; when the strata genuinely disagree, that
    * single number misleads, and this test says so). One row:
    * (k, n, or_mh, bd_chi2, tarone_chi2) — χ² on k−1 df.
    *
    * Per stratum with cells (a, b, c, d), margins m1 = a+b, t1 = a+c,
    * total n, and the common OR R: the fitted cell ã solves
    * ã·d̃/(b̃·c̃) = R, i.e. the quadratic (1−R)x² + [(n−m1−t1) +
    * R(m1+t1)]x − R·m1·t1 = 0 — the root inside
    * [max(0, m1+t1−n), min(m1, t1)] is taken (closed form; R = 1
    * degenerates to x = m1·t1/n). Ṽ = 1/(1/ã + 1/b̃ + 1/c̃ + 1/d̃),
    * BD = Σ(a−ã)²/Ṽ, Tarone = BD − (Σ(a−ã))²/ΣṼ. Strata with any zero
    * margin carry no information and contribute 0 (the standard
    * convention).
    *
    * Exactness discipline: every cross-stratum float sum — the two OR
    * mass sums AND the three BD sums — quantizes per stratum to
    * ⌊term·2²⁰⌋ DECIMAL(38,0) grains (the q222/q235 order-free-integer
    * discipline; DECIMAL, not LONG, so a huge stratum cannot overflow
    * the grain), so R and the χ² chains see identical integers on both
    * engines and no fold-order contract is needed. A signed flooring
    * (dev terms can be negative) keeps the sum exact.
    *
    * Scale shape: unlike [[mantelHaenszel]]'s bounded collected list,
    * this runs with NO driver or in-row bound on strata: one
    * strata-keyed hash agg, a one-row totals broadcast carrying R back
    * across the stratum table, one more one-row aggregate — millions of
    * strata (per-domain, per-shard) stream through.
    */
  def breslowDay(
      df: DataFrame,
      exposureCol: Column,
      outcomeCol: Column,
      stratumCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .filter(exposureCol.isNotNull && outcomeCol.isNotNull &&
        stratumCol.isNotNull)
      .select(stratumCol.cast("string").as("_g"),
        exposureCol.cast("boolean").as("_e"), outcomeCol.cast("boolean").as("_o"))
      .groupBy(col("_g"))
      .agg(
        sum(when(col("_e") && col("_o"), 1L).otherwise(0L)).as("_a"),
        sum(when(col("_e") && !col("_o"), 1L).otherwise(0L)).as("_b"),
        sum(when(!col("_e") && col("_o"), 1L).otherwise(0L)).as("_c"),
        sum(when(!col("_e") && !col("_o"), 1L).otherwise(0L)).as("_d"))
      .persist()
    def d(name: String) = col(name).cast("double")
    val nI = d("_a") + d("_b") + d("_c") + d("_d")
    def q20(c: Column) = floor(c * lit(1048576.0)).cast(dec)
    val totals = cells.agg(
      count(lit(1)).as("k"),
      coalesce(sum(col("_a") + col("_b") + col("_c") + col("_d")), lit(0L))
        .as("n"),
      coalesce(sum(q20(d("_a") * d("_d") / nI)), lit(0).cast(dec)).as("_adq"),
      coalesce(sum(q20(d("_b") * d("_c") / nI)), lit(0).cast(dec)).as("_bcq"))
    val rS = when(col("_bcq") > 0,
      col("_adq").cast("double") / col("_bcq").cast("double"))
      .otherwise(lit(1.0))
    // per-stratum fitted cell under the common OR — the closed-form
    // quadratic root in the feasible interval; every branch condition is
    // division-free so ANSI never sees an unguarded divide
    val m1 = d("_a") + d("_b")
    val t1 = d("_a") + d("_c")
    val aq = lit(1.0) - col("_r")
    val bq = (nI - m1 - t1) + col("_r") * (m1 + t1)
    val cq = -col("_r") * m1 * t1
    val disc = sqrt(greatest(bq * bq - lit(4.0) * aq * cq, lit(0.0)))
    val x1 = (-bq + disc) / (lit(2.0) * aq)
    val x2 = (-bq - disc) / (lit(2.0) * aq)
    val lo = greatest(lit(0.0), m1 + t1 - nI)
    val hi = least(m1, t1)
    val xF = when(abs(aq) < 1e-12, m1 * t1 / nI)
      .otherwise(when(x1 >= lo - 1e-9 && x1 <= hi + 1e-9, x1).otherwise(x2))
    val usable = m1 > 0 && t1 > 0 && (d("_c") + d("_d")) > 0 &&
      (d("_b") + d("_d")) > 0
    val bb = m1 - col("_x")
    val cc = t1 - col("_x")
    val dd = nI - m1 - t1 + col("_x")
    val vT = when(col("_x") > 0 && bb > 0 && cc > 0 && dd > 0,
      lit(1.0) / (lit(1.0) / col("_x") + lit(1.0) / bb + lit(1.0) / cc +
        lit(1.0) / dd)).otherwise(lit(0.0))
    val dev = d("_a") - col("_x")
    val sums = cells
      .crossJoin(broadcast(totals.select(rS.as("_r"))))
      .withColumn("_x", when(usable, xF).otherwise(lit(0.0)))
      .withColumn("_v", when(usable, vT).otherwise(lit(0.0)))
      .agg(
        coalesce(sum(when(col("_v") > 0,
          q20(dev * dev / col("_v"))).otherwise(lit(0).cast(dec))),
          lit(0).cast(dec)).as("_bdq"),
        coalesce(sum(when(col("_v") > 0, q20(dev))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).as("_devq"),
        coalesce(sum(when(col("_v") > 0, q20(col("_v")))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).as("_vq"))
    val bd = col("_bdq").cast("double") / 1048576.0
    val devS = col("_devq").cast("double") / 1048576.0
    val vSum = col("_vq").cast("double") / 1048576.0
    val vSumS = when(col("_vq") > 0, vSum).otherwise(lit(1.0))
    sums
      .crossJoin(broadcast(totals))
      .select(col("k").cast("long").as("k"), col("n"),
        when(col("_bcq") > 0, r4(rS))
          .otherwise(lit(null).cast("double")).as("or_mh"),
        when(col("_bcq") > 0 && col("_vq") > 0, r4(bd))
          .otherwise(lit(null).cast("double")).as("bd_chi2"),
        when(col("_bcq") > 0 && col("_vq") > 0,
          r4(bd - devS * devS / vSumS))
          .otherwise(lit(null).cast("double")).as("tarone_chi2"))
  }

  /** Per-group Cliff's delta against the complement — the effect-size
    * member that completes the drift-screen triad over one shared
    * per-(group, value) histogram: [[groupedKsTest]] says WHICH source
    * drifted (sup-norm + FDR), [[groupedW1]] what the drift COSTS in
    * value units, this screen how DIRECTIONALLY DOMINANT each source is
    * (δ > 0: the source's values stochastically exceed the rest's — a
    * scale-free, outlier-proof ordinal effect a report compares across
    * metrics). One row per group:
    * (group_key, n_g, n_rest, auc_bp, cliff_bp).
    *
    * Kernel: for group g at pooled value v, the complement's
    * strictly-below mass is (cumall − cv) − (cumg − c) and its tied mass
    * cv − c, so the doubled one-sided count u2_g = Σ_v c·(2·below + tie)
    * is an exact DECIMAL(38,0) integer and
    * δ_g = u2_g/(n_g·n_rest) − 1 (tied mass split — the
    * [[mannWhitneyU]]/[[effectSizes]] convention) has ONE float division
    * per group. auc = u2_g/(2·n_g·n_rest) is the probability-of-
    * superiority rendering of the same integer.
    *
    * Scale shape: [[groupedKsTest]]'s spine verbatim — ONE
    * per-(group, value) hash agg is the only corpus-width exchange
    * (persisted; pooled histogram and group table derive from it), one
    * bounded prefix-sum pass, the bounded-groups broadcast cross, a
    * PARTITIONED per-group window, one group-keyed integer aggregate.
    * Groups with an empty complement (a single group in the input)
    * report NULL displays.
    */
  /** In-process tier of [[groupedCliffsDelta]] — O(cells): the dominance
    * mass only accumulates at a group's OWN value points (the term
    * carries a _c factor, zero elsewhere).
    */
  private def cliffsDeltaLocal(
      perGV: DataFrame,
      cellLimit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("group_key", perGV.schema("_g").dataType, nullable = true),
      StructField("n_g", LongType, nullable = true),
      StructField("n_rest", LongType, nullable = true),
      StructField("auc_bp", LongType, nullable = true),
      StructField("cliff_bp", LongType, nullable = true)))
    BoundedCells.fold(perGV, cellLimit, schema) { cells =>
      if (cells.isEmpty) Some(Seq.empty)
      else {
        val sp = CellSpine.doubles(cells)
        Some(sp.groupPoints.map { case (g, ng, pts) =>
          val ngd = ng.toDouble
          val nrd = (sp.n - ng).toDouble
          var cumg = 0L
          var u2 = BigInt(0)
          pts.foreach { case (pos, c) =>
            cumg += c
            val below = BigInt(sp.cumAll(pos) - sp.cv(pos)) - BigInt(cumg - c)
            val tie = BigInt(sp.cv(pos) - c)
            u2 += BigInt(c) * (BigInt(2) * below + tie)
          }
          val u2D = decD(u2)
          val auc: Any =
            if (sp.n > ng) floorL(u2D / (2.0 * ngd * nrd) * 10000 + 0.5)
            else null
          val cliff: Any =
            if (sp.n > ng) floorL((u2D / (ngd * nrd) - 1) * 10000 + 0.5)
            else null
          org.apache.spark.sql.Row(g, ng, sp.n - ng, auc, cliff)
        })
      }
    }
  }

  def groupedCliffsDelta(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      localSpineLimit: Long = BoundedCells.Limit): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perGV = BoundedCells.cellTable(df, valueCol, groupCol, "double")
    val localCd = cliffsDeltaLocal(perGV, localSpineLimit)
    if (localCd.isDefined) return localCd.get
    val perV = perGV.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val groups = perGV.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val totals = perV.agg(coalesce(sum(col("_cv")), lit(0L)).as("_n"))
    val cumAll = GlobalRank.weightedPrefixSums(perV, "_v", "_cv", "_xa")
      .select(col("_v"), col("_cv"), (col("_xa") + col("_cv")).as("_cumall"))
    val spine = cumAll.crossJoin(broadcast(groups))
      .join(perGV, Seq("_g", "_v"), "left")
      .select(col("_g"), col("_ng"), col("_v"), col("_cv"), col("_cumall"),
        coalesce(col("_c"), lit(0L)).as("_c"))
    val cumG = sum(col("_c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("_g")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    // complement masses at v: strictly below and tied — exact integers
    val below = (col("_cumall") - col("_cv")).cast(dec) -
      (col("_cumg") - col("_c")).cast(dec)
    val tie = col("_cv").cast(dec) - col("_c").cast(dec)
    val u2Mass = spine
      .withColumn("_cumg", cumG)
      .groupBy(col("_g"))
      .agg(coalesce(sum(col("_c").cast(dec) *
        (lit(2).cast(dec) * below + tie)), lit(0).cast(dec)).as("_u2"))
    val ngd = col("_ng").cast("double")
    val nrd = (col("_n") - col("_ng")).cast("double")
    val aucBp = floor(col("_u2").cast("double") / (lit(2.0) * ngd * nrd) * 10000 +
      lit(0.5)).cast("long")
    val cliffBp = floor((col("_u2").cast("double") / (ngd * nrd) - 1) *
      10000 + lit(0.5)).cast("long")
    // left from the group table (the groupedW1 degenerate-input fix): a
    // single-group input leaves every group's complement empty — counts
    // still report, displays null
    groups
      .join(u2Mass, Seq("_g"), "left")
      .withColumn("_u2", coalesce(col("_u2"), lit(0).cast(dec)))
      .crossJoin(broadcast(totals))
      .select(col("_g").as("group_key"), col("_ng").as("n_g"),
        (col("_n") - col("_ng")).as("n_rest"),
        when(col("_n") > col("_ng"), aucBp)
          .otherwise(lit(null).cast("long")).as("auc_bp"),
        when(col("_n") > col("_ng"), cliffBp)
          .otherwise(lit(null).cast("long")).as("cliff_bp"))
  }
}
