package graft.operators

import graft.operators.BoundedCells.r4
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch session / funnel / cohort analytics over an event stream.
  *
  * These are the batch twins of the streaming operators in
  * `graft.streaming.StreamAggregates` (`sessionize` via `session_window`):
  * the reference's query surface is entirely batch SQL over landed events
  * (README.rst:84-103), so the gap-based sessionization, ordered-step
  * funnel, and cohort-retention reports belong on the batch side too.
  *
  * Scale notes: every operator here is one shuffle on `user` (window or
  * groupBy); nothing is collected to the driver and no self-join is
  * quadratic. At 100 TB the window partition key is the user id — high
  * cardinality, so partitions stay small and skew-free.
  */
object Sessions {

  /** Gap-based sessionization: a new session starts when the user's
    * inter-event gap exceeds `gapSeconds` (default 43200 s = 12 h, the
    * reference's hypertable chunk interval, migration:39-43). Returns one
    * row per session: (user, session_idx, n_events, start/end epoch-micros).
    *
    * One shuffle: lag + running sum share the same (user ⨯ time) window
    * spec, and the per-session groupBy reuses the partitioning.
    */
  def sessionize(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      gapSeconds: Long = 43200L): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gap = unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w))
    val isNew = when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L)
    events
      .withColumn("session_idx", sum(isNew).over(w))
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col(tsCol))).as("start_us"),
        max(unix_micros(col(tsCol))).as("end_us"))
  }

  /** Top-k session PATHS — the "most common user journeys" report every
    * product-analytics stack leads with: sessions are [[sessionize]]'s
    * gap-based sessions, a session's path is its event types joined in
    * (ts, id) order, and the output is the k most frequent paths with
    * their session counts and share of all sessions.
    *
    * Shape: the lag/running-sum session assignment is ONE (user; ts, id)
    * window (the sessionize exchange), the per-session path is a sorted
    * collect over doc-bounded session slices, the path frequency agg
    * collapses map-side, and top-k is TakeOrderedAndProject. The share
    * is one integer division, round 4.
    */
  def sessionPaths(
      events: DataFrame,
      k: Int = 20,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type",
      gapSeconds: Long = 43200L): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gap = unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w))
    val isNew = when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L)
    val paths = events
      .withColumn("session_idx", sum(isNew).over(w))
      .groupBy(col(userCol), col("session_idx"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(
          unix_micros(col(tsCol)).as("us"), col(idCol).as("eid"),
          col(typeCol).as("t")))),
        e => e.getField("t"))).as("path"))
    val total = paths.agg(count(lit(1)).as("n_sessions"))
    paths
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("path"), col("n"),
        round(col("n").cast("double") / col("n_sessions"), 4).as("share"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Ordered-step funnel: how many users completed step 1, step 1 then
    * step 2 (at-or-after), step 1→2→3, ... Each stage requires the step
    * event at-or-after the previous stage's FIRST qualifying time (the
    * standard "earliest-entry" funnel semantics — deterministic, no
    * per-path search).
    *
    * Single aggregation pass: per-user first-times are one groupBy with
    * conditional `min`s; stage times build left-to-right inside the same
    * row. Scale: shuffle carries one row per user.
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // stage k time = min ts of step-k events at-or-after stage k-1's time.
    // min(ts WHERE type=step AND ts >= prev) is not expressible as a single
    // conditional agg (prev is itself an agg), so compute per-user sorted
    // event lists once and fold client-side? No — stay distributed: one
    // aggregation collecting each step's sorted timestamp list per user
    // (bounded: only steps' events), then a scalar fold across stages.
    val stepTimes = steps.zipWithIndex.map { case (s, i) =>
      sort_array(collect_list(when(col(typeCol) === s, unix_micros(col(tsCol))))).as(s"t$i")
    }
    val perUser = events
      .filter(col(typeCol).isin(steps: _*))
      .groupBy(col(userCol))
      .agg(stepTimes.head, stepTimes.tail: _*)
    // stage0 = first step-0 time; stage k = first t_k >= stage_{k-1}
    // (try_element_at: empty list -> NULL, no ANSI out-of-bounds error)
    val stage0 = try_element_at(col("t0"), lit(1))
    val stages = steps.indices.tail.scanLeft(stage0) { (prev, i) =>
      // filter() is a codegen'd higher-order function; lists are per-user
      // step events only, so this is a short in-memory scan
      try_element_at(filter(col(s"t$i"), t => t >= prev), lit(1))
    }
    // coalesce: a global sum over ZERO users (no events of any step type)
    // is NULL, but "0 users reached this stage" is the correct answer
    val reached = stages.zipWithIndex.map { case (st, i) =>
      coalesce(sum(when(st.isNotNull, 1L).otherwise(0L)), lit(0L)).as(s"n_stage$i")
    }
    val agg = perUser.agg(reached.head, reached.tail: _*)
    // long format: (stage name, users reaching it) — stable schema
    val stageRows = steps.indices.map { i =>
      agg.select(lit(i).as("stage"), lit(steps.take(i + 1).mkString(">")).as("path"),
        col(s"n_stage$i").as("n_users"))
    }
    stageRows.reduce(_ unionByName _)
  }

  /** Weekly cohort retention: users bucketed by the week of their first
    * event (cohort), counted per whole-weeks-elapsed offset in which they
    * were active. Two aggregations: first-event per user (one shuffle on
    * user), then distinct-user counts per (cohort_week, week_offset).
    */
  def cohortRetention(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firstEvent = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("first_ts"))
      .select(col(userCol), date_trunc("week", col("first_ts")).as("cohort_week"))
    events
      .join(firstEvent, userCol)
      .select(col(userCol), col("cohort_week"),
        floor((unix_micros(col(tsCol)) - unix_micros(col("cohort_week")))
          / (7L * 24 * 3600 * 1000000L)).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
      .select(to_date(col("cohort_week")).as("cohort_week"),
        col("week_offset"), col("n_users"))
  }

  /** Training-sequence builder: each user's first `budget` events in
    * (ts, event_id) order — the "turn history → training example" step of a
    * conversation / behavior-sequence pipeline, with the tail truncated at
    * the context budget and the truncation recorded.
    *
    * NOT a window sort: `row_number` over (user ⨯ time) shuffles and sorts
    * every event of every user to keep `budget` of them. [[GroupTopK]]'s
    * bounded heaps carry at most `budget` rows per (partition, user), so
    * the exchange is budget-bounded regardless of how long a user's history
    * is. The heap score is the negated event-time in MICROSECONDS, exact in
    * a double while |unix_micros| < 2^53 (year ~2255) — guarded in-plan via
    * assert_true, ties broken by event id on both engines. The event-type
    * join-back and per-user totals are equi-joins the small side of which
    * is budget-bounded per user.
    */
  def eventSequences(
      events: DataFrame,
      budget: Int = 8,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    require(budget > 0, "need a positive budget")
    val tsUs = unix_micros(col(tsCol))
    // assert_true yields NULL when the invariant holds, so coalesce rides
    // the guard on the score column itself (q111's discipline)
    val score = coalesce(
      assert_true(abs(tsUs) < lit(1L << 53),
        lit("eventSequences: timestamp outside the exact-double micros range")).cast("double"),
      -tsUs.cast("double"))
    val top = GroupTopK.topK(
      events.select(col(userCol), col(idCol), col(tsCol)),
      Seq(userCol), score, col(idCol), budget)
      .select(col(userCol), col("rnk"), col("id").as(idCol))
    val counts = events.groupBy(col(userCol)).agg(count(lit(1)).as("n_events"))
    top
      .join(events.select(col(idCol), col(typeCol)), idCol)
      .join(counts, userCol)
      .select(col(userCol), col("rnk"), col(idCol), col(typeCol),
        col("n_events"), (col("n_events") > budget).as("truncated"))
  }

  /** First-order Markov transition matrix over per-user event streams —
    * the clickstream/behavior model every product-analytics stack derives
    * (and the "what usually happens next" prior a funnel is checked
    * against): for every ordered adjacent pair within a user's stream,
    * P(to | from) = n(from→to) / n(from→·). Self-transitions count;
    * each user's last event emits nothing.
    *
    * One shuffle: the lead window on (user; ts, id) — the (from, to)
    * count table is types²-bounded so its agg collapses map-side, and
    * the row-total normalizer joins back as a broadcast. Probabilities
    * are one integer-derived division, round 4 — exact replay.
    */
  def transitionMatrix(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
    val counts = pairs
      .groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("_ft"))
    counts
      .join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("_ft"), 4).as("p"))
  }

  /** EWMA control chart over daily event counts (Roberts 1959 / Hunter
    * 1986 — the classical drift-sensitive monitoring statistic; ops
    * stacks run exactly this over ingest volumes): per event type, the
    * exponentially weighted moving average e_i = α·c_i + (1−α)·e_{i−1}
    * (e_0 = c_0) of the daily count series, plus a Poisson-style anomaly
    * flag |c_i − e_{i−1}| > 3·√e_{i−1} — "today deviates from the
    * smoothed history by more than 3 sigma".
    *
    * The recursion is computed as an EXPLICIT prefix fold per row
    * (first element as seed, left-associative α·c + (1−α)·e — DuckDB's
    * `list_reduce` is this exact fold, so every double replays
    * bit-for-bit and the UNROUNDED 3σ comparison is engine-stable).
    * O(days²) per type, and days are physically bounded — time passes
    * at 86 400 s/day no matter how many rows the corpus has.
    *
    * Shape: one (type, day) hash agg with map-side partials collapses
    * the event stream; the per-type ordered series is a bounded
    * collect_list; everything after is in-row. One shuffle.
    */
  def ewmaDailyCounts(
      events: DataFrame,
      alpha: Double = 0.3,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0, 1]")
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
    def fold(upTo: Column): Column = {
      val pre = transform(slice(col("cs"), lit(1), upTo),
        x => x.getField("n").cast("double"))
      aggregate(slice(pre, lit(2), size(pre) - 1), element_at(pre, 1),
        (e, c) => lit(alpha) * c + lit(1.0 - alpha) * e)
    }
    series
      .select(col(typeCol), posexplode(col("cs")).as(Seq("_i", "e")), col("cs"))
      .select(col(typeCol),
        col("e.day").as("day"), col("e.n").as("n"),
        // arithmetic rounding (floor(x*1e4+0.5)/1e4): Spark's round()
        // rounds the shortest decimal repr, DuckDB the binary value — a
        // fold landing on a decimal x.xxxx5 boundary would disagree
        (floor(fold(col("_i") + 1) * 10000 + lit(0.5)) / 10000).as("ewma"),
        when(col("_i") === 0, lit(false))
          .otherwise(abs(col("e.n").cast("double") - fold(col("_i"))) >
            lit(3.0) * sqrt(fold(col("_i")))).as("anomaly"))
  }

  /** CUSUM change-point detection over daily event counts (Page 1954 —
    * the sequential statistic that catches small SUSTAINED level shifts
    * an EWMA's single-day 3σ test misses): per type, the one-sided sums
    * S⁺_i = max(0, S⁺_{i−1} + (c_i − μ − k)) and
    * S⁻_i = max(0, S⁻_{i−1} + (μ − c_i − k)) with Poisson-scaled slack
    * k = `slack`·√μ and decision threshold h = `threshold`·√μ (classic
    * 0.5σ/4σ tuning); alarm when either sum crosses h. μ is the type's
    * own mean daily count.
    *
    * Same engine-parity shape as [[ewmaDailyCounts]]: explicit per-row
    * prefix folds over the bounded per-type series (DuckDB's
    * `list_reduce` is the same left fold, μ/k/h derive in-row from
    * integer masses through identical op chains), so the unrounded
    * alarm booleans replay bit-for-bit. One shuffle.
    */
  def cusumDailyCounts(
      events: DataFrame,
      slack: Double = 0.5,
      threshold: Double = 4.0,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
    val mu = aggregate(col("cs"), lit(0L),
      (a, e) => a + e.getField("n")).cast("double") / size(col("cs"))
    val kk = lit(slack) * sqrt(mu)
    val h = lit(threshold) * sqrt(mu)
    def side(upTo: Column, upward: Boolean): Column = {
      val pre = transform(slice(col("cs"), lit(1), upTo),
        x => x.getField("n").cast("double"))
      aggregate(pre, lit(0.0), (a, c) =>
        greatest(lit(0.0),
          a + (if (upward) c - mu - kk else mu - c - kk)))
    }
    series
      .select(col(typeCol), posexplode(col("cs")).as(Seq("_i", "e")), col("cs"))
      .select(col(typeCol),
        col("e.day").as("day"), col("e.n").as("n"),
        round(side(col("_i") + 1, upward = true), 4).as("cusum_up"),
        round(side(col("_i") + 1, upward = false), 4).as("cusum_down"),
        (side(col("_i") + 1, upward = true) > h ||
          side(col("_i") + 1, upward = false) > h).as("alarm"))
  }

  /** Association rules over per-user event-type baskets (Agrawal,
    * Imieliński & Swami 1993 — the market-basket support/confidence/lift
    * triple, at the 1-item ⇒ 1-item level): which behaviors co-occur in
    * the same users beyond what their base rates predict. Lift > 1 =
    * genuine association; ≈ 1 = independence — the correction raw
    * co-occurrence counts miss.
    *
    * Shape: baskets are the DISTINCT (user, type) pairs (one hash agg —
    * the event stream collapses map-side); the pair build is a self-join
    * on user with per-user fan-out bounded by types², item counts are a
    * types-bounded agg, and the user total is a one-row broadcast. All
    * three ratios are single divisions of integer masses, round 4; both
    * rule directions are emitted.
    */
  def associationRules(
      events: DataFrame,
      minSupport: Double = 0.01,
      userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    val baskets = events
      .select(col(userCol).as("u"), col(typeCol).as("item"))
      .distinct()
      .persist() // feeds item counts, the pair self-join, and the total
    val nUsers = baskets.select(col("u")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val itemCounts = baskets
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val pairCounts = baskets.as("x")
      .join(baskets.as("y"),
        col("x.u") === col("y.u") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("i1"), col("y.item").as("i2"))
      .agg(count(lit(1)).as("n_both"))
    val both = pairCounts
      .select(col("i1").as("antecedent"), col("i2").as("consequent"), col("n_both"))
      .unionAll(pairCounts
        .select(col("i2").as("antecedent"), col("i1").as("consequent"), col("n_both")))
    both
      .join(itemCounts.select(col("item").as("antecedent"), col("n_item").as("n_a")),
        "antecedent")
      .join(itemCounts.select(col("item").as("consequent"), col("n_item").as("n_b")),
        "consequent")
      .crossJoin(broadcast(nUsers))
      .filter(col("n_both").cast("double") / col("n_users") >= minSupport)
      .select(col("antecedent"), col("consequent"), col("n_both"),
        round(col("n_both").cast("double") / col("n_users"), 4).as("support"),
        round(col("n_both").cast("double") / col("n_a"), 4).as("confidence"),
        round((col("n_both").cast("double") * col("n_users"))
          / (col("n_a").cast("double") * col("n_b")), 4).as("lift"))
  }

  /** Kaplan-Meier survival curve over user lifetimes (Kaplan & Meier
    * 1958 — THE nonparametric retention estimator; product analytics
    * "retention curves" are exactly this with churn as the event): a
    * user's lifetime is last−first event in whole days; the user CHURNED
    * (event observed) if silent for more than `churnGapDays` before the
    * corpus's last timestamp, otherwise they are right-CENSORED — the
    * distinction naive retention averages get wrong and KM exists to
    * handle. S(t) = Π_{death days ≤ t} (1 − d_i / n_i), with n_i the
    * number still at risk.
    *
    * Shape: one per-user agg (the only corpus-width shuffle), a one-row
    * broadcast observation-end scalar, then the per-lifetime-day
    * histogram — bounded by the calendar, not by rows — collects into
    * ONE in-row array where prefix counts and the KM product evaluate
    * as nested folds (O(days³) of driver-free in-row arithmetic on a
    * physically bounded array; the d_i = 0 terms contribute an exact
    * 1.0, so the product needs no conditional). Every count is integer-
    * derived and the fold order is fixed, so the curve replays exactly.
    */
  def kaplanMeier(
      events: DataFrame,
      churnGapDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_first"),
        max(unix_micros(col(tsCol))).as("_last"))
    val end = events.agg(max(unix_micros(col(tsCol))).as("_end"))
    val dayUs = 86400000000L
    val lifetimes = perUser
      .crossJoin(broadcast(end))
      .select(
        ((col("_last") - col("_first")) / dayUs).cast("long").as("t_day"),
        ((col("_end") - col("_last")) > churnGapDays * dayUs)
          .cast("long").as("churned"))
    val hist = lifetimes
      .groupBy(col("t_day"))
      .agg(count(lit(1)).as("n_total"), sum(col("churned")).as("n_deaths"))
    val one = hist
      .groupBy()
      .agg(sort_array(collect_list(
        struct(col("t_day"), col("n_total"), col("n_deaths")))).as("h"))
      .select(col("h"),
        aggregate(col("h"), lit(0L),
          (a, e) => a + e.getField("n_total")).as("n_users"))
    def nTot(e: Column): Column = e.getField("n_total")
    def nDth(e: Column): Column = e.getField("n_deaths").cast("double")
    one
      .select(col("h"), col("n_users"),
        posexplode(col("h")).as(Seq("_i", "e")))
      .select(
        col("e.t_day").as("t_day"),
        (col("n_users") - aggregate(slice(col("h"), lit(1), col("_i")),
          lit(0L), (a, e) => a + nTot(e))).as("n_risk"),
        col("e.n_deaths").as("n_deaths"),
        (col("e.n_total") - col("e.n_deaths")).as("n_censored"),
        round(aggregate(
          transform(sequence(lit(1), col("_i") + 1), j =>
            lit(1.0) - nDth(element_at(col("h"), j)) /
              (col("n_users") - aggregate(slice(col("h"), lit(1), j - 1),
                lit(0L), (a, e) => a + nTot(e))).cast("double")),
          lit(1.0), (a, x) => a * x), 4).as("survival"))
      .filter(col("n_deaths") > 0)
  }

  /** Mann–Kendall monotone-trend test with Sen's slope (Mann 1945 /
    * Kendall's S with the tie-corrected variance; Sen 1968 — the
    * STANDARD pairing for "is this series drifting, and how fast?" on
    * data with outliers and no distributional assumptions): the robust
    * members the time-series shelf's EWMA (level alarms), CUSUM
    * (sustained shifts), and ACF (periodicity) don't cover — MK asks
    * whether a MONOTONE trend exists at all (distribution-free,
    * outlier-proof: one crazy day moves S by at most n−1 sign flips),
    * Sen's slope is the median of all pairwise slopes (50% breakdown
    * point where OLS has 0%). One row per event type:
    * (event_type, n_days, mk_s, z, sen_slope).
    *
    * Engine-parity shape ([[cusumDailyCounts]]'s exactly): one
    * (type, day) agg is the only corpus exchange, the calendar-bounded
    * series collects in day order, and every statistic is an in-row
    * fold — S = Σ_{i<j} sign(n_j − n_i) an exact integer, the tie mass
    * τ = Σ_t t(t−1)(2t+5) via per-element equal-counts (exact), the
    * variance (n(n−1)(2n+5) − τ)/18 and the ±1-continuity-corrected z
    * one double chain, and Sen's slope the exact middle (or mean of the
    * two middles) of the SORTED pairwise-slope array. Types with fewer
    * than two days report NULL displays.
    */
  def mannKendallTrend(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    // null-ts rows are dropped HERE, not at call sites, so all four trend
    // operators (MK / Cox–Stuart / KPSS / trendCard) share the same input
    // contract — previously only caller-side pre-filters kept a spurious
    // null-day point out of the standalone MK series (ADVICE r17)
    val daily = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
    def elN(j: Column) = element_at(col("cs"), j.cast("int")).getField("n")
    def elD(j: Column) = unix_date(
      element_at(col("cs"), j.cast("int")).getField("day"))
    // S: exact integer pair-sign sum, folded j-ascending, i<j inner
    val s = aggregate(sequence(lit(2), col("m")), lit(0L), (acc, j) =>
      acc + aggregate(sequence(lit(1), j - 1), lit(0L), (a2, i) =>
        a2 + when(elN(j) > elN(i), 1L)
          .when(elN(j) < elN(i), -1L).otherwise(0L)))
    // tie mass Σ t(t−1)(2t+5) = Σ_j (c_j − 1)(2c_j + 5) with c_j the
    // count of elements equal to element j — exact integers
    val tau = aggregate(sequence(lit(1), col("m")), lit(0L), (acc, j) => {
      val cj = aggregate(col("cs"), lit(0L), (a2, e) =>
        a2 + when(e.getField("n") === elN(j), 1L).otherwise(0L))
      acc + (cj - 1) * (lit(2L) * cj + 5)
    })
    val md = col("m").cast("double")
    val varS = (md * (md - 1) * (lit(2.0) * md + 5) -
      col("_tau").cast("double")) / 18
    val sd = col("_s").cast("double")
    val z = when(col("_s") > 0, (sd - 1) / sqrt(varS))
      .when(col("_s") < 0, (sd + 1) / sqrt(varS))
      .otherwise(lit(0.0))
    // Sen: sorted pairwise slopes, exact middle / mean of two middles
    val slopes = sort_array(flatten(transform(sequence(lit(2), col("m")),
      j => transform(sequence(lit(1), j - 1), i =>
        (elN(j) - elN(i)).cast("double") /
          (elD(j) - elD(i)).cast("double")))))
    val p = size(col("_sl"))
    val sen = when(p % 2 === 1,
      element_at(col("_sl"), ((p + 1) / 2).cast("int")))
      .otherwise((element_at(col("_sl"), (p / 2).cast("int")) +
        element_at(col("_sl"), (p / 2 + 1).cast("int"))) / 2)
    series
      // sequence(2, 1) would step DOWNWARD (the bhAdjust lesson): a
      // single-day series must not build pair indices at all
      .withColumn("_s", when(col("m") > 1, s).otherwise(lit(0L)))
      .withColumn("_tau", when(col("m") > 1, tau).otherwise(lit(0L)))
      .withColumn("_sl", when(col("m") > 1, slopes)
        .otherwise(array().cast("array<double>")))
      .select(col(typeCol), col("m").cast("long").as("n_days"),
        col("_s").as("mk_s"),
        when(col("m") > 1 && varS > 0, r4(z))
          .otherwise(lit(null).cast("double")).as("z"),
        when(col("m") > 1, r4(sen))
          .otherwise(lit(null).cast("double")).as("sen_slope"))
  }

  /** Pettitt change-point test (Pettitt 1979, the rank-based single
    * change-point locator): WHERE did the daily series shift? —
    * completing the time-series shelf's division of labor:
    * [[ewmaDailyCounts]] alarms on a bad day, [[cusumDailyCounts]] on a
    * sustained shift, [[mannKendallTrend]] says whether a monotone
    * trend exists; Pettitt pinpoints the most likely SPLIT DAY and its
    * significance, distribution-free. One row per event type:
    * (event_type, n_days, k_stat, change_day, p_approx).
    *
    * U_t = Σ_{i≤t} Σ_{j>t} sign(x_j − x_i) for every split t;
    * K = max_t |U_t| (earliest day on ties — deterministic), and the
    * standard approximation p ≈ min(1, 2·exp(−6K²/(n³ + n²))). Every
    * U_t is an exact integer in-row pair fold; only the p chain is
    * float, spelled once.
    *
    * Engine-parity shape ([[cusumDailyCounts]]'s): one (type, day) agg
    * is the only corpus exchange, the calendar-bounded series collects
    * in day order, O(days²) in-row arithmetic. Types with fewer than
    * two days report NULL displays.
    */
  def pettittTest(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
    def elN(j: Column) = element_at(col("cs"), j.cast("int")).getField("n")
    // U_t per split, exact integers: sign sum over (i <= t) x (j > t)
    def uAt(t: Column): Column =
      aggregate(sequence(lit(1), t), lit(0L), (acc, i) =>
        acc + aggregate(sequence(t + 1, col("m")), lit(0L), (a2, j) =>
          a2 + when(elN(j) > elN(i), 1L)
            .when(elN(j) < elN(i), -1L).otherwise(0L)))
    // (|U_t|, t) pairs; max by |U|, EARLIEST split on ties — encoded as
    // one integer key |U|·(m+1) − t so array_max is deterministic
    val keyArr = transform(sequence(lit(1), col("m") - 1), t =>
      abs(uAt(t)) * (col("m").cast("long") + 1) - t.cast("long"))
    val bestKey = array_max(col("_keys"))
    val kStat = floor(bestKey / (col("m").cast("long") + 1)) +
      when(pmod(bestKey, col("m").cast("long") + 1) =!= 0, 1L).otherwise(0L)
    val bestT = (kStat * (col("m").cast("long") + 1) - bestKey).cast("int")
    val md = col("m").cast("double")
    val kd = col("_k").cast("double")
    val p = least(lit(1.0),
      lit(2.0) * exp(lit(-6.0) * kd * kd / (md * md * md + md * md)))
    series
      // sequence(2, 1) would step DOWNWARD (the bhAdjust lesson): a
      // single-day series builds no split candidates at all
      .withColumn("_keys", when(col("m") > 1, keyArr)
        .otherwise(array().cast("array<long>")))
      .withColumn("_k", when(col("m") > 1, kStat).otherwise(lit(0L)))
      .select(col(typeCol), col("m").cast("long").as("n_days"),
        when(col("m") > 1, col("_k"))
          .otherwise(lit(null).cast("long")).as("k_stat"),
        when(col("m") > 1,
          element_at(col("cs"), bestT).getField("day"))
          .otherwise(lit(null).cast("date")).as("change_day"),
        when(col("m") > 1, r4(p))
          .otherwise(lit(null).cast("double")).as("p_approx"))
  }

  /** Two-cohort log-rank test (Mantel 1966 / Peto & Peto 1972 — THE
    * significance companion to [[kaplanMeier]]: the curve says what each
    * cohort's retention looks like, this says whether the two curves
    * DIFFER beyond chance, weighting every event time by its risk set —
    * the comparison naive "day-30 retention" point reads get wrong under
    * censoring). Lifetimes and censoring are [[kaplanMeier]]'s exactly;
    * `cohortCol` must be user-constant and 0/1 (aggregated per user via
    * max). One row: (n_a, n_b, obs_a, exp_a, z) — cohort 0's observed
    * vs expected churn count under H₀ and the hypergeometric-variance
    * normal z (z² is the log-rank chi-square on 1 df).
    *
    * At each distinct lifetime day j with d_j total deaths, r_cj at
    * risk: E contribution d_j·r_0j/r_j, variance contribution
    * d_j·(r_0j/r_j)·(1 − r_0j/r_j)·(r_j − d_j)/(r_j − 1). All counts
    * are integers from ONE bounded per-day histogram; at-risk counts
    * are in-row prefix folds over the day-sorted array (the KM shape —
    * bounded by the calendar, not rows) and both float sums fold in
    * fixed day order, so the statistic replays exactly on both engines.
    *
    * Scale shape: one per-user agg is the only corpus-width exchange,
    * a one-row observation-end broadcast, a calendar-bounded histogram
    * collected to ONE row, O(days²) in-row arithmetic.
    */
  /** Nelson–Aalen cumulative-hazard curve (Nelson 1972; Aalen 1978 —
    * the additive twin of [[kaplanMeier]]'s multiplicative survival:
    * Ĥ(t) = Σ_{death days ≤ t} d_i/n_i with variance Σ d_i/n_i². Where
    * KM answers "what fraction survives to t?", NA answers "how much
    * hazard has accumulated by t?" — the curve hazard-ratio thinking
    * (and every additive-risk model) starts from, and the
    * better-behaved estimator in small risk sets where the KM product
    * amplifies single-day noise). One row per death day:
    * (t_day, n_risk, n_deaths, h_bp, se_bp).
    *
    * Exactness: same lifetime/histogram derivation as [[kaplanMeier]]
    * (one per-user agg, a one-row observation-end broadcast, the
    * calendar-bounded day histogram collected to ONE row); each day's
    * hazard and variance increments quantize to floor(term·2³⁰) longs
    * (the q238 grain discipline), so the cumulative sums are
    * order-free integer folds and the displays are single divisions of
    * one integer — no float accumulates across the day axis.
    */
  def nelsonAalen(
      events: DataFrame,
      churnGapDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_first"),
        max(unix_micros(col(tsCol))).as("_last"))
    val end = events.agg(max(unix_micros(col(tsCol))).as("_end"))
    val dayUs = 86400000000L
    val lifetimes = perUser
      .crossJoin(broadcast(end))
      .select(
        ((col("_last") - col("_first")) / dayUs).cast("long").as("t_day"),
        ((col("_end") - col("_last")) > churnGapDays * dayUs)
          .cast("long").as("churned"))
    val hist = lifetimes
      .groupBy(col("t_day"))
      .agg(count(lit(1)).as("n_total"), sum(col("churned")).as("n_deaths"))
    val one = hist
      .groupBy()
      .agg(sort_array(collect_list(
        struct(col("t_day"), col("n_total"), col("n_deaths")))).as("h"))
      .select(col("h"),
        aggregate(col("h"), lit(0L),
          (a, e) => a + e.getField("n_total")).as("n_users"))
    def nTot(e: Column): Column = e.getField("n_total")
    // at-risk just before index j (1-based): users minus earlier mass
    def risk(j: Column): Column =
      (col("n_users") - aggregate(slice(col("h"), lit(1), j - 1),
        lit(0L), (a, e) => a + nTot(e))).cast("double")
    def dth(j: Column): Column =
      element_at(col("h"), j).getField("n_deaths").cast("double")
    // grain folds: each increment floors to an integer BEFORE summing,
    // so the cumulative is order-free and both engines replay it
    def cumGrain(i: Column, term: Column => Column): Column =
      aggregate(transform(sequence(lit(1), i + 1), j =>
        floor(term(j) * 1073741824).cast("long")), lit(0L), (a, x) => a + x)
    def bpOf(grains: Column) =
      floor(grains.cast("double") / 1073741824 * 10000 + lit(0.5))
        .cast("long")
    one
      .select(col("h"), col("n_users"),
        posexplode(col("h")).as(Seq("_i", "e")))
      .select(
        col("e.t_day").as("t_day"),
        risk(col("_i") + 1).cast("long").as("n_risk"),
        col("e.n_deaths").as("n_deaths"),
        bpOf(cumGrain(col("_i"), j => dth(j) / risk(j))).as("h_bp"),
        floor(sqrt(cumGrain(col("_i"),
            j => dth(j) / (risk(j) * risk(j))).cast("double") / 1073741824)
          * 10000 + lit(0.5)).cast("long").as("se_bp"))
      .filter(col("n_deaths") > 0)
  }

  def logRankTest(
      events: DataFrame,
      cohortCol: Column,
      churnGapDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_first"),
        max(unix_micros(col(tsCol))).as("_last"),
        max(cohortCol.cast("long")).as("_c"))
    val end = events.agg(max(unix_micros(col(tsCol))).as("_end"))
    val dayUs = 86400000000L
    val lifetimes = perUser
      .crossJoin(broadcast(end))
      .select(
        ((col("_last") - col("_first")) / dayUs).cast("long").as("t_day"),
        ((col("_end") - col("_last")) > churnGapDays * dayUs)
          .cast("long").as("churned"),
        col("_c"))
    val hist = lifetimes
      .groupBy(col("t_day"))
      .agg(
        sum(when(col("_c") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("_c") =!= 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_c") === 0, col("churned")).otherwise(0L)).as("d0"),
        sum(when(col("_c") =!= 0, col("churned")).otherwise(0L)).as("d1"))
    val one = hist
      .groupBy()
      .agg(sort_array(collect_list(struct(
        col("t_day"), col("n0"), col("n1"), col("d0"), col("d1")))).as("h"))
    def tot(field: String) = aggregate(col("h"), lit(0L),
      (a, e) => a + e.getField(field))
    // at-risk in cohort c just before index j (1-based): total minus the
    // histogram mass of strictly earlier days — the KM prefix fold
    def risk(total: Column, field: String, j: Column) =
      (total - aggregate(slice(col("h"), lit(1), j - 1), lit(0L),
        (a, e) => a + e.getField(field))).cast("double")
    val withTotals = one
      .select(col("h"), tot("n0").as("na"), tot("n1").as("nb"),
        tot("d0").as("_oa"))
    def el(j: Column, field: String) =
      element_at(col("h"), j).getField(field)
    def dj(j: Column) = (el(j, "d0") + el(j, "d1")).cast("double")
    // both folds run in ascending day order seeded 0.0 — the fixed
    // association both engines replay term-for-term
    val expA = aggregate(
      transform(sequence(lit(1), size(col("h"))), j =>
        dj(j) * risk(col("na"), "n0", j) /
          (risk(col("na"), "n0", j) + risk(col("nb"), "n1", j))),
      lit(0.0), (a, x) => a + x)
    val varA = aggregate(
      transform(sequence(lit(1), size(col("h"))), j => {
        val r0 = risk(col("na"), "n0", j)
        val r = risk(col("na"), "n0", j) + risk(col("nb"), "n1", j)
        when(r > 1,
          dj(j) * (r0 / r) * (lit(1.0) - r0 / r) * (r - dj(j)) / (r - 1))
          .otherwise(lit(0.0))
      }),
      lit(0.0), (a, x) => a + x)
    withTotals
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("_oa").as("obs_a"),
        r4(expA).as("exp_a"),
        when(col("na") > 0 && col("nb") > 0 && varA > 0,
          r4((col("_oa").cast("double") - expA) / sqrt(varA)))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Weighted log-rank family in one pass — log-rank, Gehan–Breslow–
    * Wilcoxon, and Tarone–Ware (Gehan 1965; Breslow 1970; Tarone & Ware
    * 1977): the classical trio differs only in the day weight w_j
    * applied to the same (O − E) increments — log-rank w = 1 weights
    * every death day equally (most powerful under proportional
    * hazards), Gehan w = r_j/N weights by the at-risk fraction (early
    * differences — exactly where most of a retention cohort still
    * lives), Tarone–Ware w = √(r_j/N) sits between. A churn comparison
    * that only runs [[logRankTest]] misses an early-divergence/late-
    * convergence pattern Gehan flags; the card reports all three from
    * ONE histogram pass. One row:
    * (n_a, n_b, obs_a, z_logrank_bp, z_gehan_bp, z_tarone_bp).
    *
    * Weights normalize by N (= n_a + n_b): z is invariant to constant
    * weight scaling, and r_j/N ∈ (0, 1] keeps every quantized term
    * magnitude-bounded at any corpus size. Each day's numerator and
    * variance term quantizes to floor(term·2²⁰) (signed floor — both
    * engines floor identically), so the day-axis sums are order-free
    * integer folds and each z is a two-division display chain.
    *
    * Scale shape: [[logRankTest]]'s exactly — one per-user agg, one
    * observation-end broadcast, the calendar-bounded cohort histogram
    * collected to ONE row, O(days²) in-row arithmetic.
    */
  def weightedLogRankCard(
      events: DataFrame,
      cohortCol: Column,
      churnGapDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_first"),
        max(unix_micros(col(tsCol))).as("_last"),
        max(cohortCol.cast("long")).as("_c"))
    val end = events.agg(max(unix_micros(col(tsCol))).as("_end"))
    val dayUs = 86400000000L
    val lifetimes = perUser
      .crossJoin(broadcast(end))
      .select(
        ((col("_last") - col("_first")) / dayUs).cast("long").as("t_day"),
        ((col("_end") - col("_last")) > churnGapDays * dayUs)
          .cast("long").as("churned"),
        col("_c"))
    val hist = lifetimes
      .groupBy(col("t_day"))
      .agg(
        sum(when(col("_c") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("_c") =!= 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_c") === 0, col("churned")).otherwise(0L)).as("d0"),
        sum(when(col("_c") =!= 0, col("churned")).otherwise(0L)).as("d1"))
    val one = hist
      .groupBy()
      .agg(sort_array(collect_list(struct(
        col("t_day"), col("n0"), col("n1"), col("d0"), col("d1")))).as("h"))
    def tot(field: String) = aggregate(col("h"), lit(0L),
      (a, e) => a + e.getField(field))
    val withTotals = one
      .select(col("h"), tot("n0").as("na"), tot("n1").as("nb"),
        tot("d0").as("_oa"))
    def el(j: Column, field: String) =
      element_at(col("h"), j).getField(field)
    def riskL(totalCol: Column, field: String, j: Column) =
      (totalCol - aggregate(slice(col("h"), lit(1), j - 1), lit(0L),
        (a, e) => a + e.getField(field))).cast("double")
    val nTotD = (col("na") + col("nb")).cast("double")
    // per-day pieces, each referenced once per weight via the shared
    // spelled chain (both engines replay the identical float sequence
    // INSIDE each floored grain; across days only integers add)
    def grainSum(term: Column => Column): Column =
      aggregate(transform(sequence(lit(1), size(col("h"))), j =>
        floor(term(j) * 1048576).cast("long")), lit(0L), (a, x) => a + x)
    def numTerm(w: Column => Column)(j: Column): Column = {
      val r0 = riskL(col("na"), "n0", j)
      val r = riskL(col("na"), "n0", j) + riskL(col("nb"), "n1", j)
      val d = (el(j, "d0") + el(j, "d1")).cast("double")
      w(j) * (el(j, "d0").cast("double") - d * r0 / r)
    }
    def varTerm(w: Column => Column)(j: Column): Column = {
      val r0 = riskL(col("na"), "n0", j)
      val r = riskL(col("na"), "n0", j) + riskL(col("nb"), "n1", j)
      val d = (el(j, "d0") + el(j, "d1")).cast("double")
      when(r > 1,
        w(j) * w(j) * (d * (r0 / r) * (lit(1.0) - r0 / r) * (r - d) / (r - 1)))
        .otherwise(lit(0.0))
    }
    def rFrac(j: Column): Column =
      (riskL(col("na"), "n0", j) + riskL(col("nb"), "n1", j)) / nTotD
    val wOne = (_: Column) => lit(1.0)
    val wGehan = (j: Column) => rFrac(j)
    val wTarone = (j: Column) => sqrt(rFrac(j))
    def zOf(num: Column, den: Column): Column =
      when(col("na") > 0 && col("nb") > 0 && den > 0,
        floor((num.cast("double") / 1048576) /
          sqrt(den.cast("double") / 1048576) * 10000 + lit(0.5))
          .cast("long"))
        .otherwise(lit(null).cast("long"))
    withTotals.select(
      col("na").as("n_a"), col("nb").as("n_b"), col("_oa").as("obs_a"),
      zOf(grainSum(numTerm(wOne)), grainSum(varTerm(wOne)))
        .as("z_logrank_bp"),
      zOf(grainSum(numTerm(wGehan)), grainSum(varTerm(wGehan)))
        .as("z_gehan_bp"),
      zOf(grainSum(numTerm(wTarone)), grainSum(varTerm(wTarone)))
        .as("z_tarone_bp"))
  }

  /** Restricted mean survival time (Irwin 1949; Royston & Parmar 2013
    * made it the reporting standard) — the area under the
    * [[kaplanMeier]] curve up to horizon τ: "expected active days in
    * the first τ", the single-number summary a retention comparison
    * can average and difference where median survival may not even
    * exist (curves that never cross 0.5) and hazard ratios assume
    * proportionality. One row: (tau_day, n_users, n_curve_days,
    * rmst_bp).
    *
    * Contract: the integral is DEFINED over the 4-digit-rounded KM step
    * curve (the published display — so the number is consistent with
    * the curve a dashboard shows, and both engines replay the identical
    * step heights); each step's area quantizes to floor(s·Δt·2²⁰) (the
    * grain discipline — order-free integer summation over the bounded
    * day axis), and the display is one division.
    *
    * Scale shape: [[kaplanMeier]]'s plan plus one one-row fold — the
    * curve is calendar-bounded, so the area fold is in-row arithmetic
    * over a physically bounded array.
    */
  def rmst(
      events: DataFrame,
      tauDays: Long = 30L,
      churnGapDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(tauDays > 0, "the horizon must be positive")
    val km = kaplanMeier(events, churnGapDays, userCol, tsCol)
      .select(col("t_day"), col("survival"))
    val nUsers = events
      .groupBy(col(userCol)).agg(count(lit(1)).as("_one"))
      .agg(count(lit(1)).as("_nu"))
    val one = km.groupBy()
      .agg(sort_array(collect_list(struct(col("t_day"), col("survival"))))
        .as("ks"))
    val tau = lit(tauDays)
    def dayAt(j: Column) = element_at(col("ks"), j).getField("t_day")
    def survAt(j: Column) = element_at(col("ks"), j).getField("survival")
    val m = size(col("ks"))
    // step j covers [t_j, min(t_{j+1}, tau)) at height s_j; the initial
    // [0, min(t_1, tau)) segment rides at exactly 1.0 so its area is the
    // exact integer grain width·2^20
    val width0 = when(m > 0, least(dayAt(lit(1)), tau)).otherwise(tau)
    // sequence(1, 0) would step DOWNWARD on an empty curve (the bhAdjust
    // lesson) — a death-free cohort must yield area tau, not a throw
    val grains = when(m > 0,
      aggregate(transform(sequence(lit(1), m), j => {
        val tEnd = when(j < m, least(dayAt(j + 1), tau)).otherwise(tau)
        val w = greatest(lit(0L), tEnd - least(dayAt(j), tau))
        floor(survAt(j) * w.cast("double") * 1048576).cast("long")
      }), lit(0L), (a, x) => a + x)).otherwise(lit(0L))
    one.crossJoin(broadcast(nUsers))
      .select(tau.as("tau_day"), col("_nu").as("n_users"),
        m.cast("long").as("n_curve_days"),
        floor((width0.cast("double") + grains.cast("double") / 1048576) *
          10000 + lit(0.5)).cast("long").as("rmst_bp"))
  }

  /** Autocorrelation function of the daily count series (Box & Jenkins
    * 1970's ACF, the standard periodicity/seasonality diagnostic —
    * ρ(ℓ) = Σ(x_t−μ)(x_{t+ℓ}−μ) / Σ(x_t−μ)², biased estimator, the one
    * every stats package plots): one row per (event type, lag 1..`maxLag`).
    * A weekly cycle shows as a ρ(7) spike; white noise hovers near 0.
    *
    * Same engine-parity shape as [[ewmaDailyCounts]]: one (type, day)
    * agg, the bounded per-type series collected in day order, μ and both
    * sums as fixed-order in-row folds over the array — the whole chain
    * replays exactly (integer counts, one μ division, products folded in
    * day order).
    */
  def autocorrelation(
      events: DataFrame,
      maxLag: Int = 7,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(maxLag >= 1, "at least lag 1")
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .select(col(typeCol),
        transform(col("cs"), e => e.getField("n").cast("double")).as("xs"))
    val nDays = size(col("xs"))
    val mu = aggregate(col("xs"), lit(0.0), (a, x) => a + x) / nDays
    val denom = aggregate(col("xs"), lit(0.0),
      (a, x) => a + (x - mu) * (x - mu))
    series
      .select(col(typeCol), col("xs"), explode(sequence(lit(1), lit(maxLag))).as("_lag"))
      .filter(col("_lag") < size(col("xs")))
      .select(col(typeCol), col("_lag").cast("long").as("lag"),
        size(col("xs")).cast("long").as("n_days"),
        round(when(denom > 0, aggregate(
          sequence(lit(1), size(col("xs")) - col("_lag")),
          lit(0.0),
          (a, t) => a + (element_at(col("xs"), t) - mu) *
            (element_at(col("xs"), t + col("_lag")) - mu)) / denom)
          .otherwise(lit(0.0)), 4).as("acf"))
  }

  /** Ljung–Box portmanteau test (Ljung & Box 1978; the finite-sample
    * refinement of Box & Pierce 1970 — THE omnibus whiteness test every
    * stats package ships): [[autocorrelation]] PLOTS ρ(1..L); this asks
    * the yes/no question "is the daily series white noise at all, jointly
    * over the first L lags?" — Q = m(m+2)·Σ_{k≤L} ρ̂_k²/(m−k), chi-square
    * with L dof under H₀. One row per event type:
    * (event_type, n_days, r1_bp, q_bp, p_bp) — lag-1 autocorrelation,
    * Q, and the survival p, all BIGINT basis points.
    *
    * Float discipline: ρ̂_k's numerator and denominator are EXACT
    * integers — m²·c_k = Σ_i (m·x_i − S)(m·x_{i+k} − S) in DECIMAL(38,0)
    * (the m-scaling clears the mean division; the m² factors cancel in
    * the ratio), so the only floats are one division per lag, the
    * fixed-order k-ascending Q fold, and the closed-form even-dof
    * chi-square survival p = exp(−Q/2)·Σ_{j<L/2} (Q/2)^j/j! (why `lags`
    * must be even — the Pettitt exp precedent; odd dof would need erf).
    * Displays are BIGINT basis points (the q200 integer-card
    * discipline). Types with ≤ `lags` days or a constant series
    * (denominator 0) report NULL displays.
    *
    * Engine-parity shape ([[cusumDailyCounts]]'s): one (type, day) agg
    * is the only corpus exchange, the calendar-bounded series collects
    * in day order, O(days·lags) in-row arithmetic.
    */
  def ljungBox(
      events: DataFrame,
      lags: Int = 6,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(lags >= 2 && lags % 2 == 0,
      "lags must be even and >= 2 (closed-form even-dof chi-square survival)")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
      .withColumn("_s",
        aggregate(col("cs"), lit(0L), (a, e) => a + e.getField("n")))
      // m-centered series m·x_i − S: exact integers, the mean division
      // cleared (m² cancels in every autocorrelation ratio)
      .withColumn("_cx", transform(col("cs"), e =>
        col("m").cast(dec) * e.getField("n").cast(dec) -
          col("_s").cast(dec)))
    def cx(i: Column) = element_at(col("_cx"), i.cast("int"))
    // m²·c_k = Σ_{i=1..m−k} cx_i·cx_{i+k}, an exact DECIMAL(38,0) fold
    def num(k: Column): Column =
      aggregate(sequence(lit(1), col("m") - k), lit(0).cast(dec),
        (a, i) => (a + cx(i) * cx(i + k)).cast(dec))
    val withDen = series.withColumn("_den", num(lit(0)))
    val md = col("m").cast("double")
    // guard-protected divisor: the display guard already nulls den = 0
    // rows, the substitute keeps the division ANSI-safe
    val denS = when(col("_den") > 0, col("_den").cast("double"))
      .otherwise(lit(1.0))
    def rho(k: Column) = num(k).cast("double") / denS
    val qExpr = md * (md + 2) *
      aggregate(sequence(lit(1), lit(lags)), lit(0.0), (a, k) =>
        a + rho(k) * rho(k) / (md - k.cast("double")))
    val ok = col("m") > lags && col("_den") > 0
    // sequence(1, m − k) would step DOWNWARD on short series (the
    // bhAdjust lesson): every fold above only evaluates under `ok`
    val withQ = withDen.withColumn("_q",
      when(ok, qExpr).otherwise(lit(null).cast("double")))
    val h = col("_q") / 2
    // chi-square survival at even dof = lags: exp(−h)·Σ_{j<lags/2} h^j/j!
    val pSum = (0 until lags / 2).map { j =>
      val fact = (1 to j).product.toDouble
      (0 until j).foldLeft(lit(1.0 / fact): Column)((c, _) => c * h)
    }.reduce(_ + _)
    val p = exp(-h) * pSum
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    withQ.select(col(typeCol), col("m").cast("long").as("n_days"),
      when(ok, bp(rho(lit(1)))).otherwise(lit(null).cast("long"))
        .as("r1_bp"),
      when(ok, bp(col("_q"))).otherwise(lit(null).cast("long")).as("q_bp"),
      when(ok, bp(p)).otherwise(lit(null).cast("long")).as("p_bp"))
  }

  /** Durbin–Watson statistic (Durbin & Watson 1950 — THE lag-1
    * serial-correlation diagnostic regression practice reads first:
    * d = Σ(Δx)²/Σ(x−x̄)² ∈ [0, 4], 2 = white, → 0 positive
    * autocorrelation, → 4 negative; related to [[ljungBox]]'s ρ̂₁ by
    * d ≈ 2(1−ρ̂₁) — the spec pins that identity as a cross-
    * implementation contract, and the pair is reported side by side
    * the way the packages do). One row per event type:
    * (event_type, n_days, d_bp).
    *
    * Exactness: Σ(Δx)² is an exact integer and the m-scaled denominator
    * Σ(m·x−S)² = m²·Σ(x−x̄)² is the ljungBox c2 — so
    * d = m²·Σ(Δx)²/c2 is ONE division of exact DECIMAL(38,0) integers.
    * Constant series (c2 = 0) or single-day types report NULL.
    *
    * Engine-parity shape ([[cusumDailyCounts]]'s): one (type, day) agg,
    * O(days) in-row arithmetic.
    */
  def durbinWatson(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
      .withColumn("_s",
        aggregate(col("cs"), lit(0L), (a, e) => a + e.getField("n")))
    def elN(j: Column) = element_at(col("cs"), j.cast("int")).getField("n")
    // Σ(Δx)²: exact integers, no centering needed (differences kill it)
    val dnum = aggregate(sequence(lit(2), col("m")), lit(0).cast(dec),
      (a, j) => (a + ((elN(j) - elN(j - 1)) * (elN(j) - elN(j - 1)))
        .cast(dec)).cast(dec))
    // m²·Σ(x−x̄)² = Σ(m·x − S)², the ljungBox c2
    val c2 = aggregate(col("cs"), lit(0).cast(dec), (a, e) => {
      val cx = col("m").cast(dec) * e.getField("n").cast(dec) -
        col("_s").cast(dec)
      (a + cx * cx).cast(dec)
    })
    val withD = series
      // sequence(2, 1) would step DOWNWARD on a single-day series (the
      // bhAdjust lesson)
      .withColumn("_dn", when(col("m") > 1, dnum).otherwise(lit(0).cast(dec)))
      .withColumn("_c2", c2)
    val d = col("m").cast(dec).*(col("m").cast(dec)).*(col("_dn"))
      .cast("double") / col("_c2").cast("double")
    val ok = col("m") > 1 && col("_c2") > 0
    withD.select(col(typeCol), col("m").cast("long").as("n_days"),
      when(ok, floor(d * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("d_bp"))
  }

  /** Cox–Stuart trend test (Cox & Stuart 1955) — the sign test for
    * trend: pair each day in the series' first half with its opposite
    * number in the second half and count rises vs falls. Beside
    * [[mannKendallTrend]] (all-pairs S, more power) this is the
    * maximal-robustness screen — one wild day flips at most ONE pair,
    * where MK moves by n−1 sign flips — and its null is the exact
    * binomial(½), so the z is the plain sign-test chain the paired
    * shelf already trusts. One row per event type:
    * (event_type, n_days, n_pairs, n_pos, z_bp), ties dropped (the
    * signTest convention), z null when no untied pair remains.
    *
    * Engine-parity shape ([[durbinWatson]]'s): one (type, day) agg is
    * the only corpus exchange, the calendar-bounded series collects in
    * day order, the pair fold is in-row integer arithmetic, the z one
    * spelled chain.
    */
  def coxStuartTrend(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
    def elN(j: Column) = element_at(col("cs"), j.cast("int")).getField("n")
    // offset c = ceil(m/2); pairs (x_i, x_{i+c}) for i = 1..floor(m/2)
    // (Column `/` is double division — cast back to the integer index
    // domain explicitly, truncation = the intended floor on positives)
    val c = ((col("m") + 1) / 2).cast("int")
    val half = (col("m") / 2).cast("int")
    def fold(cond: (Column, Column) => Column) =
      when(col("m") > 1,
        aggregate(transform(sequence(lit(1), half), i =>
          when(cond(elN(i), elN(i + c)), 1L).otherwise(0L)),
          lit(0L), (a, x) => a + x))
        .otherwise(lit(0L))
    val pos = fold((lo, hi) => hi > lo)
    val neg = fold((lo, hi) => hi < lo)
    val withC = series
      .withColumn("_p", pos)
      .withColumn("_m2", pos + neg)
    val z = (lit(2.0) * col("_p").cast("double") -
      col("_m2").cast("double")) / sqrt(col("_m2").cast("double"))
    withC.select(col(typeCol), col("m").cast("long").as("n_days"),
      col("_m2").as("n_pairs"), col("_p").as("n_pos"),
      when(col("_m2") > 0, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  /** KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt &
    * Shin 1992) — the trend shelf's missing NULL-reversal: every other
    * member ([[mannKendallTrend]], [[coxStuartTrend]], the runs test)
    * takes stationarity as the null and hunts for trend; KPSS takes
    * STATIONARITY as the alternative — η small means the series really
    * is level, which is the claim a "this metric is stable" dashboard
    * actually makes. η = m⁻²ΣS_t²/s²(l) with the Bartlett-window
    * long-run variance at fixed lag l = 4 (documented constant — the
    * common small-sample default). One row per event type:
    * (event_type, n_days, eta_bp, reject_5pct) — reject from the
    * ROUNDED display against the published 0.463 critical value (the
    * band-from-rounded discipline); no p (the KPSS null distribution
    * has no closed form — the kruskalWallis precedent).
    *
    * Exactness: with centered values scaled by m (D_t = m·x_t − S, an
    * exact integer), the numerator ΣP_t² (P = partial sums of D) and
    * every autocovariance numerator G_j = ΣD_tD_{t+j} are exact
    * DECIMAL(38,0) integers, and multiplying the Bartlett weights
    * (l+1−j)/(l+1) through leaves η = (l+1)·ΣP² / (m·((l+1)·G₀ +
    * 2·Σ(l+1−j)·G_j)) — ONE division of exact integers. Engine-parity
    * shape: [[durbinWatson]]'s exactly.
    */
  def kpssTest(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts",
      lag: Int = 4): DataFrame = {
    require(lag >= 0, "the Bartlett window lag must be non-negative")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
      .withColumn("_s",
        aggregate(col("cs"), lit(0L), (a, e) => a + e.getField("n")))
    // D_t = m·x_t − S (integer); P_t = Σ_{i≤t} D_i; G_j = Σ D_t·D_{t+j}
    def dAt(j: Column): Column =
      (col("m").cast(dec) *
        element_at(col("cs"), j.cast("int")).getField("n").cast(dec) -
        col("_s").cast(dec)).cast(dec)
    def pAt(t: Column): Column =
      aggregate(transform(sequence(lit(1), t), i => dAt(i)),
        lit(0).cast(dec), (a, x) => (a + x).cast(dec))
    val sumP2 = aggregate(transform(sequence(lit(1), col("m")), t => pAt(t)),
      lit(0).cast(dec), (a, p) => (a + p * p).cast(dec))
    def gAt(j: Int): Column =
      when(col("m") > j,
        aggregate(transform(sequence(lit(1), col("m") - j), t =>
          (dAt(t) * dAt(t + j)).cast(dec)),
          lit(0).cast(dec), (a, x) => (a + x).cast(dec)))
        .otherwise(lit(0).cast(dec))
    val lw = lit(lag + 1).cast(dec)
    val denomCore = (1 to lag).map(j =>
      (lit(2).cast(dec) * lit(lag + 1 - j).cast(dec) * gAt(j)).cast(dec))
      .foldLeft((lw * gAt(0)).cast(dec))((a, x) => (a + x).cast(dec))
    val withK = series
      .withColumn("_num", (lw * sumP2).cast(dec))
      .withColumn("_den", (col("m").cast(dec) * denomCore).cast(dec))
    val eta = col("_num").cast("double") / col("_den").cast("double")
    val etaBp = floor(eta * 10000 + lit(0.5)).cast("long")
    val ok = col("m") > 1 && col("_den") > 0
    withK.select(col(typeCol), col("m").cast("long").as("n_days"),
      when(ok, etaBp).otherwise(lit(null).cast("long")).as("eta_bp"),
      when(ok, etaBp > 4630).otherwise(lit(null).cast("boolean"))
        .as("reject_5pct"))
  }

  /** Wald–Wolfowitz runs test (Wald & Wolfowitz 1940, the dichotomized
    * runs-about-the-median form per Bradley 1968 §12 — the classical
    * RANDOMNESS check the trend shelf lacks a yes/no for: too FEW runs
    * of above/below-median days means clustering/level-shift, too MANY
    * means alternation; [[mannKendallTrend]] only sees the monotone
    * case, [[ljungBox]] only the linear-correlation case). One row per
    * event type: (event_type, n_days, n_above, n_below, n_runs, z_bp).
    *
    * Median ties drop (the standard practice); the doubled-median
    * compare 2·x vs sv_⌈m/2⌉ + sv_⌊m/2⌋+1 keeps the banding exact on
    * integer counts. n_above/n_below/n_runs are exact integers; the
    * only floats are the normal approximation μ = 1 + 2ab/N,
    * σ² = 2ab(2ab−N)/(N²(N−1)), z = (R−μ)/σ (no continuity
    * correction), rendered as BIGINT basis points. Fewer than one day
    * on either side, or σ² = 0 (a = b = 1), reports NULL z.
    *
    * Engine-parity shape ([[cusumDailyCounts]]'s): one (type, day) agg
    * is the only corpus exchange, the calendar-bounded series collects
    * in day order, O(days) in-row arithmetic.
    */
  def runsTest(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
      .withColumn("_sv",
        sort_array(transform(col("cs"), e => e.getField("n"))))
      // doubled median: middle element twice (odd m) or the two middles
      // summed (even m) — integer-exact banding, no float median
      .withColumn("_m2",
        element_at(col("_sv"), ((col("m") + 1) / 2).cast("int")) +
          element_at(col("_sv"), ((col("m") + 2) / 2).cast("int")))
      .withColumn("_sg", filter(transform(col("cs"), e =>
        when(e.getField("n") * 2 > col("_m2"), 1L)
          .when(e.getField("n") * 2 < col("_m2"), -1L).otherwise(0L)),
        s => s =!= 0))
      .withColumn("_ln", size(col("_sg")))
      .withColumn("_n1", aggregate(col("_sg"), lit(0L),
        (a, s) => a + when(s > 0, 1L).otherwise(0L)))
      .withColumn("_n2", col("_ln").cast("long") - col("_n1"))
      // sequence(2, 1) would step DOWNWARD on a one-element sign list
      // (the bhAdjust lesson): the fold only builds when _ln > 1
      .withColumn("_r",
        when(col("_ln") > 1, lit(1L) +
          aggregate(sequence(lit(2), col("_ln")), lit(0L), (a, i) =>
            a + when(element_at(col("_sg"), i.cast("int")) =!=
              element_at(col("_sg"), (i - 1).cast("int")), 1L)
              .otherwise(0L)))
          .when(col("_ln") === 1, lit(1L)).otherwise(lit(0L)))
    val n1d = col("_n1").cast("double")
    val n2d = col("_n2").cast("double")
    val nd = (col("_n1") + col("_n2")).cast("double")
    val c = lit(2.0) * n1d * n2d
    val mu = lit(1.0) + c / nd
    val varS = c * (c - nd) / (nd * nd * (nd - 1))
    val z = (col("_r").cast("double") - mu) / sqrt(varS)
    val ok = col("_n1") > 0 && col("_n2") > 0 &&
      col("_n1") + col("_n2") > 1 &&
      lit(2L) * col("_n1") * col("_n2") > col("_n1") + col("_n2")
    series.select(col(typeCol), col("m").cast("long").as("n_days"),
      col("_n1").as("n_above"), col("_n2").as("n_below"),
      col("_r").as("n_runs"),
      when(ok, floor(z * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_bp"))
  }

  /** RFM segmentation (Hughes 1994 — the classical recency / frequency /
    * monetary customer scoring): per user, recency = last-event time,
    * frequency = event count, monetary = value total; each dimension is
    * banded into quintiles against EXACT corpus-wide percentile cuts and
    * the three 1–5 scores concatenate into the segment label ("555" =
    * recent, constant, big spender).
    *
    * Determinism discipline: monetary sums as DECIMAL(18,2) (association-
    * free — q08's dsum), the 12 cut points are exact distributed-rank
    * percentiles ([[GlobalRank.groupedPercentileTable]] over the
    * unpivoted (metric, value) per-user frame — bit-identical to the
    * `percentile` aggregate, no user-cardinality aggregation buffer, ONE
    * rank pass for all three dimensions) ROUNDED to 4 before banding
    * (q133's rounded-band precedent), and banding is a map-side chain of
    * `<=` comparisons. Two aggs (per-user, then the bounded grouped-rank
    * cut pass) + one broadcast join; the event table shuffles once on
    * user.
    */
  def rfmSegments(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        max(unix_micros(col(tsCol))).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("monetary"))
      .persist()
    // all 12 cut points in ONE grouped rank pass (r15 VERDICT item 4):
    // unpivot the persisted per-user frame to (metric, value) and rank
    // the three dimensions together in [[GlobalRank
    // .groupedPercentileTable]] (3 groups x shuffle-partitions cells —
    // deep inside its bounded-driver contract) instead of three
    // sequential percentileValues jobs. The interpolation chain is the
    // same Percentile.getPercentile arithmetic in both helpers, so the
    // cuts are bit-identical (RfmFoldSpec pins this); rounding stays
    // Spark-side exactly as before
    val probs = Seq(0.2, 0.4, 0.6, 0.8)
    val unpivoted = perUser.select(explode(array(
        struct(lit("r").as("_m"), col("recency_us").cast("double").as("_v")),
        struct(lit("f").as("_m"), col("frequency").cast("double").as("_v")),
        struct(lit("m").as("_m"), col("monetary").as("_v")))).as("_e"))
      .select(col("_e._m").as("_m"), col("_e._v").as("_v"))
    val cutRows: Map[String, Seq[Option[Double]]] =
      GlobalRank.groupedPercentileTable(unpivoted, "_m", "_v", probs,
          probs.indices.map(i => s"_c${i + 1}"))
        .collect()
        .map(r => r.getString(0) -> probs.indices.map(i =>
          if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))))
        .toMap
    def cutsArray(metric: String): Column = {
      val vs = cutRows.getOrElse(metric, probs.map(_ => Option.empty[Double]))
      array(vs.map(_.fold(lit(null).cast("double"))(lit(_))): _*)
    }
    val cuts = perUser.sparkSession.range(1)
      .select(cutsArray("r").as("_rc"),
        cutsArray("f").as("_fc"),
        cutsArray("m").as("_mc"))
      .select(
        transform(col("_rc"), c => round(c, 4)).as("_rc"),
        transform(col("_fc"), c => round(c, 4)).as("_fc"),
        transform(col("_mc"), c => round(c, 4)).as("_mc"))
    def band(v: Column, cutsCol: Column): Column =
      when(v <= element_at(cutsCol, 1), lit(1))
        .when(v <= element_at(cutsCol, 2), lit(2))
        .when(v <= element_at(cutsCol, 3), lit(3))
        .when(v <= element_at(cutsCol, 4), lit(4))
        .otherwise(lit(5))
    perUser
      .crossJoin(broadcast(cuts))
      .select(col(userCol), col("recency_us"), col("frequency"),
        round(col("monetary"), 2).as("monetary"),
        band(col("recency_us").cast("double"), col("_rc")).as("r_score"),
        band(col("frequency").cast("double"), col("_fc")).as("f_score"),
        band(col("monetary"), col("_mc")).as("m_score"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** Fused trend card — [[mannKendallTrend]] + [[coxStuartTrend]] +
    * [[kpssTest]] in ONE corpus pass (the kGroupCard/scaleCard fusion on
    * the time axis): the daily (type, day) count aggregate is the only
    * corpus-width work all three tests do, and run standalone each pays
    * it again. One row per event type: (event_type, n_days, mk_s, z,
    * sen_slope, n_pairs, n_pos, cs_z_bp, eta_bp, reject_5pct) — the
    * monotone-trend reading (MK's tie-corrected z + Sen's slope), the
    * maximal-robustness paired-halves sign reading, and the
    * null-REVERSED stationarity reading (KPSS: small η means "really is
    * level", the claim a stability dashboard makes) — every display
    * chain spelled exactly as its standalone operator (TrendCardSpec
    * pins row-for-row equality).
    *
    * Scale shape: one (type, day) hash aggregate with map-side partials
    * is the only exchange that sees events; each type's day-ordered
    * series is a bounded in-row array (days are a bounded dimension)
    * and all three statistics are in-row integer folds over it — the
    * card adds zero exchanges over any single standalone.
    */
  def trendCard(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts",
      lag: Int = 4): DataFrame = {
    require(lag >= 0, "the Bartlett window lag must be non-negative")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily
      .groupBy(col(typeCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .withColumn("m", size(col("cs")))
    def elN(j: Column) = element_at(col("cs"), j.cast("int")).getField("n")
    def elD(j: Column) = unix_date(
      element_at(col("cs"), j.cast("int")).getField("day"))
    // --- Mann–Kendall chains (mannKendallTrend verbatim) ---------------
    val mkS = aggregate(sequence(lit(2), col("m")), lit(0L), (acc, j) =>
      acc + aggregate(sequence(lit(1), j - 1), lit(0L), (a2, i) =>
        a2 + when(elN(j) > elN(i), 1L)
          .when(elN(j) < elN(i), -1L).otherwise(0L)))
    val mkTau = aggregate(sequence(lit(1), col("m")), lit(0L), (acc, j) => {
      val cj = aggregate(col("cs"), lit(0L), (a2, e) =>
        a2 + when(e.getField("n") === elN(j), 1L).otherwise(0L))
      acc + (cj - 1) * (lit(2L) * cj + 5)
    })
    val md = col("m").cast("double")
    val varS = (md * (md - 1) * (lit(2.0) * md + 5) -
      col("_mtau").cast("double")) / 18
    val sd = col("_ms").cast("double")
    val mkZ = when(col("_ms") > 0, (sd - 1) / sqrt(varS))
      .when(col("_ms") < 0, (sd + 1) / sqrt(varS))
      .otherwise(lit(0.0))
    val slopes = sort_array(flatten(transform(sequence(lit(2), col("m")),
      j => transform(sequence(lit(1), j - 1), i =>
        (elN(j) - elN(i)).cast("double") /
          (elD(j) - elD(i)).cast("double")))))
    val p = size(col("_msl"))
    val sen = when(p % 2 === 1,
      element_at(col("_msl"), ((p + 1) / 2).cast("int")))
      .otherwise((element_at(col("_msl"), (p / 2).cast("int")) +
        element_at(col("_msl"), (p / 2 + 1).cast("int"))) / 2)
    // --- Cox–Stuart chains (coxStuartTrend verbatim) --------------------
    val csC = ((col("m") + 1) / 2).cast("int")
    val csHalf = (col("m") / 2).cast("int")
    def csFold(cond: (Column, Column) => Column) =
      when(col("m") > 1,
        aggregate(transform(sequence(lit(1), csHalf), i =>
          when(cond(elN(i), elN(i + csC)), 1L).otherwise(0L)),
          lit(0L), (a, x) => a + x))
        .otherwise(lit(0L))
    val csPos = csFold((lo, hi) => hi > lo)
    val csNeg = csFold((lo, hi) => hi < lo)
    val csZ = (lit(2.0) * col("_cp").cast("double") -
      col("_cm2").cast("double")) / sqrt(col("_cm2").cast("double"))
    // --- KPSS chains (kpssTest verbatim, lag-parameterized) -------------
    val kSum = aggregate(col("cs"), lit(0L), (a, e) => a + e.getField("n"))
    def dAt(j: Column): Column =
      (col("m").cast(dec) *
        element_at(col("cs"), j.cast("int")).getField("n").cast(dec) -
        col("_ks").cast(dec)).cast(dec)
    def pAt(t: Column): Column =
      aggregate(transform(sequence(lit(1), t), i => dAt(i)),
        lit(0).cast(dec), (a, x) => (a + x).cast(dec))
    val sumP2 = aggregate(transform(sequence(lit(1), col("m")), t => pAt(t)),
      lit(0).cast(dec), (a, pp) => (a + pp * pp).cast(dec))
    def gAt(j: Int): Column =
      when(col("m") > j,
        aggregate(transform(sequence(lit(1), col("m") - j), t =>
          (dAt(t) * dAt(t + j)).cast(dec)),
          lit(0).cast(dec), (a, x) => (a + x).cast(dec)))
        .otherwise(lit(0).cast(dec))
    val lw = lit(lag + 1).cast(dec)
    val denomCore = (1 to lag).map(j =>
      (lit(2).cast(dec) * lit(lag + 1 - j).cast(dec) * gAt(j)).cast(dec))
      .foldLeft((lw * gAt(0)).cast(dec))((a, x) => (a + x).cast(dec))
    val eta = col("_knum").cast("double") / col("_kden").cast("double")
    val etaBp = floor(eta * 10000 + lit(0.5)).cast("long")
    val kOk = col("m") > 1 && col("_kden") > 0
    series
      .withColumn("_ms", when(col("m") > 1, mkS).otherwise(lit(0L)))
      .withColumn("_mtau", when(col("m") > 1, mkTau).otherwise(lit(0L)))
      .withColumn("_msl", when(col("m") > 1, slopes)
        .otherwise(array().cast("array<double>")))
      .withColumn("_cp", csPos)
      .withColumn("_cm2", csPos + csNeg)
      .withColumn("_ks", kSum)
      .withColumn("_knum", (lw * sumP2).cast(dec))
      .withColumn("_kden", (col("m").cast(dec) * denomCore).cast(dec))
      .select(col(typeCol), col("m").cast("long").as("n_days"),
        col("_ms").as("mk_s"),
        when(col("m") > 1 && varS > 0, r4(mkZ))
          .otherwise(lit(null).cast("double")).as("z"),
        when(col("m") > 1, r4(sen))
          .otherwise(lit(null).cast("double")).as("sen_slope"),
        col("_cm2").as("n_pairs"), col("_cp").as("n_pos"),
        when(col("_cm2") > 0, floor(csZ * 10000 + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("cs_z_bp"),
        when(kOk, etaBp).otherwise(lit(null).cast("long")).as("eta_bp"),
        when(kOk, etaBp > 4630).otherwise(lit(null).cast("boolean"))
          .as("reject_5pct"))
  }
}
