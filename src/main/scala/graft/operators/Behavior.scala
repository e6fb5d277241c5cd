package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / product-analytics operators over an event log — the
  * warehouse queries every event pipeline serves daily (cohort retention,
  * sequential conversion funnels). Both are pure relational algebra:
  * integer epoch-day arithmetic under the session's UTC clock, exact
  * counts, no UDFs — so the DuckDB oracle replays every row.
  *
  * Scale notes: both operators reduce the raw event log to per-user /
  * per-day frames as their FIRST move (distinct or min-aggregate with
  * map-side partials), so everything after the first shuffle is bounded
  * by |users|·|days|, not |events|. At 10^12 events the cost is the
  * unavoidable hash shuffles on user_id — the same shape any funnel
  * engine pays — and each is key-sized. */
object Behavior {

  /** UTC epoch-day bucketing — the ONE determinism-critical expression
    * shared by every day-granular operator ([[cohortRetention]],
    * [[funnel]], [[Learn.trendStats]]) and mirrored by the oracle idiom
    * `floor(epoch(ts) / 86400)`; keep all of them in lockstep. */
  private[operators] def epochDay(c: org.apache.spark.sql.Column) =
    floor(unix_timestamp(c) / 86400).cast("long")

  /** Cohort retention triangle: users bucketed by their FIRST active
    * epoch-day (the cohort), then counted on every later active day as
    * an offset from it — the classic retention matrix, here in long
    * form (cohort_day, day_offset, n_users). Three shuffles, all
    * key-sized: distinct (user, day), min-day per user, and the final
    * (cohort, offset) aggregate. */
  def cohortRetention(events: DataFrame, user: String, ts: String)
      : DataFrame = {
    val acts = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d")).distinct()
    val first = acts.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    acts.join(first, "u")
      .groupBy(col("cohort_day"),
        (col("d") - col("cohort_day")).as("day_offset"))
      // acts is distinct on (u, d) and d is determined by the group
      // keys, so u cannot repeat in a group: a plain count equals the
      // distinct count without the extra distinct-aggregate phase
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort LTV CURVE — [[cohortRetention]]'s revenue twin: users
    * bucket by first-active epoch-day, and for each (cohort_day,
    * day_offset) the curve reports that day's integer-cents revenue,
    * the CUMULATIVE revenue through the offset, and cumulative cents
    * PER COHORT USER (the "LTV by day N" read-out; integer division,
    * non-negative operands — revenue assumed non-negative). Offsets
    * with activity but no revenue still appear (zero cents); offsets
    * with no activity at all emit no row, exactly like the retention
    * triangle.
    *
    * Scale shape: min-day per user (key-sized), one join back to the
    * log, one (cohort, offset) aggregate — all key-sized shuffles;
    * the cumulative window runs per cohort over its ≤ calendar-span
    * offsets (the [[rateCusum]] bounded-window regime, cohort-
    * partitioned so no single-reducer stage). Exact 64-bit integers
    * throughout — the oracle replays every row. */
  def cohortLtv(events: DataFrame, user: String, ts: String,
      valueCol: String): DataFrame = {
    val base = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d"),
        round(col(valueCol) * 100, 0).cast("long").as("cents"))
    val first = base.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    val sizes = first.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val perOffset = base.join(first, "u")
      .groupBy(col("cohort_day"),
        (col("d") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("cents")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perOffset
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        col("cents"), col("cum_cents"),
        expr("cum_cents div n_users").as("ltv_cents_per_user"))
  }

  /** Gaps-and-islands activity streaks: per user, maximal runs of
    * CONSECUTIVE active days (the tabibitosan idiom — day − row_number
    * is constant exactly within a consecutive run, so one window + one
    * aggregate finds every island; no iterative logic, no self-join).
    * Returns per user: number of streaks, longest streak, total active
    * days. One shuffle on user, windows and aggregates all user-sized. */
  def activityStreaks(events: DataFrame, user: String, ts: String)
      : DataFrame = {
    val acts = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("d"))
    acts
      .withColumn("grp", col("d") - row_number().over(w))
      .groupBy(col("u"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest"),
        sum(col("len")).as("active_days"))
  }

  /** Rolling-window DISTINCT users (e.g. 7-day rolling DAU): distinct
    * counts are NOT additive, so a per-day count cannot be summed into
    * a window — the exact answer re-counts each window. MAP-ONLY window
    * expansion: each distinct (user, day) row explodes into the ≤
    * `window` end-days it can contribute to (`sequence(d, d+window−1)`
    * — generated per row, no join, no range predicate), then a semi
    * join to the OBSERVED days drops phantom end-days (preserving
    * "days with no activity produce no row") and one distinct-count per
    * end day finishes. Cost: a window-fold key-sized frame + one
    * equality hash semi-join (days is tiny → broadcast) + one agg —
    * every step O(|user-days|·window), independent of the calendar
    * span. (The previous form range-joined acts × broadcast days,
    * which Spark can only plan as a BroadcastNestedLoopJoin — compute
    * |user-days|·|days|, growing with the time span; VERDICT r7 #1.)
    * At register-sketch scale you'd swap HLL partials (mergeable,
    * [[rollingDistinctApprox]]) for the exact count; this operator is
    * the exact baseline that validates such sketches. */
  def rollingDistinct(events: DataFrame, user: String, ts: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window=$window")
    val acts = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d")).distinct()
    val days = acts.select(col("d").as("end_day")).distinct()
    acts
      .withColumn("end_day",
        explode(sequence(col("d"), col("d") + lit(window - 1))))
      .join(broadcast(days), Seq("end_day"), "left_semi")
      .groupBy(col("end_day"))
      .agg(countDistinct(col("u")).as("n_users"))
  }

  /** Mergeable-sketch rolling DAU — the 100 TB form of
    * [[rollingDistinct]]: the same map-only `explode(sequence)` window
    * expansion feeds `approx_count_distinct` (HLL++, relative standard
    * deviation `rsd`) instead of the exact re-count. HLL registers ARE
    * additive under max-merge, so the per-day partial states combine
    * map-side and the shuffle carries one sketch per (partition,
    * end-day) — at sketch scale the exact path's distinct (user, day,
    * end_day) shuffle rows collapse to registers. Returns
    * (end_day, n_approx). Same observed-days semi join, so the day set
    * matches the exact baseline row for row; the count error envelope
    * is the standard HLL++ guarantee (validated against
    * [[rollingDistinct]] in the q191 query and its spec). */
  def rollingDistinctApprox(events: DataFrame, user: String, ts: String,
      window: Int, rsd: Double = 0.05): DataFrame = {
    require(window >= 1, s"window=$window")
    val acts = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d")).distinct()
    val days = acts.select(col("d").as("end_day")).distinct()
    acts
      .withColumn("end_day",
        explode(sequence(col("d"), col("d") + lit(window - 1))))
      .join(broadcast(days), Seq("end_day"), "left_semi")
      .groupBy(col("end_day"))
      .agg(approx_count_distinct(col("u"), rsd).as("n_approx"))
  }

  /** DAU/MAU STICKINESS — the engagement-frequency ratio product
    * teams track daily: per observed day, the exact distinct actives
    * that day (DAU), the exact distinct actives over the trailing
    * `mauWindow` days (MAU — [[rollingDistinct]]'s map-only
    * explode(sequence) expansion over the SHARED distinct user-day
    * frame, computed once), and DAU·10⁶ div MAU. A stickiness of
    * 1 000 000 means every monthly user shows up daily. Exact
    * integers throughout; same observed-days semantics as
    * [[rollingDistinct]] (a day with no activity emits no row). At
    * sketch scale swap the two exact counts for the [[dauState]]
    * ladder — this is the exact baseline. */
  def stickiness(events: DataFrame, user: String, ts: String,
      mauWindow: Int = 28): DataFrame = {
    require(mauWindow >= 2, s"mauWindow=$mauWindow")
    val acts = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d")).distinct()
    val days = acts.select(col("d").as("end_day")).distinct()
    val dau = acts.groupBy(col("d").as("end_day"))
      .agg(count(lit(1)).as("dau")) // acts is distinct on (u, d)
    val mau = acts
      .withColumn("end_day",
        explode(sequence(col("d"), col("d") + lit(mauWindow - 1))))
      .join(broadcast(days), Seq("end_day"), "left_semi")
      .groupBy(col("end_day"))
      .agg(countDistinct(col("u")).as("mau"))
    dau.join(mau, "end_day")
      .select(col("end_day"), col("dau"), col("mau"),
        // DECIMAL(38,0) numerator: dau·10⁶ wraps 64-bit past ~9.2e12
        // daily actives
        expr("cast(cast(dau as decimal(38,0)) * 1000000 div mau " +
          "as bigint)").as("stickiness_ppm"))
  }

  /** Per-day HLL sketch STATE table — (d, sk): one DataSketches HLL
    * per epoch day, the PERSISTED mergeable form behind rolling
    * distinct counts. This is the true incremental-maintenance shape
    * ([[Learn.trendStats]]'s pattern on the distinct-count axis):
    * yesterday's state is days-sized; today's batch adds/updates one
    * day's sketch in O(batch); any window rollup
    * ([[rollingDistinctFromState]]) then reads |days| sketches, never
    * the event log. Sketches union map-side (`hll_sketch_agg` partials
    * merge in the shuffle), so the one required shuffle carries
    * registers, not users. `lgK` sets the register count (2^lgK) —
    * rsd ≈ 1.04/√2^lgK (DataSketches HLL, Heule et al. 2013
    * HyperLogLog++ lineage; exact in sparse mode at small
    * cardinalities). */
  def dauState(events: DataFrame, user: String, ts: String,
      lgK: Int = 12): DataFrame =
    events.select(col(user).as("u"), epochDay(col(ts)).as("d"))
      .groupBy(col("d"))
      .agg(hll_sketch_agg(col("u"), lgK).as("sk"))

  /** Merge two [[dauState]] tables (e.g. yesterday's persisted state +
    * today's batch state): sketch union per day — the mergeable-state
    * algebra made explicit, as [[Learn.trendStats]] states add.
    * Spec-pinned: estimates from merge(any split) == full rebuild. */
  def mergeDauState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("d"))
      .agg(hll_union_agg(col("sk")).as("sk"))

  /** Rolling-window distinct-user estimates FROM the state table: the
    * same map-only `explode(sequence)` window expansion as
    * [[rollingDistinct]], but over |days| sketch rows instead of
    * |user-days| rows — union ≤ `window` sketches per observed end day
    * and estimate. At 10^12 events this reads kilobytes of state; the
    * exact baseline re-reads the distinct user-day frame. Returns
    * (end_day, n_approx); days with no activity produce no row (same
    * observed-days semi join). */
  def rollingDistinctFromState(state: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window=$window")
    val days = state.select(col("d").as("end_day")).distinct()
    state
      .withColumn("end_day",
        explode(sequence(col("d"), col("d") + lit(window - 1))))
      .join(broadcast(days), Seq("end_day"), "left_semi")
      .groupBy(col("end_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_approx"))
  }

  /** A/B experiment readout: two-proportion z-test on user-level
    * conversion between variants 0 and 1 (`variant` must be a
    * deterministic 0/1 function of the user — the hash-split every
    * experiment framework uses). A user converts if they EVER emit
    * `convType`. One key-sized aggregate chain: (variant, user) →
    * per-variant (n, conversions) → a single readout row with integer
    * ppm rates and the z statistic (the only float step — computed
    * per-row from exact counts, rounded 4 dp, engine-identical).
    * `significant` flags |z| ≥ 1.96 (two-sided 5%). */
  def abTest(events: DataFrame, user: String, typeCol: String,
      convType: String, variant: org.apache.spark.sql.Column): DataFrame = {
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        (col(typeCol) === lit(convType)).cast("int").as("c"))
      .groupBy(col("v"), col("u")).agg(max(col("c")).as("conv"))
    abTestFromState(perUser)
  }

  /** MINIMUM DETECTABLE EFFECT for the two-proportion z-test
    * ([[abTest]]) — "was this experiment even big enough": at the
    * standard two-sided α = 0.05 / power 0.80, the detectable
    * absolute lift is
    *   MDE = (z_{α/2} + z_β) · √(p₀(1−p₀)·(1/n₀ + 1/n₁))
    * with z_{α/2} + z_β = 1.959964 + 0.841621 = 2.801585 as an
    * offline LITERAL (the SPRT micro-nat convention) and p₀ the
    * exact control conversion ppm. The √ chain is the ONE
    * fixed-order float (operands mirrored in the oracle), rounded
    * to integer ppm; `powered` then compares two integers — an
    * observed |lift| at or above the MDE. The honest companion of
    * [[abTest]]'s z: a non-significant result on an UNDERPOWERED
    * experiment is "we can't see effects this small", not "there is
    * no effect".
    *
    * Scale shape: the [[abTest]] (variant, user) aggregate into one
    * 4-number row; everything after is row-local. */
  def abTestMde(events: DataFrame, user: String, typeCol: String,
      convType: String,
      variant: org.apache.spark.sql.Column): DataFrame = {
    val one = events
      .select(variant.as("v"), col(user).as("u"),
        (col(typeCol) === lit(convType)).cast("int").as("c"))
      .groupBy(col("v"), col("u")).agg(max(col("c")).as("conv"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("conv"))
      .agg(
        // coalesce to 0 + nullif-guarded divisions so a degenerate
        // one-arm input reads an agreed (n, 0, NULL…) row in BOTH
        // engines instead of NULL counts here / a div-by-zero error
        // in the oracle (ADVICE r14)
        coalesce(sum(when(col("v") === 0, col("n"))), lit(0L)).as("n_a"),
        coalesce(sum(when(col("v") === 0, col("conv"))), lit(0L))
          .as("conv_a"),
        coalesce(sum(when(col("v") === 1, col("n"))), lit(0L)).as("n_b"),
        coalesce(sum(when(col("v") === 1, col("conv"))), lit(0L))
          .as("conv_b"))
    val p = col("p0_ppm").cast("double") / lit(1000000.0)
    one
      .withColumn("p0_ppm", expr("conv_a * 1000000 div nullif(n_a, 0)"))
      .withColumn("observed_diff_ppm",
        expr("conv_b * 1000000 div nullif(n_b, 0)" +
          " - conv_a * 1000000 div nullif(n_a, 0)"))
      .withColumn("mde_ppm",
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("p0_ppm") > 0 && col("p0_ppm") < 1000000L,
          round(lit(2.801585) * sqrt(p * (lit(1.0) - p) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) *
            lit(1000000.0), 0).cast("long")))
      .select(col("n_a"), col("n_b"), col("p0_ppm"),
        col("observed_diff_ppm"), col("mde_ppm"),
        coalesce((abs(col("observed_diff_ppm")) >= col("mde_ppm"))
          .cast("int"), lit(0)).as("powered"))
  }

  /** CUPED-ADJUSTED WELCH t (Deng, Xu, Kohavi & Walker, "Improving the
    * sensitivity of online controlled experiments by utilizing
    * pre-experiment data", WSDM 2013) — the industry-standard
    * variance-reduction readout: each user's post-period metric is
    * adjusted by their own PRE-period behavior, ŷ = y − θ·(x − x̄)
    * with θ = cov(x, y)/var(x) pooled across arms, and Welch's t runs
    * on the adjusted values — same treatment estimate, tighter
    * confidence, because the pre-period explains away stable
    * between-user variance. Kept ORACLE-EXACT by never materializing
    * a per-user float: mean and variance of ŷ per arm are algebra
    * over SIX exact DECIMAL(38,0) sums per arm (n, Σx, Σy, Σx²,
    * Σy², Σxy), so the whole readout is one conditional aggregate
    * plus a fixed-operand-order float chain at the very end (θ
    * rounded 6, means 4, t 4, df 2 — mirrored verbatim in the
    * oracle). θ = 0 when pooled var(x) = 0 (no pre-signal → plain
    * Welch; the zero test is on exact integers). NULL t/df when
    * either arm has < 2 users or the adjusted variance is zero.
    * Output: (n_a, n_b, theta, mean_adj_a, mean_adj_b, t, df); arm 0
    * is a, arm 1 is b (the [[welchT]] convention).
    *
    * Scale shape: one (variant, user) two-period aggregate (map-side
    * partials) into a users-sized frame, then ONE 6·2-sum conditional
    * aggregate — [[welchT]]'s shape with a second metric column. */
  def cupedWelchT(events: DataFrame, user: String, ts: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column, splitDay: Long): DataFrame =
    cupedWelchTFromState(
      cupedState(events, user, ts, value, variant, splitDay))

  /** The mergeable per-user state behind [[cupedWelchT]]: (v, u, x,
    * y) with x = pre-period cents (day < splitDay), y = post-period
    * cents — both sums, so batch states add, the [[experimentState]]
    * pattern with a second period column.
    * NULL-day rows (NULL ts) are dropped — a row with no day belongs
    * to no period. */
  def cupedState(events: DataFrame, user: String, ts: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column, splitDay: Long): DataFrame =
    events
      .select(variant.as("v"), col(user).as("u"),
        epochDay(col(ts)).as("d"), value.cast("long").as("cents"))
      .filter(col("u").isNotNull && col("d").isNotNull &&
        col("cents").isNotNull)
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(when(col("d") < splitDay, col("cents"))),
          lit(0L)).as("x"),
        coalesce(sum(when(col("d") >= splitDay, col("cents"))),
          lit(0L)).as("y"))

  /** [[cupedWelchT]]'s readout over an ALREADY-MAINTAINED (v, u, x,
    * y) state frame — identical plan tail (and so identical values)
    * to the full-log form. */
  def cupedWelchTFromState(perUser: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val g = perUser.select(col("v"), col("u"), col("x"), col("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"),
        sum(dec(col("x")) * col("y")).as("sxy"))
    def side(v: Int, c: String) =
      sum(when(col("v") === v, col(c))).as(s"${c}_${if (v == 0) "a" else "b"}")
    val one = g.agg(
      side(0, "n"), side(0, "sx"), side(0, "sy"), side(0, "sxx"),
      side(0, "syy"), side(0, "sxy"),
      side(1, "n"), side(1, "sx"), side(1, "sy"), side(1, "sxx"),
      side(1, "syy"), side(1, "sxy"))
    def d(name: String) = col(name).cast("double")
    // pooled sums are EXACT DECIMAL adds of the per-arm sums
    val np = col("n_a") + col("n_b")
    val sxp = col("sx_a") + col("sx_b")
    val syp = col("sy_a") + col("sy_b")
    val sxxp = col("sxx_a") + col("sxx_b")
    val sxyp = col("sxy_a") + col("sxy_b")
    // theta = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²), pooled; the zero test is
    // on the EXACT decimal denominator, the division is the first
    // float op — operand order mirrored verbatim in the oracle
    val thDen = np.cast("decimal(38,0)") * sxxp - sxp * sxp
    val theta = when(thDen === 0, lit(0.0)).otherwise(
      (np.cast("decimal(38,0)") * sxyp - sxp * syp).cast("double") /
        thDen.cast("double"))
    val xbar = sxp.cast("double") / np.cast("double")
    def meanAdj(s: String) =
      d(s"sy_$s") / d(s"n_$s") -
        theta * (d(s"sx_$s") / d(s"n_$s") - xbar)
    // per-arm adjusted sample variance from the exact sums:
    // v = (A − 2θB + θ²C) / (n(n−1)) with A = n·Σy² − Σy², B = n·Σxy
    // − Σx·Σy, C = n·Σx² − Σx² — A/B/C exact DECIMAL, cast once
    def abc(s: String) = (
      (col(s"n_$s").cast("decimal(38,0)") * col(s"syy_$s") -
        col(s"sy_$s") * col(s"sy_$s")).cast("double"),
      (col(s"n_$s").cast("decimal(38,0)") * col(s"sxy_$s") -
        col(s"sx_$s") * col(s"sy_$s")).cast("double"),
      (col(s"n_$s").cast("decimal(38,0)") * col(s"sxx_$s") -
        col(s"sx_$s") * col(s"sx_$s")).cast("double"))
    def varAdj(s: String) = {
      val (a, b, c) = abc(s)
      (a - lit(2.0) * theta * b + theta * theta * c) /
        (d(s"n_$s") * (d(s"n_$s") - lit(1.0)))
    }
    val sea = varAdj("a") / d("n_a")
    val seb = varAdj("b") / d("n_b")
    val se2 = sea + seb
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0
    val t = when(ok,
      round((meanAdj("a") - meanAdj("b")) / sqrt(se2), 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    val dfC = when(ok,
      round(se2 * se2 / (sea * sea / (d("n_a") - lit(1.0)) +
        seb * seb / (d("n_b") - lit(1.0))), 2) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    one.select(col("n_a").cast("long").as("n_a"),
      col("n_b").cast("long").as("n_b"),
      (round(theta, 6) + lit(0.0)).as("theta"),
      (round(meanAdj("a"), 4) + lit(0.0)).as("mean_adj_a"),
      (round(meanAdj("b"), 4) + lit(0.0)).as("mean_adj_b"),
      t.as("t"), dfC.as("df"))
  }

  /** POST-STRATIFIED TREATMENT EFFECT — the ATE estimator under
    * stratified reweighting (Neyman post-stratification; the
    * design-based cousin of [[cupedWelchT]]'s regression adjustment):
    * users are bucketed into `nTiers` strata by `tierOf` (a
    * PRE-TREATMENT covariate — here a function of the user's event
    * count), and the effect is the stratum-share-weighted sum of
    * per-stratum arm-mean differences,
    *
    *   ATE = Σ_t w_t · (ȳ_{b,t} − ȳ_{a,t}),   w_t = N_t / N
    *   SE² = Σ_t w_t² · (s²_{a,t}/n_{a,t} + s²_{b,t}/n_{b,t})
    *
    * over the TESTABLE strata only (n ≥ 2 in BOTH arms — a stratum
    * one arm never reaches has no estimable difference; N counts only
    * testable strata, so weights renormalize). Removes the
    * between-stratum component of the variance exactly as blocking
    * would have, on data that was not blocked.
    *
    * Determinism contract: per-(stratum, arm) sufficient statistics
    * (n, Σm, Σm²) are EXACT DECIMAL(38,0) sums from ONE conditional
    * aggregate (3·2·nTiers partials, map-side combined — no stratum
    * shuffle); the float tail folds the FIXED stratum order 0..n−1
    * (float + is not associative; an unordered SUM over stratum rows
    * would be engine-nondeterministic), operand order mirrored
    * verbatim in the oracle; ate/se/z round 4 dp. One row out:
    * (n_used, n_strata, ate, se, z, significant).
    *
    * Scale shape: one key-sized per-user aggregate, one conditional
    * aggregate to a single row, literal algebra — the [[abTest]]
    * family's cost at any corpus size. */
  def postStratifiedAte(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column,
      tierOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      nTiers: Int): DataFrame = {
    require(nTiers >= 2 && nTiers <= 16, s"nTiers=$nTiers")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val pu = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"))
      .filter(col("u").isNotNull && col("cents").isNotNull)
      .groupBy(col("v"), col("u"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("m"))
      .withColumn("t", tierOf(col("cnt")))
    val aggs = (0 until nTiers).flatMap { t =>
      Seq(0, 1).flatMap { a =>
        val in = col("t") === t && col("v") === a
        val s = s"${t}_${if (a == 0) "a" else "b"}"
        Seq(count(when(in, lit(1))).as(s"n_$s"),
          coalesce(sum(when(in, dec(col("m")))), lit(0).cast(
            "decimal(38,0)")).as(s"s1_$s"),
          coalesce(sum(when(in, dec(col("m")) * col("m"))), lit(0)
            .cast("decimal(38,0)")).as(s"s2_$s"))
      }
    }
    val one = pu.agg(aggs.head, aggs.tail: _*)
    def d(n: String) = col(n).cast("double")
    def testable(t: Int) =
      col(s"n_${t}_a") >= 2 && col(s"n_${t}_b") >= 2
    // exact integer totals over testable strata (weights renormalize)
    val nUsed = (0 until nTiers).map(t => when(testable(t),
      col(s"n_${t}_a") + col(s"n_${t}_b")).otherwise(lit(0L)))
      .reduce(_ + _)
    val nStrata = (0 until nTiers).map(t =>
      testable(t).cast("int")).reduce(_ + _)
    def w(t: Int) = (d(s"n_${t}_a") + d(s"n_${t}_b")) / nUsed.cast("double")
    def diff(t: Int) =
      d(s"s1_${t}_b") / d(s"n_${t}_b") - d(s"s1_${t}_a") / d(s"n_${t}_a")
    // variance of the stratum-arm mean from the exact sums:
    // (n·Σm² − (Σm)²) exact DECIMAL, then /(n(n−1))/n as floats
    def vm(t: Int, s: String) =
      (col(s"n_${t}_$s").cast("decimal(38,0)") * col(s"s2_${t}_$s") -
        col(s"s1_${t}_$s") * col(s"s1_${t}_$s")).cast("double") /
        (d(s"n_${t}_$s") * (d(s"n_${t}_$s") - lit(1.0))) / d(s"n_${t}_$s")
    // FIXED-ORDER folds: ((t0 + t1) + t2) + ... — mirrored in the oracle
    val ate = (0 until nTiers).map(t =>
      when(testable(t), w(t) * diff(t)).otherwise(lit(0.0))).reduce(_ + _)
    val se2 = (0 until nTiers).map(t =>
      when(testable(t), w(t) * w(t) * (vm(t, "a") + vm(t, "b")))
        .otherwise(lit(0.0))).reduce(_ + _)
    val any = nStrata >= 1
    val ok = any && se2 > 0.0
    val z = when(ok, round(ate / sqrt(se2), 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    one.select(nUsed.cast("long").as("n_used"),
      nStrata.cast("int").as("n_strata"),
      when(any, round(ate, 4) + lit(0.0)).otherwise(lit(null)
        .cast("double")).as("ate"),
      when(ok, round(sqrt(se2), 4) + lit(0.0)).otherwise(lit(null)
        .cast("double")).as("se"),
      z.as("z"),
      coalesce((abs(z) >= 1.96).cast("int"), lit(0)).as("significant"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the two-period panel estimator: per
    * user, the metric's post-minus-pre delta d_u (a user silent in a
    * period contributes 0 there, not a missing value — absence of
    * revenue IS the observation), then
    *
    *   DiD = mean(d | treated) − mean(d | control)
    *
    * with a Welch SE over the per-user deltas — differencing removes
    * each user's level (the user fixed effect), so time-invariant
    * user heterogeneity never biases the contrast; what remains is
    * the parallel-trends assumption, which is the analyst's to
    * defend. Sufficient statistics are EXACT: per arm n, Σd, Σd² in
    * DECIMAL(38,0) over integer cents (deltas are signed — the
    * squares are fine), the float tail (means, variance, z) folds in
    * fixed operand order and rounds 4 dp. One row: (n_a, n_b, dbar_a,
    * dbar_b, did, se, z, significant); se/z NULL under n < 2 in
    * either arm or zero variance.
    *
    * Scale shape: ONE (variant, user) conditional aggregate — the
    * only data-sized shuffle, map-side combined (a planted hot user
    * collapses before the shuffle) — then a 6-number fold. */
  def diffInDiff(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column,
      post: org.apache.spark.sql.Column): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val pu = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"), post.as("p"))
      .filter(col("u").isNotNull && col("cents").isNotNull &&
        col("p").isNotNull)
      .groupBy(col("v"), col("u"))
      .agg((coalesce(sum(when(col("p"), col("cents"))), lit(0L)) -
        coalesce(sum(when(!col("p"), col("cents"))), lit(0L))).as("d"))
    val one = pu.agg(
      count(when(col("v") === 0, lit(1))).as("n_a"),
      coalesce(sum(when(col("v") === 0, dec(col("d")))),
        lit(0).cast("decimal(38,0)")).as("s1_a"),
      coalesce(sum(when(col("v") === 0, dec(col("d")) * col("d"))),
        lit(0).cast("decimal(38,0)")).as("s2_a"),
      count(when(col("v") === 1, lit(1))).as("n_b"),
      coalesce(sum(when(col("v") === 1, dec(col("d")))),
        lit(0).cast("decimal(38,0)")).as("s1_b"),
      coalesce(sum(when(col("v") === 1, dec(col("d")) * col("d"))),
        lit(0).cast("decimal(38,0)")).as("s2_b"))
    def d(n: String) = col(n).cast("double")
    def mean(s: String) = d(s"s1_$s") / d(s"n_$s")
    // per-arm variance of the mean from the exact sums (q274's vm)
    def vm(s: String) =
      (col(s"n_$s").cast("decimal(38,0)") * col(s"s2_$s") -
        col(s"s1_$s") * col(s"s1_$s")).cast("double") /
        (d(s"n_$s") * (d(s"n_$s") - lit(1.0))) / d(s"n_$s")
    val any = col("n_a") >= 1 && col("n_b") >= 1
    val okN = col("n_a") >= 2 && col("n_b") >= 2
    val did = mean("b") - mean("a")
    val se2 = vm("a") + vm("b")
    val ok = okN && se2 > 0.0
    val z = when(ok, round(did / sqrt(se2), 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    one.select(col("n_a").cast("long").as("n_a"),
      col("n_b").cast("long").as("n_b"),
      when(col("n_a") >= 1, round(mean("a"), 4) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("dbar_a"),
      when(col("n_b") >= 1, round(mean("b"), 4) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("dbar_b"),
      when(any, round(did, 4) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("did"),
      when(ok, round(sqrt(se2), 4) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("se"),
      z.as("z"),
      coalesce((abs(z) >= 1.96).cast("int"), lit(0)).as("significant"))
  }

  /** [[abTest]]'s readout over an ALREADY-MAINTAINED per-user state
    * frame (v, u, conv ∈ {0,1}) — the conversion twin of
    * [[welchTFromState]]: per-user converted flags merge by max
    * across batches, so a stream keeps the state current and this
    * readout never rescans the log. Identical plan tail (and values)
    * to [[abTest]] on the full log. */
  def abTestFromState(perUser: DataFrame): DataFrame = {
    val g = perUser.select(col("v"), col("u"), col("conv"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("conv"))
    val one = g.agg(
      sum(when(col("v") === 0, col("n"))).as("n_a"),
      sum(when(col("v") === 0, col("conv"))).as("conv_a"),
      sum(when(col("v") === 1, col("n"))).as("n_b"),
      sum(when(col("v") === 1, col("conv"))).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val den = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    // pool 0 or 1 (nobody / everybody converts) has zero pooled
    // variance: z is undefined, reported NULL, never significant
    val z = when(den > 0.0, round((pa - pb) / den, 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    one.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr("conv_a * 1000000 div n_a").as("rate_a_ppm"),
      expr("conv_b * 1000000 div n_b").as("rate_b_ppm"),
      z.as("z"),
      coalesce((abs(z) >= 1.96).cast("int"), lit(0)).as("significant"))
  }

  /** EXPERIMENT STATE for one micro-batch — the mergeable per-user
    * sufficient statistics BOTH A/B readouts need, at the (variant,
    * user) grain: m = integer-cents metric sum (feeds
    * [[welchTFromState]]) and conv = converted flag (feeds
    * [[abTestFromState]]). The grain is the point: per-user sums ADD
    * and flags OR across batches ([[mergeExperimentState]]), so a
    * stream maintains exact experiment metrics without ever rescanning
    * the log — the [[Learn.trendStats]] incremental-maintenance
    * pattern on the experiment axis. O(batch) work per batch,
    * users-sized state. */
  def experimentState(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column, typeCol: String,
      convType: String,
      variant: org.apache.spark.sql.Column): DataFrame =
    events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"),
        (col(typeCol) === lit(convType)).cast("int").as("c"))
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("m"),
        max(col("c")).as("conv"))

  /** Exact merge of two [[experimentState]] frames — sums add, flags
    * max; split-batch merge == full rebuild (spec-pinned). */
  def mergeExperimentState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("v"), col("u"))
      .agg(sum(col("m")).as("m"), max(col("conv")).as("conv"))

  /** k-ARM experiment readout — [[abTest]] generalized past two
    * variants (VERDICT r8 #5): one row per arm with its exact user and
    * converter counts, integer-ppm conversion rate, and the
    * two-proportion z statistic of THIS ARM vs the `control` arm
    * (pairwise-vs-control, the standard multi-arm readout; apply your
    * own Bonferroni/Šidák correction to the 1.96 flag when arms are
    * many). Same determinism contract as [[abTest]]: all counts are
    * exact integers from one key-sized aggregate chain; z is the only
    * float step, computed per-row from those integers in a fixed op
    * order and rounded 4 dp — engine-identical. The control arm
    * reports NULL z (a test against itself is meaningless), never
    * significant; zero pooled variance (nobody / everybody in the
    * pair converts) likewise reports NULL z. An absent control arm
    * yields an EMPTY result (the 1-row control frame is empty — no
    * partial report that could be misread as significant).
    *
    * Scale shape: (variant, user) aggregate → per-arm counts (arms-
    * sized) × broadcast 1-row control — nothing after the first
    * key-sized shuffle exceeds |arms| rows. */
  def abTestK(events: DataFrame, user: String, typeCol: String,
      convType: String, variant: org.apache.spark.sql.Column,
      control: Long): DataFrame = {
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        (col(typeCol) === lit(convType)).cast("int").as("c"))
      .groupBy(col("v"), col("u")).agg(max(col("c")).as("conv"))
    val g = perUser.groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("conv"))
    val ctrl = g.filter(col("v") === control)
      .select(col("n").as("n_c"), col("conv").as("conv_c"))
    val p = col("conv").cast("double") / col("n")
    val pc = col("conv_c").cast("double") / col("n_c")
    val pool = (col("conv") + col("conv_c")).cast("double") /
      (col("n") + col("n_c"))
    val den = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n") + lit(1.0) / col("n_c")))
    val z = when(col("v") =!= control && den > 0.0,
      round((p - pc) / den, 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    g.crossJoin(broadcast(ctrl))
      .select(col("v"), col("n"), col("conv"),
        expr("conv * 1000000 div n").as("rate_ppm"),
        z.as("z"),
        coalesce((abs(z) >= 1.96).cast("int"), lit(0)).as("significant"))
  }

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per user, days since last activity (vs the
    * corpus max day — deterministic, no wall clock), event count, and
    * integer-cents total value, each scored 1–4 by its exact corpus
    * quartiles ([[Profiling.exactQuantiles]] boundaries — driver-state
    * refinement, no sort, no ntile) with 4 = best (LOW recency, HIGH
    * frequency/monetary). `segment` = r·100 + f·10 + m (444 = best).
    * Boundary semantics: score increments strictly ABOVE each
    * k=⌈q·n⌉-th smallest value, so heavy ties collapse scores
    * deterministically in both engines. One key-sized aggregate + ONE
    * shared ⌈log(range)⌉-round boundary probe for all nine
    * (metric, quartile) pairs ([[Profiling.exactQuantilesMulti]] — the
    * three per-metric loops of r8 refined in lockstep, VERDICT r8 #1)
    * + one literal when-chain pass. */
  def rfmSegments(events: DataFrame, user: String, ts: String,
      valueCol: String): DataFrame = {
    val base = events
      .select(col(user).as("u"), epochDay(col(ts)).as("d"),
        round(col(valueCol) * 100, 0).cast("long").as("cents"))
      .groupBy(col("u"))
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("f"),
        sum(col("cents")).as("m_cents"))
    // corpus max day as a broadcast 1-row aggregate, NOT a global
    // window (which would single-partition the users frame)
    val today = base.agg(max(col("last_d")).as("today"))
    val metrics = base.crossJoin(broadcast(today))
      .withColumn("r_days", col("today") - col("last_d"))
      .drop("today", "last_d")
      .persist()
    try {
      val qs = Seq(0.25, 0.5, 0.75)
      val bs = Profiling.exactQuantilesMulti(metrics,
          Seq("r_days", "f", "m_cents"), qs, fanout = 65536)
        .select(col("col_name"), col("q"), col("value")).collect()
      def bounds(c: String): Array[Long] = bs.filter(_.getString(0) == c)
        .sortBy(_.getDouble(1)).map(_.getLong(2))
      def scoreAsc(c: String, bs: Array[Long]) = // higher value = better
        bs.zipWithIndex.foldRight(lit(4)) { case ((b, i), acc) =>
          when(col(c) <= b, i + 1).otherwise(acc) }
      def scoreDesc(c: String, bs: Array[Long]) = // lower value = better
        bs.zipWithIndex.foldRight(lit(1)) { case ((b, i), acc) =>
          when(col(c) <= b, 4 - i).otherwise(acc) }
      // the persist amortizes the boundary probes (stats pass + 1-2
      // refinement rounds over `metrics`); the returned frame is LAZY,
      // so its final scoring pass re-derives `metrics` once after the
      // unpersist below — accepted: boundaries are driver-side literals
      // by then, and holding the cache for a caller that may never
      // evaluate would leak executor memory (ADVICE r8)
      metrics
        .withColumn("r_score", scoreDesc("r_days", bounds("r_days")))
        .withColumn("f_score", scoreAsc("f", bounds("f")))
        .withColumn("m_score", scoreAsc("m_cents", bounds("m_cents")))
        .withColumn("segment",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .select(col("u"), col("r_days"), col("f"), col("m_cents"),
          col("r_score"), col("f_score"), col("m_score"), col("segment"))
    } finally metrics.unpersist(false)
  }

  /** Engagement CONCENTRATION — the power-user curve: how much of all
    * activity the top p% of users generate (exact Lorenz points) plus
    * the Gini coefficient of per-user event counts. The "is our usage
    * a whale economy" readout every event warehouse serves, and a
    * skew PROFILE of the user key (pairs with
    * [[Profiling.keySkewProfile]], which names the heavy keys; this
    * quantifies the whole distribution's inequality).
    *
    * NTILE/sort-free: per-user counts (one key-sized aggregate)
    * collapse into the ACTIVITY-LEVEL histogram (x, n_users-at-x) —
    * levels-sized, bounded by distinct activity counts, tiny at any
    * corpus size — and both outputs are closed forms over that frame:
    *
    *   - top-p%: k = ⌈p·n/100⌉ heaviest users; ties at the boundary
    *     level all share the same x, so "which" tied users are taken
    *     cannot change the covered-event count — share is exact and
    *     deterministic: full levels above the boundary + (k − users
    *     above) · x_boundary.
    *   - Gini: users at level x occupy an ascending-rank block, so
    *     Σᵢ rank·xᵢ = Σ_levels x·(n_below·n_l + n_l(n_l+1)/2)
    *     (DECIMAL(38,0)-exact), and G = 2S/(nT) − (n+1)/n evaluates
    *     per-row from exact integers in a fixed op order, rounded 6 dp
    *     — engine-identical (the [[abTest]] z contract).
    *
    * The cumulative machinery runs over the LEVELS frame through ONE
    * [[Curation.withGlobalCumsums]] ascending pass (both descending
    * cums and the exclusive below-count are algebra over the inclusive
    * ascending sums + grand totals) — never over users, and never an
    * unpartitioned window: distinct activity levels are unbounded in
    * principle. Returns one row per requested percentage: (top_pct,
    * k_users, events_covered, share_ppm, gini) with gini constant
    * across rows. The cumsum pass pins its output (the totals
    * aggregate and the boundary join both re-read it — without the
    * pin each replays the corpus scan). */
  def engagementConcentration(events: DataFrame, user: String,
      topPcts: Seq[Int]): DataFrame = {
    require(topPcts.nonEmpty && topPcts.forall(p => p >= 1 && p <= 100),
      s"topPcts=$topPcts")
    require(topPcts.distinct == topPcts, s"duplicate pcts in $topPcts")
    val spark = events.sparkSession
    import spark.implicits._
    val levels = events.groupBy(col(user).as("u"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("nl"))
    // one ASC two-level cumsum pass carries both descending cums and
    // the exclusive below-count (distinct activity levels are
    // unbounded in principle — no unpartitioned window):
    // users at level ≥ x = tot − inclusive-asc + own, below = asc − own
    val lv = Curation.withGlobalCumsums(levels, Seq(col("x")),
      Seq("u" -> col("nl"), "e" -> (col("nl") * col("x"))))
      .withColumn("cum_users", col("tot_u") - col("cum_u") + col("nl"))
      .withColumn("cum_events",
        col("tot_e") - col("cum_e") + col("nl") * col("x"))
      .withColumn("below", col("cum_u") - col("nl"))
    // S = Σ_levels x·(n_below·n_l + n_l(n_l+1)/2) as DECIMAL(38,0);
    // the inner 64-bit products hold to ~3·10⁹ users (n_below·n_l ≤ n²
    // < 2⁶³) — beyond that, cast `below`/`nl` to decimal too
    val totals = lv.agg(
      sum(col("nl")).as("n"),
      sum(col("nl") * col("x")).as("t"),
      sum(col("x").cast("decimal(38,0)") *
        (col("below") * col("nl") + expr("(nl * (nl + 1)) div 2")))
        .as("s"))
    val pcts = topPcts.toDF("top_pct")
    val gini = round(
      (col("s").cast("double") * 2.0) /
        (col("n").cast("double") * col("t")) -
        (col("n").cast("double") + 1.0) / col("n"), 6) + lit(0.0)
    // ceil on POSITIVE ints only: (a + 99) div 100 — truncating (Spark)
    // and flooring (DuckDB) integer division agree on non-negatives,
    // so the oracle replays the same k
    broadcast(pcts).crossJoin(broadcast(totals))
      .withColumn("k_users", expr("(top_pct * n + 99) div 100"))
      .join(lv,
        col("cum_users") >= col("k_users") &&
          (col("cum_users") - col("nl")) < col("k_users"))
      .select(col("top_pct"), col("k_users"),
        (col("cum_events") -
          (col("cum_users") - col("k_users")) * col("x"))
          .as("events_covered"),
        // ppm numerator as DECIMAL(38,0): events_covered·10⁶ wraps
        // 64-bit past ~9.2e12 events (the joinStrategyPick pattern);
        // div brings the share back into BIGINT range
        expr("cast(cast(cum_events - (cum_users - k_users) * x " +
          "as decimal(38,0)) * 1000000 div t as bigint)")
          .as("share_ppm"),
        gini.as("gini"))
  }

  /** Event TRANSITION MATRIX — first-order Markov counts over each
    * user's event sequence: for every (from_type, to_type) pair of
    * CONSECUTIVE events (by the (ts, tie) total order within a user),
    * the exact transition count and its integer-ppm share of all
    * transitions leaving from_type. The "what do users do next"
    * staple behind Sankey/journey views, and the sanity check on
    * funnel step ordering (a funnel step pair with near-zero
    * transition mass is mis-ordered). A user's first event has no
    * predecessor and contributes no row. One key-sized window shuffle
    * on the user, then a |types|²-bounded aggregate — nothing
    * downstream of the first shuffle scales with events. Exact
    * integers; both divisions see non-negative operands. The tiny
    * pairs frame is pinned with an eager localCheckpoint (the
    * from-totals aggregate and the final join both re-read it —
    * without the pin each replays the corpus window pass; the
    * q214/q215 contract). */
  def eventTransitions(events: DataFrame, user: String, ts: String,
      tie: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("t"), col("tk"))
    val pairs = Pin(events
      .select(col(user).as("u"), col(ts).as("t"), col(tie).as("tk"),
        col(typeCol).as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n")))
    val fromTotals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(fromTotals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        // DECIMAL(38,0) numerator: n·10⁶ wraps 64-bit past ~9.2e12
        // transitions on one (from, to) pair
        expr("cast(cast(n as decimal(38,0)) * 1000000 div n_from " +
          "as bigint)").as("p_ppm"))
  }

  /** INTER-EVENT GAP percentiles — the exact distribution of seconds
    * between a user's consecutive events (by (ts, tie)): the
    * principled way to pick [[Sessionize]]'s gap threshold (set it at
    * the knee between the intra-session p50/p90 mass and the
    * inter-session tail) instead of folklore constants. Gaps are
    * exact integer seconds (µs difference, floored); the percentiles
    * are exact k = ⌈q·n⌉-th smallest via the shared histogram
    * refinement ([[Profiling.exactQuantilesMulti]] under
    * [[Profiling.exactQuantiles]]) — one key-sized window shuffle to
    * form gaps, then log-bounded filtered aggregates, never a global
    * sort. Returns (q, n, k, value_sec). */
  def interEventGapQuantiles(events: DataFrame, user: String,
      ts: String, tie: String, qs: Seq[Double]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("t"), col("tk"))
    val gaps = events
      .select(col(user).as("u"), col(ts).as("t"), col(tie).as("tk"))
      .withColumn("prev_t", lag(col("t"), 1).over(w))
      .filter(col("prev_t").isNotNull)
      .select(expr("(unix_micros(t) - unix_micros(prev_t)) div 1000000")
        .as("gap_sec"))
    Profiling.exactQuantiles(gaps, col("gap_sec"), qs, fanout = 65536)
      .select(col("q"), col("n"), col("k"), col("value").as("value_sec"))
  }

  /** Daily-rate CUSUM changepoint monitor (Page 1954): per epoch day,
    * the flagged-event rate in integer ppm; the CUSUM statistic
    * S_d = max(0, S_{d−1} + (rate_d − baseline − slack)) accumulates
    * sustained upward drift and resets on quiet days — the sequential
    * detector behind "error rate crept up on the 14th" alerts, where a
    * per-day z-score (q114) only sees single-day spikes. The recurrence
    * is computed CLOSED-FORM as S_d = P_d − min(0, min_{j≤d} P_j)
    * (P = prefix sum of the drift terms), so it is two window passes,
    * not an iterative loop. All-integer arithmetic (ppm rates, integer
    * baseline, 64-bit sums) — every row oracle-replays.
    *
    * Scale note: the windows run over the per-DAY aggregate — a frame
    * bounded by the calendar span (10 years ≈ 3.7k rows), not by event
    * volume — after the one key-sized day aggregate of the log; the
    * deliberate unpartitioned window is the broadcast-state regime
    * (days-sized), not a corpus-sized single-partition stage. */
  def rateCusum(events: DataFrame, ts: String,
      flag: org.apache.spark.sql.Column, slackPpm: Long,
      thresholdPpm: Long): DataFrame = {
    require(slackPpm >= 0 && thresholdPpm >= 1,
      s"slackPpm=$slackPpm thresholdPpm=$thresholdPpm")
    val daily = events
      .select(epochDay(col(ts)).as("d"), flag.cast("int").as("f"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_events"), sum(col("f")).as("n_flagged"))
    val base = daily.agg(
      expr("sum(n_flagged) * 1000000 div sum(n_events)").as("baseline_ppm"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily.crossJoin(broadcast(base))
      .withColumn("rate_ppm", expr("n_flagged * 1000000 div n_events"))
      .withColumn("x",
        col("rate_ppm") - col("baseline_ppm") - lit(slackPpm))
      .withColumn("p", sum(col("x")).over(w))
      .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(w)))
      .select(col("d"), col("n_events"), col("n_flagged"), col("rate_ppm"),
        col("baseline_ppm"), col("cusum"),
        (col("cusum") >= thresholdPpm).cast("int").as("alarm"))
  }

  /** Strictly-ordered conversion funnel: per user, t₁ = first `steps(0)`
    * event, tᵢ₊₁ = first `steps(i+1)` event STRICTLY AFTER tᵢ (the
    * first-matching-subsequence semantics of product funnels). Returns
    * per cohort day of t₁: users reaching each stage + ppm conversion
    * to the last stage (integer µ-share — engine-exact). A user who
    * never reaches stage i has tᵢ NULL, and the `et > NULL` filter
    * makes every later stage unreachable — no special-casing.
    *
    * One min-aggregate per stage over the (pre-filtered) step events
    * joined to the survivors so far — |steps| key-sized shuffles; the
    * event log is scanned once per stage but filtered to that stage's
    * type before the join (predicate reaches the scan). */
  def funnel(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String]): DataFrame =
    funnelImpl(events, user, ts, typeCol, steps, None)

  /** [[funnel]] with a CONVERSION WINDOW: step i+1 must occur strictly
    * after step i AND within `windowSec` seconds of it — the "convert
    * within an hour/day" product-funnel variant. A too-late event does
    * not complete the stage and (because tᵢ₊₁ = the first QUALIFYING
    * event, which may then be NULL) blocks all later stages for that
    * user, matching the standard windowed-funnel semantics. Same plan
    * shape and determinism contract as [[funnel]] — the interval
    * comparison is exact timestamp arithmetic in both engines. */
  def funnelWindowed(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String], windowSec: Long): DataFrame = {
    require(windowSec >= 1, s"windowSec=$windowSec")
    funnelImpl(events, user, ts, typeCol, steps, Some(windowSec))
  }

  private def funnelImpl(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String],
      windowSec: Option[Long]): DataFrame = {
    val cur = stageTimes(events, user, ts, typeCol, steps, windowSec)
    val stageCounts = (1 to steps.size).map(j =>
      count(col(s"t$j")).as(s"n_step$j"))
    cur.groupBy(epochDay(col("t1")).as("cohort_day"))
      .agg(stageCounts.head, stageCounts.tail: _*)
      .withColumn("conv_ppm",
        expr(s"n_step${steps.size} * 1000000 div n_step1"))
  }

  /** A/B-SPLIT FUNNEL — the strictly-ordered funnel computed PER
    * EXPERIMENT ARM with a per-step two-proportion z against the
    * `control` arm: "did the variant move step-3 conversion" is a
    * different (and usually the actual) question from q210's overall
    * conversion. Step reach comes from [[stageTimes]]
    * (first-matching-subsequence, same contract as [[funnel]]); the
    * per-step rate is step-i reachers over the SAME arm's step-1
    * reachers in exact integer ppm; z per (non-control arm, step ≥ 2)
    * uses [[abTest]]'s pooled-proportion recipe — one fixed-operand-
    * order float expression rounded 4 dp, NULL on the control arm,
    * step 1, or zero pooled variance. Output: (arm, step, n_reached,
    * rate_ppm, z, significant).
    *
    * Scale shape: stageTimes' key-sized join chain, one arms-sized
    * aggregate, an arms×steps unpivot, and a broadcast of the
    * steps-sized control rows. */
  def funnelByArm(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String],
      armOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      control: Long): DataFrame = {
    val nSteps = steps.size
    val times = stageTimes(events, user, ts, typeCol, steps, None)
    val perArm = times.groupBy(armOf(col("u")).as("arm"))
      .agg(count(lit(1)).as("n1"),
        (2 to nSteps).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    val stepStructs = (1 to nSteps).map(i =>
      struct(lit(i).as("step"),
        (if (i == 1) col("n1") else col(s"n$i")).as("nr")))
    val long = perArm.select(col("arm"), col("n1"),
        explode(array(stepStructs: _*)).as("s"))
      .select(col("arm"), col("n1"), col("s.step").as("step"),
        col("s.nr").as("n_reached"))
    val ctrl = long.filter(col("arm") === control)
      .select(col("step"), col("n1").as("cn1"),
        col("n_reached").as("cnr"))
    // LEFT join: with no control-arm step-1 reachers the ctrl frame is
    // empty, and an inner join would silently return zero rows — each
    // arm's rates must still report, just with NULL z (the when() below
    // evaluates NULL on the missing cnr/cn1 and falls to otherwise)
    val j = long.join(broadcast(ctrl), Seq("step"), "left")
    val pArm = col("n_reached").cast("double") / col("n1")
    val pCtl = col("cnr").cast("double") / col("cn1")
    val pool = (col("n_reached") + col("cnr")).cast("double") /
      (col("n1") + col("cn1"))
    val den = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n1") + lit(1.0) / col("cn1")))
    val z = when(col("arm") =!= control && col("step") >= 2 &&
        den > 0.0, round((pArm - pCtl) / den, 4) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    j.select(col("arm"), col("step"), col("n_reached"),
      expr("cast(cast(n_reached as decimal(38,0)) * 1000000 div n1" +
        " as bigint)").as("rate_ppm"),
      z.as("z"),
      coalesce((abs(z) >= 1.96).cast("int"), lit(0)).as("significant"))
  }

  /** Per-user first-reach times (u, t1..tn) — the shared core of
    * [[funnel]] / [[funnelWindowed]] / [[funnelTiming]]. */
  private[graft] def stageTimes(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String],
      windowSec: Option[Long]): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(user).as("u")).agg(min(col(ts)).as("t1"))
    var i = 1
    steps.drop(1).foreach { st =>
      val prev = s"t$i"; i += 1
      val inWindow = windowSec match {
        case Some(w) =>
          col("et") <= col(prev) + expr(s"INTERVAL $w SECONDS")
        case None => lit(true)
      }
      val reached = events.filter(col(typeCol) === st)
        .select(col(user).as("u"), col(ts).as("et"))
        .join(cur.select(col("u"), col(prev)), "u")
        .filter(col("et") > col(prev) && inWindow)
        .groupBy(col("u")).agg(min(col("et")).as(s"t$i"))
      cur = cur.join(reached, Seq("u"), "left")
    }
    cur
  }

  /** Funnel TRANSITION TIMING: for each step i → i+1, how long
    * converters took — n, min/max, integer-average and EXACT median
    * seconds. The "where does the funnel stall" diagnostic that turns
    * q183's counts into action. Durations are exact integer seconds
    * (µs difference, floored division). The median is the k-th smallest
    * (k = ⌈n/2⌉) found by [[Profiling.exactQuantilesMulti]]' histogram
    * refinement, ALL transitions narrowing in the same per-round pass —
    * a per-transition users-sized window would be the single-partition
    * trap at 10⁹ converters; the shared refinement pays ⌈log(span)⌉
    * filtered aggregates total instead. One row per
    * transition; a transition nobody completed reports n = 0 with NULL
    * timing columns.
    *
    * Skew contract (ADVICE r12): the single-pass stage fold collects a
    * user's step events into one in-memory array, so a user with more
    * than `maxEventsPerUser` STEP events fails fast (raise_error)
    * rather than silently OOMing an executor — on logs with hot/bot
    * users, raise the cap or pre-filter the bot ids. The cap bounds
    * per-user state, not total data. */
  def funnelTiming(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String],
      maxEventsPerUser: Int = 1000000): DataFrame = {
    // the per-user stage times feed ONE stats aggregate plus the shared
    // median refinement's ⌈log(span)⌉ rounds — persist the users-sized
    // frame once instead of re-running the stage fold per round
    // (released before returning; the returned rows are literals).
    // Single-pass source (VERDICT r11 #3): the timing query reads every
    // stage's time anyway, so the one-shuffle fold strictly dominates
    // the per-stage join chain.
    val times = stageTimesSinglePass(events, user, ts, typeCol, steps,
        maxEventsPerUser)
      .persist()
    val spark = events.sparkSession
    import spark.implicits._
    try funnelTimingParts(times, steps)
    finally times.unpersist(false)
  }

  /** One conditional aggregate for ALL transitions' n/min/max/avg (a
    * single job over the times frame — not one `collect()(0)` per step,
    * VERDICT r8 #6), then ONE shared median refinement over the
    * completed transitions' duration columns
    * ([[Profiling.exactQuantilesMulti]] — every step's median narrows
    * in the same per-round pass instead of a loop per step). A
    * transition nobody completed is excluded from the refinement (its
    * all-NULL column would have no rank) and reports NULL timing. */
  private def funnelTimingParts(times: DataFrame, steps: Seq[String])
      : DataFrame = {
    val spark = times.sparkSession
    import spark.implicits._
    val nTrans = steps.size - 1
    val durs = transitionDurations(times, nTrans)
    val st = transitionStatsAgg(durs, nTrans).collect()(0)
    def n(i: Int) = st.getAs[Long](s"n_$i")
    val nonEmpty = (1 to nTrans).filter(n(_) > 0L)
    // wide fanout: second spans are ≤ ~10^9 even for decade logs, so
    // 65536 buckets finds every median in ≤ 2 shared rounds (driver
    // state ≤ 64k longs per distinct probe — broadcast-state regime)
    val medians: Map[Int, Long] =
      if (nonEmpty.isEmpty) Map.empty
      else Profiling.exactQuantilesMulti(durs,
          nonEmpty.map(i => s"sec_$i"), Seq(0.5), fanout = 65536,
          // the stats aggregate above already holds each column's exact
          // non-null count and min/max — seeding skips the refinement's
          // own stats pass over the users-sized frame (q228 pattern)
          seeds = Some(nonEmpty.map(i => (n(i),
            st.getAs[Long](s"min_$i"), st.getAs[Long](s"max_$i")))))
        .select(col("col_name"), col("value")).collect()
        .map(r => r.getString(0).stripPrefix("sec_").toInt -> r.getLong(1))
        .toMap
    (1 to nTrans).map { i =>
      val label = s"${steps(i - 1)}->${steps(i)}"
      if (n(i) == 0L)
        (i, label, 0L, Option.empty[Long], Option.empty[Long],
          Option.empty[Long], Option.empty[Long])
      else
        (i, label, n(i), Some(st.getAs[Long](s"min_$i")),
          Some(st.getAs[Long](s"max_$i")), Some(st.getAs[Long](s"avg_$i")),
          Some(medians(i)))
    }.toDF("step", "transition", "n_users", "min_sec", "max_sec",
      "avg_sec", "median_sec")
  }

  /** Per-user transition durations in exact integer seconds (sec_i is
    * non-NULL iff the user completed step i → i+1) — q205's projection
    * of the stage-times frame. */
  private def transitionDurations(times: DataFrame,
      nTrans: Int): DataFrame =
    times.select((1 to nTrans).map { i =>
      expr(s"(unix_micros(t${i + 1}) - unix_micros(t$i)) div 1000000")
        .as(s"sec_$i") }: _*)

  /** The ONE conditional aggregate computing every transition's
    * n/min/max/avg in a single job — q205's non-median final pass. */
  private def transitionStatsAgg(durs: DataFrame,
      nTrans: Int): DataFrame = {
    val statAggs = (1 to nTrans).flatMap { i => Seq(
      count(col(s"sec_$i")).as(s"n_$i"),
      min(col(s"sec_$i")).as(s"min_$i"),
      max(col(s"sec_$i")).as(s"max_$i"),
      expr(s"sum(sec_$i) div count(sec_$i)").as(s"avg_$i")) }
    durs.agg(statAggs.head, statAggs.tail: _*)
  }

  /** LAST-TOUCH ATTRIBUTION: each conversion event credits the most
    * recent qualifying touch event (by (ts, tie) order) within a
    * `lookbackSec` window — the marketing-attribution query every event
    * warehouse serves. One key-sized shuffle: touches and conversions
    * interleave in a single per-user (ts, tie) window and the latest
    * touch carries forward via `last(..., ignoreNulls)` over ROWS
    * UNBOUNDED PRECEDING — no per-conversion as-of join fan-out, no
    * range join. Conversions with no touch in the lookback are dropped
    * (unattributed). Returns per channel: conversions, distinct
    * converted users, attributed value in integer cents. A touch at
    * the exact conversion timestamp with a SMALLER tie attributes (the
    * row order is the semantics — documented, deterministic). */
  def lastTouchAttribution(events: DataFrame, user: String, ts: String,
      typeCol: String, tie: String, touchTypes: Seq[String],
      convType: String, channel: org.apache.spark.sql.Column,
      valueCol: String, lookbackSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touchTypes=$touchTypes convType=$convType")
    require(lookbackSec >= 1, s"lookbackSec=$lookbackSec")
    val isTouch = col(typeCol).isin(touchTypes: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("t"), col("tk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events.filter(col(typeCol).isin((touchTypes :+ convType): _*))
      .select(col(user).as("u"), col(ts).as("t"), col(tie).as("tk"),
        col(typeCol).as("et"), when(isTouch, channel).as("ch"),
        col(valueCol).as("value"))
      .withColumn("touch_t",
        last(when(col("ch").isNotNull, col("t")), ignoreNulls = true).over(w))
      .withColumn("touch_ch", last(col("ch"), ignoreNulls = true).over(w))
      .filter(col("et") === convType && col("touch_t").isNotNull &&
        col("touch_t") >= col("t") - expr(s"INTERVAL $lookbackSec SECONDS"))
      .groupBy(col("touch_ch").as("channel"))
      .agg(count(lit(1)).as("n_conv"),
        countDistinct(col("u")).as("n_users"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
  }

  /** Single-pass [[funnel]]: ONE scan of the event log instead of one
    * per stage. The step events (pre-filtered to the |steps| types, the
    * predicate reaching the scan) group per user into a sorted
    * (ts, stage) array, and a row-local `aggregate` fold replays the
    * first-matching-subsequence semantics — t₁ = first stage-0 event,
    * tᵢ₊₁ = first stage-(i+1) event STRICTLY AFTER tᵢ — exactly as the
    * join form's per-stage min-aggregates do (spec-pinned equal).
    * Timestamps fold as exact µs longs; cohort day = µs div 86400·10⁶,
    * identical to [[epochDay]] for post-1970 data.
    *
    * Cost: ONE key-sized shuffle total (vs |steps| in [[funnel]]), but
    * the per-user state is the user's FULL step-event list — fine when
    * per-user event counts are bounded (the product-analytics norm),
    * pathological for a million-event bot user. `maxEventsPerUser` is
    * the contract: any user exceeding it fails fast (raise_error)
    * instead of silently building a giant row. Prefer this form for
    * long funnels over well-behaved logs; prefer [[funnel]] when a few
    * keys may be unboundedly hot — the join form's min-aggregates keep
    * constant per-key state at any skew. */
  /** Shared per-user first-reach fold of [[funnelSinglePass]] /
    * [[stageTimesSinglePass]]: (u, ta) for every step-1 reacher, where
    * ta is the |steps|-slot array of first-reach times in exact µs
    * (NULL = stage not reached). ONE key-sized shuffle; the
    * `maxEventsPerUser` fail-fast bounds per-user state. */
  private def firstReachMicros(events: DataFrame, user: String,
      ts: String, typeCol: String, steps: Seq[String],
      maxEventsPerUser: Int, op: String): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    require(maxEventsPerUser >= 1, s"maxEventsPerUser=$maxEventsPerUser")
    val n = steps.size
    val stageIdx = steps.zipWithIndex.tail.foldLeft(
      when(col(typeCol) === steps.head, 0)) { case (acc, (st, i)) =>
        acc.when(col(typeCol) === st, i) }
    val grouped = events.filter(col(typeCol).isin(steps: _*))
      .select(col(user).as("u"),
        struct(unix_micros(col(ts)).as("t"), stageIdx.as("s")).as("e"))
      .groupBy(col("u"))
      .agg(array_sort(collect_list(col("e"))).as("es"),
        count(lit(1)).as("n_ev"))
      .withColumn("es",
        when(col("n_ev") > maxEventsPerUser,
          raise_error(concat(lit(s"$op: a user has "),
            col("n_ev").cast("string"),
            lit(s" step events > maxEventsPerUser=$maxEventsPerUser"))))
          .otherwise(col("es")))
    // fold state: n-slot array of first-reach times (µs), NULL = not
    // reached; element_at is 1-based, so slot for 0-based stage s is
    // element_at(acc, s + 1) and the previous stage's is element_at(acc, s)
    grouped.withColumn("ta",
      aggregate(col("es"),
        array_repeat(lit(null).cast("long"), n),
        (acc, e) => transform(acc, (x, i) =>
          when(i === e.getField("s") && x.isNull &&
              (e.getField("s") === 0 ||
                (element_at(acc, e.getField("s")).isNotNull &&
                  e.getField("t") > element_at(acc, e.getField("s")))),
            e.getField("t")).otherwise(x))))
      .filter(element_at(col("ta"), 1).isNotNull)
  }

  /** [[stageTimes]] computed the [[funnelSinglePass]] way: per-user
    * first-reach TIMESTAMPS (u, t1..tn; tᵢ NULL = stage i not reached)
    * from ONE key-sized shuffle instead of one join+aggregate per
    * stage — value-identical to [[stageTimes]] with no window
    * (spec-pinned; exact µs survive the timestamp_micros round-trip).
    * [[funnelTiming]]'s stage-times source (VERDICT r11 #3): the
    * timing query reads every stage's times anyway, so the fold's
    * single shuffle strictly dominates the join chain's |steps|
    * shuffles; same `maxEventsPerUser` skew contract as
    * [[funnelSinglePass]]. */
  private[graft] def stageTimesSinglePass(events: DataFrame, user: String,
      ts: String, typeCol: String, steps: Seq[String],
      maxEventsPerUser: Int = 1000000): DataFrame = {
    val folded = firstReachMicros(events, user, ts, typeCol, steps,
      maxEventsPerUser, "stageTimesSinglePass")
    folded.select(col("u") +: steps.indices.map(i =>
      expr(s"timestamp_micros(element_at(ta, ${i + 1}))")
        .as(s"t${i + 1}")): _*)
  }

  def funnelSinglePass(events: DataFrame, user: String, ts: String,
      typeCol: String, steps: Seq[String],
      maxEventsPerUser: Int = 1000000): DataFrame = {
    val n = steps.size
    val folded = firstReachMicros(events, user, ts, typeCol, steps,
      maxEventsPerUser, "funnelSinglePass")
    val stageCounts = (1 to n).map(j =>
      count(element_at(col("ta"), j)).as(s"n_step$j"))
    folded
      .groupBy(expr("element_at(ta, 1) div 86400000000")
        .as("cohort_day"))
      .agg(stageCounts.head, stageCounts.tail: _*)
      .withColumn("conv_ppm", expr(s"n_step$n * 1000000 div n_step1"))
  }

  /** KAPLAN–MEIER churn survival curve (Kaplan & Meier, JASA 1958) over
    * user LIFETIMES — the principled "how long do users stay" readout
    * that handles the users who haven't churned yet, where a naive
    * mean-lifetime silently treats still-active users as churned.
    * Lifetime = last active epoch-day − first active epoch-day; a user
    * whose last activity is ≥ `censorDays` before the observation
    * horizon (the global max active day) is an observed CHURN (death)
    * at its lifetime, anything more recent is right-CENSORED there —
    * they may still come back. Per dense lifetime day t (0..max):
    * n_risk (lifetimes ≥ t — censored-at-t users count, the standard
    * deaths-before-censoring tie rule), n_dead, n_censored, the exact
    * integer hazard d·10⁶ div n, and the KM survival via the integer
    * recurrence S_t = S_{t−1}·(n_t − d_t) div n_t in ppm (S_{−1} =
    * 10⁶) — engine-exact, no float product; the oracle replays it with
    * a recursive CTE in HUGEINT, this side folds in BigInt.
    *
    * Scale shape: one key-sized (user → first/last) aggregate, then a
    * lifetime-histogram aggregate whose size is bounded by the
    * CALENDAR span, not the user count; the recurrence folds over that
    * collected span-sized table on the driver ([[funnelTiming]]'s
    * bounded-driver contract). */
  /** Per-user ACTIVITY-SPAN state — (u, f, l, g): first/last active
    * epoch-day + arm — the survival family's MERGEABLE sufficient
    * statistic: every readout (KM curve q227, Nelson–Aalen q308,
    * log-rank q293, Fleming–Harrington q310, RMST q301) derives from
    * this table alone, and spans from disjoint event batches merge by
    * (min f, max l, max g) ([[mergeSurvivalSpanState]]) — so a state
    * maintainer folds new events in at O(batch) and the readouts
    * never re-read the log. Rows with a NULL arm, day, or user are
    * dropped BEFORE the reduction — the family-wide null contract
    * (ADVICE r13: logRankTest silently bucketed all-NULL-arm users
    * into arm 0 while rmstByArm crashed on them); a user with no
    * non-NULL-arm row does not enter the state. */
  def survivalSpanState(events: DataFrame, user: String, ts: String,
      arm: org.apache.spark.sql.Column = lit(0)): DataFrame =
    survivalSpanStateOfDays(eventDays(events, user, ts, arm))

  /** The (u, d, g) day projection the survival family reduces — public
    * so a wiring that FILTERS batches by a function of the day (the
    * q311 day-parity seam) can project the timestamp ONCE and feed
    * [[survivalSpanStateOfDays]] directly: the timestamp parse is the
    * scan's dominant cost, and filter-then-reproject paid it twice
    * per batch (measured 12 s → ~6 s at 100× on the q311 row). */
  def eventDays(events: DataFrame, user: String, ts: String,
      arm: org.apache.spark.sql.Column = lit(0)): DataFrame =
    events.select(col(user).as("u"), epochDay(col(ts)).as("d"),
      arm.cast("int").as("g"))

  /** [[survivalSpanState]] over an already-projected (u, d, g) frame
    * ([[eventDays]]) — the parse-once form. */
  def survivalSpanStateOfDays(days: DataFrame): DataFrame =
    days
      .filter(col("u").isNotNull && col("d").isNotNull &&
        col("g").isNotNull)
      .groupBy(col("u"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"),
        max(col("g")).as("g"))

  /** Merge two span states (disjoint or overlapping event batches):
    * per user, the span of the union of the batches — exact, order-
    * free, idempotent on replay of the same batch. */
  def mergeSurvivalSpanState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("u"))
      .agg(min(col("f")).as("f"), max(col("l")).as("l"),
        max(col("g")).as("g"))

  /** The (arm, lifetime, dead) frame of a span state under the
    * end-of-window censor rule — the shared first stage of every
    * state readout. Horizon = the state's own max last-active day. */
  private def spanLifetimes(state: DataFrame,
      censorDays: Int): DataFrame = {
    val horizon = state.agg(max(col("l")).as("m"))
    state.crossJoin(broadcast(horizon))
      .select(col("g"), (col("l") - col("f")).as("t"),
        (col("m") - col("l") >= censorDays).cast("int").as("dead"))
  }

  def survivalCurve(events: DataFrame, user: String, ts: String,
      censorDays: Int): DataFrame =
    survivalCurveFromState(survivalSpanState(events, user, ts),
      censorDays)

  /** [[survivalCurve]] as a READOUT of a persisted/merged span state
    * (arms pooled) — the map-only consumer side of the
    * [[survivalSpanState]] seam. */
  def survivalCurveFromState(state: DataFrame,
      censorDays: Int): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    val spark = state.sparkSession
    import spark.implicits._
    val hist = spanLifetimes(state, censorDays)
      .groupBy(col("t"))
      .agg(sum(col("dead")).as("nd"),
        sum(lit(1) - col("dead")).as("nc"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = if (hist.isEmpty) Seq.empty[(Long, Long, Long, Long, Long, Long)]
    else {
      val maxT = hist.keys.max
      var atRisk = hist.values.map { case (d, c) => d + c }.sum
      var surv = BigInt(1000000)
      (0L to maxT).map { t =>
        val (nd, nc) = hist.getOrElse(t, (0L, 0L))
        val n = atRisk
        val hazardPpm = (BigInt(nd) * 1000000 / n).toLong
        surv = surv * (n - nd) / n
        atRisk -= nd + nc
        (t, n, nd, nc, hazardPpm, surv.toLong)
      }
    }
    rows.toDF("t", "n_risk", "n_dead", "n_censored", "hazard_ppm",
      "survival_ppm")
  }

  /** GREENWOOD CONFIDENCE BAND (Greenwood 1926) around the KM curve —
    * the "is the churn difference real or noise at THIS day" lens the
    * point estimate can't give: Var(Ŝ(t)) = Ŝ(t)²·Σ_{s≤t}
    * d_s/(n_s(n_s−d_s)). Each summand is the exact truncating integer
    * ppb d·10⁹ div (n(n−d)) (0 when n = d — the curve is 0 from there
    * and the variance of an extinct cohort is moot), the running sum
    * is exact, and the ONE float chain per row —
    * se = round(S_ppm·√(g_ppb/10⁹)) — is mirrored in the oracle;
    * the ±1.959964·se band is then integer arithmetic over the
    * rounded se (the q319 statistic-over-a-rounded-statistic
    * convention), clamped to [0, 10⁶].
    *
    * Scale shape: the [[survivalCurveFromState]] span-state readout +
    * one calendar-bounded window. */
  def survivalBandFromState(state: DataFrame,
      censorDays: Int): DataFrame = {
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalCurveFromState(state, censorDays)
      .withColumn("g_term_ppb", when(col("n_risk") - col("n_dead") > 0,
        expr("cast(cast(n_dead as decimal(38,0)) * 1000000000" +
          " div (cast(n_risk as decimal(38,0)) * (n_risk - n_dead))" +
          " as bigint)")).otherwise(lit(0L)))
      .withColumn("g_ppb", sum(col("g_term_ppb")).over(w))
      .withColumn("se_ppm",
        expr("cast(round(cast(survival_ppm as double)" +
          " * sqrt(cast(g_ppb as double) / 1e9), 0) as bigint)"))
      .select(col("t"), col("n_risk"), col("n_dead"),
        col("survival_ppm"), col("se_ppm"),
        greatest(lit(0L), col("survival_ppm") -
          expr("se_ppm * 1959964 div 1000000")).as("lo_ppm"),
        least(lit(1000000L), col("survival_ppm") +
          expr("se_ppm * 1959964 div 1000000")).as("hi_ppm"))
      .orderBy(col("t"))
  }

  /** [[survivalBandFromState]] from the raw event log. */
  def survivalBand(events: DataFrame, user: String, ts: String,
      censorDays: Int): DataFrame =
    survivalBandFromState(survivalSpanState(events, user, ts),
      censorDays)

  /** NELSON–AALEN cumulative hazard — [[survivalCurve]]'s additive
    * twin: H(t) = Σ_{t'≤t} d/n accumulates the per-day hazards
    * instead of multiplying survivals, the estimator whose increments
    * are what hazard-ratio models consume. Exact by construction: the
    * summands ARE [[survivalCurve]]'s integer-ppm hazard column
    * (d·10⁶ div n), so the running sum replays in any engine; one
    * window over the calendar-bounded KM table. */
  def nelsonAalen(events: DataFrame, user: String, ts: String,
      censorDays: Int): DataFrame = {
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalCurve(events, user, ts, censorDays)
      .withColumn("cumhaz_ppm", sum(col("hazard_ppm")).over(w))
  }

  /** SESSION PATH BIGRAMS — the top consecutive event-type pairs WITHIN
    * a session ([[graft.operators.Sessionize]]'s gap rule: strictly
    * greater than `gapSec` starts a new session), vs
    * [[eventTransitions]] which chains across a user's whole history:
    * "checkout follows cart within a visit" is a different fact from
    * "checkout follows cart within a lifetime". Deterministic order by
    * (ts, tie) inside the session; output = top `topN` (from, to, n) by
    * (n DESC, from, to) — a total order, so the cut is engine-exact.
    *
    * Scale shape: ONE shuffle on the user key; the session-id and lead
    * windows share the same (u) partitioning and (t, tie) sort, so the
    * second window adds no exchange; the bigram aggregate is
    * |types|²-bounded and the top-N is a TakeOrderedAndProject. */
  def sessionPathBigrams(events: DataFrame, user: String, ts: String,
      tie: String, typeCol: String, gapSec: Long, topN: Int): DataFrame = {
    require(gapSec >= 1 && topN >= 1, s"gapSec=$gapSec topN=$topN")
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("tk"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val gap = col("t").cast("double") -
      lag(col("t"), 1).over(w).cast("double")
    val sess = events
      .select(col(user).as("u"), col(ts).as("t"), col(tie).as("tk"),
        col(typeCol).as("et"))
      .withColumn("is_new",
        when(gap.isNull || gap > gapSec, 1).otherwise(0))
      .withColumn("sid", sum(col("is_new")).over(wRun))
    val w2 = Window.partitionBy(col("u"), col("sid"))
      .orderBy(col("t"), col("tk"))
    sess.withColumn("to_type", lead(col("et"), 1).over(w2))
      .filter(col("to_type").isNotNull)
      .groupBy(col("et").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
      .limit(topN)
  }

  /** MARKET-BASKET PAIRS — support / confidence / lift for the top
    * co-occurring item pairs at the basket grain (orders × parts,
    * sessions × pages): the A-priori first rung, exact. Per unordered
    * pair: support n_ab (baskets containing both), per-item basket
    * counts, both directional confidences n_ab·10⁶ div n_x, and lift
    * n_ab·N·10⁶ div (n_a·n_b) — all DECIMAL(38,0)-exact integers
    * ([[typeCooccurrencePmi]]'s contract at the basket grain). Top
    * `topN` by (support DESC, item_a, item_b) — a total order.
    *
    * Scale shape: distinct (basket, item) reduction, then a per-basket
    * equi-join emitting |basket|²/2 rows per basket — bounded by the
    * LARGEST BASKET, not the corpus (order lineitems ≤ 7 in TPC-H;
    * cap or pre-trim pathological baskets before calling at scale);
    * item marginals join on item keys; TakeOrderedAndProject cut. */
  def basketPairs(df: DataFrame, basket: String, item: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN=$topN")
    val bi = df.select(col(basket).as("o"), col(item).as("i"))
      .filter(col("o").isNotNull && col("i").isNotNull).distinct()
    val nB = bi.agg(countDistinct(col("o")).as("n_baskets"))
    val perItem = bi.groupBy(col("i")).agg(count(lit(1)).as("ni"))
    val pairs = bi.select(col("o"), col("i").as("ia"))
      .join(bi.select(col("o"), col("i").as("ib")), "o")
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(perItem.select(col("i").as("ia"), col("ni").as("n_a")), "ia")
      .join(perItem.select(col("i").as("ib"), col("ni").as("n_b")), "ib")
      .crossJoin(broadcast(nB))
      .select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        expr("cast(cast(n_ab as decimal(38,0)) * 1000000 div n_a" +
          " as bigint)").as("conf_ab_ppm"),
        expr("cast(cast(n_ab as decimal(38,0)) * 1000000 div n_b" +
          " as bigint)").as("conf_ba_ppm"),
        expr("cast(cast(n_ab as decimal(38,0)) * n_baskets * 1000000" +
          " div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_ppm"))
      .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
      .limit(topN)
  }

  /** FANO-FACTOR burstiness per event type — the index of dispersion
    * var/mean of DAILY counts over the global observed calendar
    * (zero-count days included: a type absent on a day is a real 0).
    * Fano ≈ 1 is Poisson arrival; ≫ 1 is bursty/clumped (incident
    * spikes, batch jobs), ≪ 1 is more-regular-than-random — the
    * arrival-process profile behind [[rateCusum]]'s changepoints.
    * Exact: with n = span days, S1 = Σcount, S2 = Σcount², population
    * Fano = (n·S2 − S1²)/(n·S1), emitted as integer micro units with
    * DECIMAL(38,0) intermediates (the numerator is ≥ 0 by
    * Cauchy–Schwarz since zero days are in the n, so truncation is
    * engine-exact); NULL when the type has no events.
    *
    * Scale shape: one (type, day) aggregate of the log (map-side
    * partials), then a |types|-sized stats aggregate — zero-count days
    * never materialize because they contribute 0 to both sums; only
    * the span constant n references the calendar. */
  def fanoFactor(events: DataFrame, ts: String, typeCol: String)
      : DataFrame = {
    val base = events.select(col(typeCol).as("et"),
      epochDay(col(ts)).as("d"))
    val span = base.agg((max(col("d")) - min(col("d")) + 1).as("n_days"))
    val counts = base.groupBy(col("et"), col("d"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("et"))
      .agg(sum(col("c")).as("s1"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("s2"))
      .crossJoin(broadcast(span))
      .select(col("et").as("event_type"), col("n_days"),
        col("s1").as("n_events"),
        expr("cast((cast(n_days as decimal(38,0)) * s2 -" +
          " cast(s1 as decimal(38,0)) * s1) * 1000000" +
          " div (cast(n_days as decimal(38,0)) * s1) as bigint)")
          .as("fano_micro"))
      .withColumn("bursty", (col("fano_micro") > 1000000L).cast("int"))
  }

  /** WELCH'S t — the continuous-metric A/B readout ([[abTest]] handles
    * the binary-conversion case): per-user integer-cents totals under
    * hash-split arms 0/1, compared by the unequal-variance t statistic
    * (Welch, Biometrika 1947 — never pool variances you didn't verify
    * equal). Determinism contract: per-arm n/Σx/Σx² accumulate as
    * exact DECIMAL(38,0); means are exact integer micro units; t and
    * the Welch–Satterthwaite df are the ONLY float steps, computed
    * from those integers in a fixed operand order and rounded 4 / 2
    * dp. NULL t when either arm has < 2 users or both sample
    * variances are zero.
    *
    * Scale shape: (arm, user) aggregate → arm-sized stats → one row.
    * Nothing after the first key-sized shuffle exceeds 2 rows. */
  def welchT(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column): DataFrame = {
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"))
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("m"))
    welchTFromState(perUser)
  }

  /** [[welchT]]'s readout over an ALREADY-MAINTAINED per-user state
    * frame (v, u, m) — the incremental-maintenance split: the state
    * grain is mergeable (per-user sums add across batches, see
    * [[mergeExperimentState]]), so a stream keeps (v, u, m) current
    * and this readout never rescans the event log. Identical plan
    * tail (and so identical values) to [[welchT]] on the full log. */
  def welchTFromState(perUser: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val g = perUser.select(col("v"), col("u"), col("m"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(dec(col("m"))).as("s1"),
        sum(dec(col("m")) * col("m")).as("s2"))
    val one = g.agg(
      sum(when(col("v") === 0, col("n"))).as("n_a"),
      sum(when(col("v") === 0, col("s1"))).as("s1_a"),
      sum(when(col("v") === 0, col("s2"))).as("s2_a"),
      sum(when(col("v") === 1, col("n"))).as("n_b"),
      sum(when(col("v") === 1, col("s1"))).as("s1_b"),
      sum(when(col("v") === 1, col("s2"))).as("s2_b"))
    def d(name: String) = col(name).cast("double")
    // sample variance v = (n·S2 − S1²) / (n·(n−1)); se² = v_a/n_a +
    // v_b/n_b — operand order mirrored verbatim in the oracle SQL
    val va = (d("n_a") * d("s2_a") - d("s1_a") * d("s1_a")) /
      (d("n_a") * (d("n_a") - lit(1.0)))
    val vb = (d("n_b") * d("s2_b") - d("s1_b") * d("s1_b")) /
      (d("n_b") * (d("n_b") - lit(1.0)))
    val sea = va / d("n_a")
    val seb = vb / d("n_b")
    val se2 = sea + seb
    val t = when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0,
      round((d("s1_a") / d("n_a") - d("s1_b") / d("n_b")) / sqrt(se2), 4)
        + lit(0.0)).otherwise(lit(null).cast("double"))
    val df = when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0,
      round(se2 * se2 / (sea * sea / (d("n_a") - lit(1.0)) +
        seb * seb / (d("n_b") - lit(1.0))), 2) + lit(0.0))
      .otherwise(lit(null).cast("double"))
    one.select(col("n_a"), col("n_b"),
      expr("cast(s1_a * 1000000 div n_a as bigint)").as("mean_a_micro"),
      expr("cast(s1_b * 1000000 div n_b as bigint)").as("mean_b_micro"),
      t.as("t"), df.as("df"))
  }

  /** COCHRAN–ARMITAGE TREND TEST (Cochran 1954, Armitage 1955) — is
    * the conversion rate MONOTONE in an ordered exposure (dose /
    * price tier / ramp stage)? The k-arm z-test (abTestK) asks "did
    * ANY arm move"; this asks the sharper ordered question with one
    * degree of freedom, scores s_i = arm index. Exact integer
    * sufficient statistics per arm (n_i users, r_i converters;
    * A1 = Σs·n, A2 = Σs·r, A3 = Σs²·n), then the cleared chain:
    * T = N·A2 − R·A1 (the trend numerator, exact), and
    * z²_micro = ((T² div (R·(N−R))) · (N−1) · 10⁶) div
    * (N·A3 − A1²) — the hypergeometric-variance form with the big
    * quotient taken FIRST so every div result lands within a long
    * (the q344 bigint-div rail; T² and the products stay inside
    * DECIMAL(38,0) at any realistic N). NULL when R = 0 or R = N
    * (no variance) or the arm scores are constant. One row:
    * (n, r, t_num, z2_micro).
    *
    * Scale shape: one (arm, user) pre-aggregate (hot users collapse
    * map-side), a k-row arm aggregate, 1-row algebra. */
  def cochranArmitage(events: DataFrame, user: String, arms: Int,
      convEvent: String = "purchase"): DataFrame = {
    require(arms >= 2, s"arms=$arms")
    val pu = events.filter(col(user).isNotNull)
      .select((col(user) % arms).as("s"), col(user).as("u"),
        (col("event_type") === convEvent).cast("int").as("cv"))
      .groupBy(col("s"), col("u")).agg(max(col("cv")).as("conv"))
    val g = pu.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("r"))
    g.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
        sum(expr("cast(s as decimal(38,0)) * n")).as("a1"),
        sum(expr("cast(s as decimal(38,0)) * r")).as("a2"),
        sum(expr("cast(s as decimal(38,0)) * s * n")).as("a3"))
      .select(col("nn").as("n"), col("rr").as("r"),
        expr("cast(cast(nn as decimal(38,0)) * a2" +
          " - cast(rr as decimal(38,0)) * a1 as bigint)").as("t_num"),
        expr("cast(cast((cast(nn as decimal(38,0)) * a2" +
          " - cast(rr as decimal(38,0)) * a1)" +
          " * (cast(nn as decimal(38,0)) * a2" +
          " - cast(rr as decimal(38,0)) * a1)" +
          " div nullif(cast(rr as decimal(38,0)) * (nn - rr), 0)" +
          " as decimal(38,0)) * (nn - 1) * 1000000" +
          " div nullif(cast(nn as decimal(38,0)) * a3 - a1 * a1, 0)" +
          " as bigint)").as("z2_micro"))
  }

  /** MANN–WHITNEY U — the nonparametric two-sample test for the same
    * arms when means are the wrong question (heavy-tailed revenue,
    * ordinal scores): ranks are over per-user integer metrics with the
    * ties-share midrank, and everything stays EXACT INTEGER by working
    * in DOUBLED rank units: a tie group of size c after p smaller
    * values has 2·midrank = 2p + c + 1, so 2·U_A = Σ_values
    * cntA·(2p + c + 1) − n_a·(n_a + 1) is an exact integer in both
    * engines — no float anywhere. Also emits the rank-biserial effect
    * size (U_A − U_B)/(n_a·n_b) in exact ppm. Invariant (spec-pinned):
    * u2_a + u2_b = 2·n_a·n_b.
    *
    * Scale shape: (arm, user) aggregate, then a per-VALUE count frame;
    * the midrank cumsum runs on the DISTINCT-VALUE frame — which on a
    * per-user cents metric approaches USER cardinality, so it goes
    * through [[Curation.withGlobalCumsums]]' two-level plan (range-
    * partitioned local cumsums + a broadcast offset fold), never an
    * unpartitioned window; the final aggregate is one row. */
  def mannWhitneyU(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"))
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("m"))
    val vals = perUser.groupBy(col("m"))
      .agg(count(when(col("v") === 0, 1)).as("ca"),
        count(when(col("v") === 1, 1)).as("cb"))
    val ranked = Curation.withGlobalCumsums(vals, Seq(col("m")),
        Seq("t" -> (col("ca") + col("cb"))))
      .withColumn("p", col("cum_t") - (col("ca") + col("cb")))
      .withColumn("two_mid", lit(2) * col("p") + col("ca") + col("cb")
        + lit(1))
    val agg = ranked.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(dec(col("ca")) * col("two_mid")).as("ra2"),
      sum(dec(col("cb")) * col("two_mid")).as("rb2"))
    agg.select(col("n_a"), col("n_b"),
      expr("cast(ra2 - cast(n_a as decimal(38,0)) * (n_a + 1)" +
        " as bigint)").as("u2_a"),
      expr("cast(rb2 - cast(n_b as decimal(38,0)) * (n_b + 1)" +
        " as bigint)").as("u2_b"))
      .withColumn("rank_biserial_ppm",
        expr("cast((cast(u2_a as decimal(38,0)) - u2_b) * 1000000" +
          " div (2 * cast(n_a as decimal(38,0)) * n_b) as bigint)"))
  }

  /** KRUSKAL–WALLIS H over k ≥ 2 hash arms (Kruskal & Wallis, JASA
    * 1952) — the k-arm generalization of [[mannWhitneyU]] and the
    * rank-based companion of [[abTestK]]: "did ANY arm's metric
    * distribution shift", on the same per-user integer metric. Exact
    * integer machinery end to end via DOUBLED midranks (2·mid =
    * 2p + c + 1 per distinct pooled value): per-arm n_i and doubled
    * rank sums R2_i are DECIMAL(38,0) integers, the tie term
    * Σ(t³ − t) likewise; H with the standard tie correction
    * H = [3/(n(n+1)) · Σ R2_i²/n_i − 3(n+1)] / [1 − Σ(t³−t)/(n³−n)]
    * is the ONE fixed-order float chain (arm-ordered left-fold sum,
    * operand order mirrored in the oracle), rounded to 6; NULL when
    * the tie correction is 0 (every value identical — no ranking).
    * Output one row per arm: (v, n_arm, mean_rank2 = R2_i div n_i,
    * the exact doubled mean rank; h repeated on each row, the
    * [[abTestK]] layout). Arms must be 0..k−1 (hash-split contract).
    *
    * Scale shape: (arm, user) aggregate, per-VALUE count frame with k
    * conditional counters, ONE distinct-value cumsum through
    * [[Curation.withGlobalCumsums]] (the [[mannWhitneyU]] two-level
    * contract — no unpartitioned window), one 1-row aggregate, k-row
    * output. */
  def kruskalWallis(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k >= 2, s"k=$k")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"))
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("m"))
    val armCnts = (0 until k).map(i =>
      count(when(col("v") === i, 1)).as(s"c$i"))
    val vals = perUser.groupBy(col("m"))
      .agg(armCnts.head, armCnts.tail: _*)
    val total = (0 until k).map(i => col(s"c$i")).reduce(_ + _)
    val ranked = Curation.withGlobalCumsums(
        vals.withColumn("t", total), Seq(col("m")),
        Seq("t" -> col("t")))
      .withColumn("two_mid",
        lit(2) * (col("cum_t") - col("t")) + col("t") + lit(1))
    val aggs = (0 until k).flatMap(i => Seq(
      sum(col(s"c$i")).as(s"n_$i"),
      sum(dec(col(s"c$i")) * col("two_mid")).as(s"r2_$i"))) :+
      sum(dec(col("t")) * col("t") * col("t") - col("t")).as("tie")
    val one = ranked.agg(aggs.head, aggs.tail: _*)
    val nExpr = (0 until k).map(i => s"n_$i").mkString(" + ")
    val sumTerm = (0 until k).map(i =>
      s"cast(r2_$i as double) * cast(r2_$i as double) / n_$i")
      .mkString(" + ")
    val h = s"""case when (1.0 - cast(tie as double) /
      (cast(n as double) * n * n - n)) > 0 then
      round(((3.0 / (cast(n as double) * (n + 1))) * ($sumTerm)
        - 3.0 * (n + 1))
        / (1.0 - cast(tie as double)
          / (cast(n as double) * n * n - n)), 6) + 0.0 end"""
    val wide = one.withColumn("n", expr(nExpr))
      .withColumn("h", expr(h))
    val stacked = (0 until k).map(i =>
      s"$i, n_$i, cast(r2_$i div n_$i as bigint)").mkString(", ")
    wide.selectExpr("h",
        s"stack($k, $stacked) as (v, n_arm, mean_rank2)")
      .select(col("v").cast("long").as("v"), col("n_arm"),
        col("mean_rank2"), col("h"))
  }

  /** KOLMOGOROV–SMIRNOV two-sample test on the same per-user integer
    * metric and arms as [[welchT]]/[[mannWhitneyU]] — the
    * whole-distribution A/B readout ("did the SHAPE move, not just the
    * mean or the ranks"): D = max_v |F_a(v) − F_b(v)| over the pooled
    * empirical CDFs. EXACT INTEGER throughout by cross-scaling: at
    * each pooled distinct value, |cumA·n_b − cumB·n_a| is an exact
    * DECIMAL(38,0) integer (never the float CDFs), D lands as exact
    * ppm of n_a·n_b, and the reported location is the SMALLEST metric
    * value attaining the max (deterministic under ties). One row:
    * (n_a, n_b, d_ppm, at_value). The Kolmogorov p-value needs only
    * the emitted (d_ppm, n_a, n_b) triple — left to the caller, so the
    * row stays engine-exact.
    *
    * Scale shape: (arm, user) aggregate, per-VALUE count frame, then
    * BOTH running CDFs through one [[Curation.withGlobalCumsums]]
    * pass (range-partitioned local cumsums + broadcast offset fold —
    * a per-user cents metric's distinct-value count approaches user
    * cardinality, so the cumsum must not funnel through one
    * partition); grand totals ride along as `tot_*`, and the max gap
    * is a 1-row aggregate broadcast back over the pinned frame. */
  def ksTest(events: DataFrame, user: String,
      value: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val perUser = events
      .select(variant.as("v"), col(user).as("u"),
        value.cast("long").as("cents"))
      .groupBy(col("v"), col("u"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("m"))
    val vals = perUser.groupBy(col("m"))
      .agg(count(when(col("v") === 0, 1)).as("ca"),
        count(when(col("v") === 1, 1)).as("cb"))
    val scored = Curation.withGlobalCumsums(vals, Seq(col("m")),
        Seq("a" -> col("ca"), "b" -> col("cb")))
      .withColumn("n_a", col("tot_a"))
      .withColumn("n_b", col("tot_b"))
      .withColumn("dd",
        abs(dec(col("cum_a")) * col("n_b") -
          dec(col("cum_b")) * col("n_a")))
    // the max gap is a 1-row broadcast state over the pinned frame —
    // never a whole-frame unpartitioned window
    scored
      .crossJoin(broadcast(scored.agg(max(col("dd")).as("mx"))))
      .filter(col("dd") === col("mx"))
      .groupBy(col("n_a"), col("n_b"), col("mx"))
      .agg(min(col("m")).as("at_value"))
      .select(col("n_a"), col("n_b"),
        expr("cast(mx * 1000000 div (cast(n_a as decimal(38,0)) * n_b)" +
          " as bigint)").as("d_ppm"),
        col("at_value"))
  }

  /** EVENT-TYPE CO-OCCURRENCE PMI — for each unordered type pair, how
    * much more often one user does BOTH than independence predicts, at
    * the user grain: lift = P(a,b)/(P(a)·P(b)) as the exact integer
    * ppm (n_both·U·10⁶) div (n_a·n_b) with DECIMAL(38,0) numerators,
    * and pointwise mutual information ln(lift) in nano-nats via the
    * q197/q215 recipe (ONE double ln per pair row, identical operand
    * order in both engines, rounded to integer nano before any further
    * use). The feature-affinity / market-basket readout ("users who
    * error also churn") beside [[eventTransitions]]' sequential view.
    *
    * Scale shape: one distinct (user, type) reduction of the log, a
    * per-user equi-join producing ≤ |types|² rows per user, and
    * |types|²-bounded output; the per-type marginals broadcast. */
  def typeCooccurrencePmi(events: DataFrame, user: String,
      typeCol: String): DataFrame = {
    val ut = events.select(col(user).as("u"), col(typeCol).as("t"))
      .filter(col("t").isNotNull).distinct()
    val total = ut.agg(countDistinct(col("u")).as("n_users"))
    val perType = ut.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val pairs = ut.select(col("u"), col("t").as("ta"))
      .join(ut.select(col("u"), col("t").as("tb")), "u")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("t").as("ta"),
        col("n_t").as("n_a"))), "ta")
      .join(broadcast(perType.select(col("t").as("tb"),
        col("n_t").as("n_b"))), "tb")
      .crossJoin(broadcast(total))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_users"), col("n_a"), col("n_b"), col("n_both"),
        expr("cast(cast(n_both as decimal(38,0)) * n_users * 1000000" +
          " div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_ppm"),
        round(log(col("n_both").cast("double") * col("n_users") /
          (col("n_a").cast("double") * col("n_b"))) * 1e9, 0)
          .cast("long").as("pmi_nano"))
  }

  /** LOG-RANK TEST — does survival differ between two arms? The
    * Mantel–Cox statistic over [[survivalCurve]]'s lifetime/censoring
    * model (same deaths-before-censoring tie rule, same end-of-window
    * censor): at every lifetime day t with any death and ≥ 2 at risk,
    * arm 1's observed deaths are compared with the hypergeometric
    * expectation d·n₁/n and variance d·n₁·n₀·(n−d)/(n²·(n−1)). Both
    * moments accumulate as EXACT truncating-division integers —
    * expectation in ppm, variance in ppt (10¹²; DECIMAL(38,0)
    * numerators) — so every engine replays the identical sums; the
    * only floats are the final z = (O₁·10⁶ − E₁ppm)/√Vppt and its
    * fixed-order operands (the [[diffInDiff]] edge convention). The
    * survival counterpart of [[abTest]]'s conversion z: "does the
    * variant RETAIN users longer", not "does it convert more".
    *
    * `arm` is any expression over the event row that is constant per
    * user (the per-user reduction takes max; a hash-split of the user
    * key is the intended use). Arm 1 is the treatment side.
    *
    * Scale shape: one key-sized (user → lifetime, arm) aggregate,
    * then a CALENDAR-bounded per-day table; the reverse-cumsum risk
    * window and the final fold run over that span-sized frame (the
    * [[survivalCurve]] bounded contract), never over users. */
  def logRankTest(events: DataFrame, user: String, ts: String,
      censorDays: Int, arm: org.apache.spark.sql.Column): DataFrame =
    logRankFromState(survivalSpanState(events, user, ts, arm),
      censorDays)

  /** The per-day two-arm risk table of a span state — shared by
    * [[logRankFromState]] and [[flemingHarringtonFromState]]: per
    * lifetime day with any death and ≥ 2 at risk, arm death/at-risk
    * counts from one calendar-bounded reverse cumsum. */
  private def armRiskTable(lt: DataFrame): DataFrame = {
    val hist = lt.groupBy(col("t")).agg(
      sum(when(col("g") === 1, col("dead")).otherwise(0L)).as("d1"),
      sum(when(col("g") === 1, lit(1) - col("dead")).otherwise(0L))
        .as("c1"),
      sum(when(col("g") =!= 1, col("dead")).otherwise(0L)).as("d0"),
      sum(when(col("g") =!= 1, lit(1) - col("dead")).otherwise(0L))
        .as("c0"))
    // at-risk per arm: reverse cumsum over the calendar-bounded t table
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n1", sum(col("d1") + col("c1")).over(w))
      .withColumn("n0", sum(col("d0") + col("c0")).over(w))
      .withColumn("dd", col("d0") + col("d1"))
      .withColumn("nn", col("n0") + col("n1"))
      .filter(col("dd") > 0 && col("nn") >= 2)
  }

  private def armTotals(lt: DataFrame): DataFrame =
    lt.agg(
      sum(when(col("g") =!= 1, 1L).otherwise(0L)).as("n0_users"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1_users"))

  /** [[logRankTest]] as a readout of a persisted/merged span state. */
  def logRankFromState(state: DataFrame, censorDays: Int): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    val lt = spanLifetimes(state, censorDays)
    val moments = armRiskTable(lt).agg(
      sum(col("d1")).as("o1"),
      sum(expr("dd * cast(n1 as decimal(38,0)) * 1000000 div nn"))
        .cast("long").as("e1_ppm"),
      sum(expr("dd * cast(n1 as decimal(38,0)) * n0 * (nn - dd) * " +
        "1000000000000 div (cast(nn as decimal(38,0)) * nn * (nn - 1))"))
        .cast("long").as("v_ppt"))
    moments.crossJoin(broadcast(armTotals(lt)))
      .select(col("n0_users"), col("n1_users"), col("o1"),
        col("e1_ppm"), col("v_ppt"),
        when(col("v_ppt") > 0,
          (col("o1") * 1000000L - col("e1_ppm")).cast("double") /
            sqrt(col("v_ppt").cast("double"))).as("z"))
  }

  /** PER-ARM NELSON–AALEN + CUMULATIVE HAZARD RATIO — the
    * over-time effect view between [[nelsonAalen]]'s single curve and
    * [[logRankTest]]'s single z: per lifetime day, each arm's exact
    * integer-ppm hazard (d_g·10⁶ div n_g over its OWN risk set) and
    * running cumulative hazard, plus the ratio
    * cumhaz₁·10⁶ div cumhaz₀ (NULL until arm 0 has hazard) — a flat
    * ratio says proportional hazards (one number summarizes), a
    * drifting one says the treatment effect is early/late (q310's FH
    * weighting is then the right test). All integers; the ratio is
    * one truncating division per day.
    *
    * Scale shape: the [[logRankFromState]] risk table (key-sized span
    * aggregate + calendar-bounded reverse cumsum), two running-sum
    * windows over the same calendar-bounded frame (the
    * [[nelsonAalen]] bounded-window convention), output span-sized
    * rows. */
  def hazardRatioFromState(state: DataFrame,
      censorDays: Int): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    val lt = spanLifetimes(state, censorDays)
    // all observed days (not just death days): hazards are 0 there
    // but the cumulative columns must still carry
    val hist = lt.groupBy(col("t")).agg(
      sum(when(col("g") === 1, col("dead")).otherwise(0L)).as("d1"),
      sum(when(col("g") === 1, lit(1) - col("dead")).otherwise(0L))
        .as("c1"),
      sum(when(col("g") =!= 1, col("dead")).otherwise(0L)).as("d0"),
      sum(when(col("g") =!= 1, lit(1) - col("dead")).otherwise(0L))
        .as("c0"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n1", sum(col("d1") + col("c1")).over(wDesc))
      .withColumn("n0", sum(col("d0") + col("c0")).over(wDesc))
      .withColumn("h1",
        when(col("n1") > 0, expr("d1 * 1000000 div n1")).otherwise(0L))
      .withColumn("h0",
        when(col("n0") > 0, expr("d0 * 1000000 div n0")).otherwise(0L))
      .withColumn("cumhaz1_ppm", sum(col("h1")).over(wAsc))
      .withColumn("cumhaz0_ppm", sum(col("h0")).over(wAsc))
      .select(col("t"), col("n0"), col("n1"), col("d0"), col("d1"),
        col("cumhaz0_ppm"), col("cumhaz1_ppm"),
        expr("cumhaz1_ppm * 1000000 div nullif(cumhaz0_ppm, 0)")
          .as("hr_ppm"))
  }

  /** [[hazardRatioFromState]] straight from the event log. */
  def hazardRatioByArm(events: DataFrame, user: String, ts: String,
      censorDays: Int, arm: org.apache.spark.sql.Column): DataFrame =
    hazardRatioFromState(survivalSpanState(events, user, ts, arm),
      censorDays)

  /** STRATIFIED LOG-RANK — the Mantel–Cox test with the comparison
    * made WITHIN strata and the hypergeometric moments SUMMED across
    * them (the standard confounder control: if arm assignment is
    * imbalanced across cohorts/regions/platforms, the unstratified
    * q293 form attributes the cohort effect to the arm; stratifying
    * compares like with like and still yields one z). Same
    * lifetime/censoring model and exact-integer moment convention as
    * [[logRankTest]] (E in ppm, V in ppt, DECIMAL(38,0) numerators;
    * z the one float); `stratum` is any per-user-constant expression
    * (per-user max, the arm contract), NULL rows dropping under the
    * family null contract. The censor horizon is GLOBAL (one
    * observation window), only the risk sets are per-stratum.
    *
    * Scale shape: one key-sized (user → span, arm, stratum)
    * aggregate, a (stratum × calendar)-bounded per-day table whose
    * reverse-cumsum risk window is PARTITIONED BY STRATUM (strata are
    * the parallel grain — this query never sees even the
    * calendar-bounded single partition q293 tolerates), one 1-row
    * moment sum. */
  def stratifiedLogRank(events: DataFrame, user: String, ts: String,
      censorDays: Int, arm: org.apache.spark.sql.Column,
      stratum: org.apache.spark.sql.Column): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    val days = events.select(col(user).as("u"), epochDay(col(ts)).as("d"),
        arm.cast("int").as("g"), stratum.cast("int").as("s"))
      .filter(col("u").isNotNull && col("d").isNotNull &&
        col("g").isNotNull && col("s").isNotNull)
    val st = days.groupBy(col("u"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"),
        max(col("g")).as("g"), max(col("s")).as("s"))
    val lt = st.crossJoin(broadcast(st.agg(max(col("l")).as("m"))))
      .select(col("s"), col("g"), (col("l") - col("f")).as("t"),
        (col("m") - col("l") >= censorDays).cast("int").as("dead"))
    val hist = lt.groupBy(col("s"), col("t")).agg(
      sum(when(col("g") === 1, col("dead")).otherwise(0L)).as("d1"),
      sum(when(col("g") === 1, lit(1) - col("dead")).otherwise(0L))
        .as("c1"),
      sum(when(col("g") =!= 1, col("dead")).otherwise(0L)).as("d0"),
      sum(when(col("g") =!= 1, lit(1) - col("dead")).otherwise(0L))
        .as("c0"))
    val w = Window.partitionBy(col("s")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = hist
      .withColumn("n1", sum(col("d1") + col("c1")).over(w))
      .withColumn("n0", sum(col("d0") + col("c0")).over(w))
      .withColumn("dd", col("d0") + col("d1"))
      .withColumn("nn", col("n0") + col("n1"))
      .filter(col("dd") > 0 && col("nn") >= 2)
    val moments = risk.agg(
      sum(col("d1")).as("o1"),
      sum(expr("dd * cast(n1 as decimal(38,0)) * 1000000 div nn"))
        .cast("long").as("e1_ppm"),
      sum(expr("dd * cast(n1 as decimal(38,0)) * n0 * (nn - dd) * " +
        "1000000000000 div (cast(nn as decimal(38,0)) * nn * (nn - 1))"))
        .cast("long").as("v_ppt"))
    val totals = lt.agg(
      countDistinct(col("s")).as("n_strata"),
      sum(when(col("g") =!= 1, 1L).otherwise(0L)).as("n0_users"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1_users"))
    moments.crossJoin(broadcast(totals))
      .select(col("n_strata"), col("n0_users"), col("n1_users"),
        col("o1"), col("e1_ppm"), col("v_ppt"),
        when(col("v_ppt") > 0,
          (col("o1") * 1000000L - col("e1_ppm")).cast("double") /
            sqrt(col("v_ppt").cast("double"))).as("z"))
  }

  /** FLEMING–HARRINGTON G(ρ=1, γ=0) WEIGHTED log-rank (Fleming &
    * Harrington 1981; the Peto–Peto-family weight) — the
    * EARLY-difference-sensitive companion of [[logRankTest]]: each
    * day's hypergeometric (O₁ − E₁, V) term is weighted by the POOLED
    * Kaplan–Meier survival just BEFORE that day, w(t) = S(t−) in
    * exact ppm from [[survivalCurveFromState]]'s integer recurrence
    * (w(0) = 10⁶). A difference while most users are still alive
    * (S ≈ 1) counts fully; late-tail noise (S ≈ 0) is damped —
    * the right test when early churn is the effect being hunted.
    * All three weighted sums accumulate as exact DECIMAL(38,0)
    * integers: wo1 = Σ w·d1·10⁶ and we1 = Σ w·(d·n₁·10⁶ div n) in
    * w-scaled ppt, wv = Σ w²·(V-term in ppt) in w²-scaled units;
    * z = (wo1 − we1)/√wv is the ONE fixed-order float (the
    * [[logRankTest]] edge convention). With w ≡ 10⁶ the statistic
    * degenerates to exactly [[logRankTest]]'s (spec-pinned).
    *
    * Scale shape: the [[logRankFromState]] frame plus one
    * calendar-bounded weight join; the KM weight fold is
    * [[survivalCurve]]'s span-sized driver recurrence. */
  def flemingHarringtonTest(events: DataFrame, user: String, ts: String,
      censorDays: Int, arm: org.apache.spark.sql.Column): DataFrame =
    flemingHarringtonFromState(
      survivalSpanState(events, user, ts, arm), censorDays)

  /** [[flemingHarringtonTest]] as a readout of a span state. */
  def flemingHarringtonFromState(state: DataFrame,
      censorDays: Int): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    val lt = spanLifetimes(state, censorDays)
    // w(t) = pooled S(t−): the KM ppm at t−1 (10⁶ before day 0) —
    // calendar-bounded rows from the exact driver recurrence
    val wtab = survivalCurveFromState(state, censorDays)
      .select((col("t") + 1).as("t"), col("survival_ppm").as("w"))
    val risk = armRiskTable(lt)
      .join(wtab, Seq("t"), "left")
      .withColumn("w", coalesce(col("w"), lit(1000000L)))
    val moments = risk.agg(
      sum(col("d1")).as("o1"),
      sum(expr("cast(w as decimal(38,0)) * d1 * 1000000")).as("wo1"),
      sum(expr("cast(w as decimal(38,0)) * " +
        "(dd * cast(n1 as decimal(38,0)) * 1000000 div nn)")).as("we1"),
      sum(expr("cast(w as decimal(38,0)) * w * " +
        "(dd * cast(n1 as decimal(38,0)) * n0 * (nn - dd) * " +
        "1000000000000 div (cast(nn as decimal(38,0)) * nn * (nn - 1)))"))
        .as("wv"))
    moments.crossJoin(broadcast(armTotals(lt)))
      .select(col("n0_users"), col("n1_users"), col("o1"),
        expr("cast(wo1 div 1000000 as bigint)").as("wo1_micro"),
        expr("cast(we1 div 1000000 as bigint)").as("we1_micro"),
        when(col("wv") > 0,
          (col("wo1") - col("we1")).cast("double") /
            sqrt(col("wv").cast("double"))).as("z"))
  }

  /** RESTRICTED MEAN SURVIVAL TIME per arm — "expected days retained
    * in the first τ days", the modern effect size the log-rank test
    * ([[logRankTest]]) only p-values: per arm, the Kaplan–Meier curve
    * of [[survivalCurve]] (same lifetime/censoring model, same exact
    * integer ppm recurrence) is step-integrated over t = 0..τ−1 —
    * RMST·10⁶ = Σ S_ppm(t), with S carried FLAT past the arm's last
    * observed lifetime (no one left at risk ⇒ the curve stops
    * moving; the oracle's recurrence mirrors the carry with a CASE).
    * Everything through the sum is exact 64-bit/BigInt integer
    * arithmetic; there is no float anywhere.
    *
    * Scale shape: one key-sized (user → lifetime, arm) aggregate,
    * then a (arm × calendar)-bounded histogram collected and folded
    * on the driver — [[survivalCurve]]'s bounded-driver contract per
    * arm. */
  def rmstByArm(events: DataFrame, user: String, ts: String,
      censorDays: Int, horizonDays: Int,
      arm: org.apache.spark.sql.Column): DataFrame =
    rmstFromState(survivalSpanState(events, user, ts, arm),
      censorDays, horizonDays)

  /** [[rmstByArm]] as a readout of a persisted/merged span state. */
  def rmstFromState(state: DataFrame, censorDays: Int,
      horizonDays: Int): DataFrame = {
    require(censorDays >= 1, s"censorDays=$censorDays")
    require(horizonDays >= 1, s"horizonDays=$horizonDays")
    val spark = state.sparkSession
    import spark.implicits._
    val lt = spanLifetimes(state, censorDays)
    val hist = lt.groupBy(col("g"), col("t")).agg(
        sum(col("dead")).as("nd"),
        sum(lit(1) - col("dead")).as("nc"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3)))
          .toMap }
    val out = hist.toSeq.sortBy(_._1).map { case (g, h) =>
      var atRisk = h.values.map { case (d, c) => d + c }.sum
      val nUsers = atRisk
      var surv = BigInt(1000000)
      var rmst = BigInt(0)
      (0L until horizonDays.toLong).foreach { t =>
        val (nd, nc) = h.getOrElse(t, (0L, 0L))
        if (atRisk > 0) surv = surv * (atRisk - nd) / atRisk
        rmst += surv
        atRisk -= nd + nc
      }
      (g, nUsers, horizonDays.toLong, rmst.toLong, surv.toLong)
    }
    out.toDF("arm", "n_users", "horizon_days", "rmst_ppm_days",
      "final_surv_ppm")
  }

  /** SPRT — Wald's sequential probability ratio test over per-user
    * conversion, the always-on companion of [[abTest]]'s fixed-horizon
    * z: users become Bernoulli trials in ARRIVAL order (first event
    * ts, user key as the tie), the log-likelihood ratio walks up
    * `upMicro` on a conversion and down `downMicro` otherwise, and the
    * experiment stops at the first trial where the walk leaves
    * (rejectMicro, acceptMicro) — 'h1' above, 'h0' below, 'continue'
    * if the data runs out first. All increments/bounds are
    * caller-supplied micro-nat LITERALS (ln(p1/p0), ln((1−p1)/(1−p0)),
    * ln((1−β)/α), ln(β/(1−α)) computed offline — document them at the
    * call site), so the walk is pure 64-bit integer arithmetic and
    * replays engine-exactly; no runtime float anywhere.
    *
    * Output per arm: total trials, the decision trial (total if no
    * crossing), the walk value there, and the decision.
    *
    * Scale shape: one key-sized user aggregate, then a per-arm ordered
    * cumsum — SPRT is inherently sequential, so the ARM is the
    * parallel grain (a window per arm, never a global sort); the
    * crossing pick and totals are arm-sized aggregates. */
  /** Shared trial reduction of the SPRT family: one Bernoulli trial
    * per user — (u, arm, first-event ts, ever-converted). */
  private def sprtTrials(events: DataFrame, user: String, ts: String,
      typeCol: String, convType: String,
      arm: org.apache.spark.sql.Column): DataFrame =
    events
      .select(col(user).as("u"), col(ts).as("t"),
        arm.cast("int").as("g"),
        (col(typeCol) === convType).cast("int").as("x"))
      // the survival-family null contract ([[survivalSpanState]]):
      // NULL-arm rows drop before the reduction; a user with no
      // non-NULL-arm row is no trial
      .filter(col("u").isNotNull && col("t").isNotNull &&
        col("g").isNotNull)
      .groupBy(col("u"))
      .agg(max(col("g")).as("g"), min(col("t")).as("t0"),
        max(col("x")).as("x"))

  def sprtConversion(events: DataFrame, user: String, ts: String,
      typeCol: String, convType: String, arm: org.apache.spark.sql.Column,
      upMicro: Long, downMicro: Long,
      acceptMicro: Long, rejectMicro: Long): DataFrame = {
    require(upMicro > 0 && downMicro < 0,
      s"upMicro=$upMicro downMicro=$downMicro")
    require(acceptMicro > 0 && rejectMicro < 0,
      s"acceptMicro=$acceptMicro rejectMicro=$rejectMicro")
    val u = sprtTrials(events, user, ts, typeCol, convType, arm)
    val w = Window.partitionBy(col("g")).orderBy(col("t0"), col("u"))
    val walk = u
      .withColumn("n", row_number().over(w).cast("long"))
      .withColumn("llr", sum(when(col("x") === 1, upMicro)
        .otherwise(downMicro)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dec", when(col("llr") >= acceptMicro, "h1")
        .when(col("llr") <= rejectMicro, "h0"))
      .select(col("g"), col("n"), col("llr"), col("dec"))
    val first = walk.filter(col("dec").isNotNull)
      .groupBy(col("g")).agg(min(col("n")).as("n_dec"))
    walk.groupBy(col("g")).agg(max(col("n")).as("n_trials"))
      .join(first, Seq("g"), "left")
      .withColumn("n_at_decision",
        coalesce(col("n_dec"), col("n_trials")))
      .join(walk.select(col("g"), col("n").as("n_at_decision"),
        col("llr"), col("dec")), Seq("g", "n_at_decision"))
      .select(col("g").as("arm"), col("n_trials"),
        col("n_at_decision"), col("llr").as("llr_micro"),
        coalesce(col("dec"), lit("continue")).as("decision"))
  }

  /** SPRT STATE — the always-on seam for [[sprtConversion]]: per arm,
    * everything the monitor must persist to continue the walk on the
    * next batch of NEW users — total trials, the walk's final value,
    * and the first crossing (trial, value, verdict; NULL while the
    * test is still open). The batch contract is the one SPRT itself
    * imposes: a batch carries COMPLETE new users (split by first-event
    * time), because a user's trial is their whole history — the
    * [[graft.operators.TimeSeries.ewmaDailyAppend]] seam at the user
    * grain. */
  def sprtConversionState(events: DataFrame, user: String, ts: String,
      typeCol: String, convType: String, arm: org.apache.spark.sql.Column,
      upMicro: Long, downMicro: Long,
      acceptMicro: Long, rejectMicro: Long): DataFrame = {
    require(upMicro > 0 && downMicro < 0,
      s"upMicro=$upMicro downMicro=$downMicro")
    require(acceptMicro > 0 && rejectMicro < 0,
      s"acceptMicro=$acceptMicro rejectMicro=$rejectMicro")
    val u = sprtTrials(events, user, ts, typeCol, convType, arm)
    val w = Window.partitionBy(col("g")).orderBy(col("t0"), col("u"))
    val walk = u
      .withColumn("n", row_number().over(w).cast("long"))
      .withColumn("llr", sum(when(col("x") === 1, upMicro)
        .otherwise(downMicro)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dec", when(col("llr") >= acceptMicro, "h1")
        .when(col("llr") <= rejectMicro, "h0"))
      .select(col("g"), col("n"), col("llr"), col("dec"))
    val ends = walk.groupBy(col("g"))
      .agg(max(col("n")).as("n_trials"),
        max_by(col("llr"), col("n")).as("llr_final"))
    val first = walk.filter(col("dec").isNotNull)
      .groupBy(col("g")).agg(min(col("n")).as("n_dec"))
    ends.join(first, Seq("g"), "left")
      .join(walk.select(col("g"), col("n").as("n_dec"),
        col("llr").as("llr_dec"), col("dec")), Seq("g", "n_dec"),
        "left")
      .select(col("g").as("arm"), col("n_trials"), col("llr_final"),
        col("n_dec"), col("llr_dec"), col("dec"))
  }

  /** Project a [[sprtConversionState]] frame to [[sprtConversion]]'s
    * report shape. */
  def sprtFromState(state: DataFrame): DataFrame =
    state.select(col("arm"), col("n_trials"),
      coalesce(col("n_dec"), col("n_trials")).as("n_at_decision"),
      coalesce(col("llr_dec"), col("llr_final")).as("llr_micro"),
      coalesce(col("dec"), lit("continue")).as("decision"))

  /** Fold a batch of NEW users onto a persisted [[sprtConversionState]]
    * — cost O(batch), never O(history): the batch walk resumes from
    * the prior's final value and trial count; an arm the prior already
    * decided keeps its verdict (SPRT stops at the first crossing), an
    * open arm looks for its first crossing in the appended segment,
    * and arms seen on only one side pass through. prior ∪ batch must
    * equal [[sprtConversionState]] over the full log row-exactly —
    * the oracle replays the whole walk, so any seam error at the
    * boundary fails the gate. */
  def sprtConversionAppend(prior: DataFrame, events: DataFrame,
      user: String, ts: String, typeCol: String, convType: String,
      arm: org.apache.spark.sql.Column, upMicro: Long, downMicro: Long,
      acceptMicro: Long, rejectMicro: Long): DataFrame = {
    require(upMicro > 0 && downMicro < 0,
      s"upMicro=$upMicro downMicro=$downMicro")
    require(acceptMicro > 0 && rejectMicro < 0,
      s"acceptMicro=$acceptMicro rejectMicro=$rejectMicro")
    val t = sprtTrials(events, user, ts, typeCol, convType, arm)
    val w = Window.partitionBy(col("g")).orderBy(col("t0"), col("u"))
    val p = prior.select(col("arm").as("g"), col("n_trials").as("n1"),
      col("llr_final").as("llr1"), col("n_dec").as("p_n_dec"),
      col("llr_dec").as("p_llr_dec"), col("dec").as("p_dec"))
    val aug = t
      .withColumn("n2", row_number().over(w).cast("long"))
      .withColumn("cum2", sum(when(col("x") === 1, upMicro)
        .otherwise(downMicro)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(p, Seq("g"), "left")
      .withColumn("n", coalesce(col("n1"), lit(0L)) + col("n2"))
      .withColumn("llr", coalesce(col("llr1"), lit(0L)) + col("cum2"))
      .withColumn("dec2", when(col("p_dec").isNotNull,
          lit(null).cast("string"))
        .otherwise(when(col("llr") >= acceptMicro, "h1")
          .when(col("llr") <= rejectMicro, "h0")))
    val ends2 = aug.groupBy(col("g")).agg(
      max(col("n")).as("n_trials2"),
      max_by(col("llr"), col("n")).as("llr_final2"),
      min(when(col("dec2").isNotNull, col("n"))).as("n_dec2"))
      .join(aug.select(col("g"), col("n").as("n_dec2"),
        col("llr").as("llr_dec2"), col("dec2").as("dec2v")),
        Seq("g", "n_dec2"), "left")
    p.join(ends2, Seq("g"), "full_outer")
      .select(col("g").as("arm"),
        coalesce(col("n_trials2"), col("n1")).as("n_trials"),
        coalesce(col("llr_final2"), col("llr1")).as("llr_final"),
        coalesce(col("p_n_dec"), col("n_dec2")).as("n_dec"),
        coalesce(col("p_llr_dec"), col("llr_dec2")).as("llr_dec"),
        coalesce(col("p_dec"), col("dec2v")).as("dec"))
  }

  /** POSITION-BASED (U-shaped) ATTRIBUTION — every touch in a
    * conversion's window gets credit, weighted by POSITION: the
    * introducing first touch and the closing last touch get 40% each,
    * the middles split the remaining 20% evenly — the standard
    * U-shape between [[lastTouchAttribution]]'s winner-take-all and
    * linear's flat split. Credits are exact integer ppm: 10⁶ for a
    * lone touch, 500000/500000 for a pair, else 400000 at the ends
    * and `200000 div (n−2)` per middle (truncating — a conversion's
    * credits may undershoot 10⁶ by ≤ n−3 ppm of deterministic dust,
    * identically in every engine). A touch belongs to the NEXT
    * conversion after it (segments reset at each conversion, so no
    * touch is credited twice) and must fall within `lookbackSec`
    * before it; conversions with no in-window touch attribute
    * nothing. Attributed revenue = Σ value_cents·credit div 10⁶,
    * divided once AFTER the exact product sum.
    *
    * Scale shape: one user-keyed window pass to segment the log, one
    * (user, segment) equi-join of touches to their conversion (each
    * touch meets ≤ 1 conversion), one per-segment window for
    * position/count (segment-sized state), and a channels-sized
    * aggregate. */
  def positionalAttribution(events: DataFrame, user: String, ts: String,
      typeCol: String, tie: String, touchTypes: Seq[String],
      convType: String, valueCol: String,
      lookbackSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touchTypes=$touchTypes convType=$convType")
    require(lookbackSec >= 1, s"lookbackSec=$lookbackSec")
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("tk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events
      .filter(col(typeCol).isin((touchTypes :+ convType): _*))
      .select(col(user).as("u"), unix_micros(col(ts)).as("t"),
        col(tie).as("tk"), col(typeCol).as("et"),
        col(valueCol).as("value"))
      .withColumn("cc",
        sum(when(col("et") === convType, 1L).otherwise(0L)).over(w))
    val touches = base.filter(col("et") =!= convType)
      .select(col("u"), col("cc").as("seg"), col("t").as("touch_t"),
        col("tk").as("touch_tk"), col("et").as("channel"))
    val convs = base.filter(col("et") === convType)
      .select(col("u"), (col("cc") - 1).as("seg"),
        col("t").as("conv_t"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
    val w2 = Window.partitionBy(col("u"), col("seg"))
      .orderBy(col("touch_t"), col("touch_tk"))
    val credited = touches.join(convs, Seq("u", "seg"))
      .filter(col("touch_t") >= col("conv_t") - lit(lookbackSec * 1000000L))
      .withColumn("pos", row_number().over(w2).cast("long"))
      .withColumn("n", count(lit(1)).over(
        w2.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("credit",
        when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("pos") === 1 || col("pos") === col("n"), 400000L)
          .otherwise(expr("200000 div (n - 2)")))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("credit_ppm"),
        expr("cast(sum(cast(value_cents as decimal(38,0)) * credit)" +
          " div 1000000 as bigint)").as("attributed_cents"))
  }
}
