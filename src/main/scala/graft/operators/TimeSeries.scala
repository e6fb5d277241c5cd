package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series warehouse operators over keyed event/measurement logs:
  * calendar resampling with forward fill (the gap-filling every
  * sensor/price/metrics pipeline needs before joins or models) and
  * drawdown (the running-peak shortfall curve). Both are exact integer /
  * per-row arithmetic — fully oracle-replayable.
  *
  * Scale notes: resampling explodes each key's OWN [first, last] day
  * span (map-only `sequence`, the q189 idiom — no range join) and every
  * window is keyed, so cost is Σ_key span-days with one hash shuffle on
  * the key. Drawdown's running max over an unpartitioned frame is
  * applied to the per-DAY aggregate — calendar-bounded (the
  * [[Behavior.rateCusum]] argument), never event-sized. */
object TimeSeries {

  /** Daily forward-fill resample: per key, one row for EVERY calendar
    * day in that key's [first-observation, last-observation] span, each
    * carrying the key's most recent observed value at or before that
    * day (`filled`) plus whether the day had its own observation
    * (`observed`). The day's representative value is the LAST
    * observation of the day by (ts, tie) — deterministic under the
    * unique tie column (max of the (ts, tie, value) struct — one
    * aggregate, no window). Gap days join nothing and inherit via
    * `last(..., ignoreNulls)` over the key's day order — rows-frame,
    * key-sized partitions. NULL-valued observations are treated as
    * gaps, not resets. */
  def resampleDailyFfill(df: DataFrame, key: String, ts: String,
      tie: String, value: String): DataFrame = {
    val daily = df
      .select(col(key).as("k"), Behavior.epochDay(col(ts)).as("d"),
        col(ts).as("t"), col(tie).as("tk"), col(value).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("k"), col("d"))
      .agg(max(struct(col("t"), col("tk"), col("v"))).getField("v")
        .as("day_v"))
    val spans = daily.groupBy(col("k"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = spans
      .withColumn("d", explode(sequence(col("d0"), col("d1"))))
      .select(col("k"), col("d"))
    val w = Window.partitionBy(col("k")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("k", "d"), "left")
      .withColumn("filled", last(col("day_v"), ignoreNulls = true).over(w))
      .select(col("k"), col("d"),
        col("day_v").isNotNull.cast("int").as("observed"), col("filled"))
  }

  /** EXPONENTIALLY-WEIGHTED MOVING AVERAGE of a per-key daily total,
    * EXACT INTEGER — the standard smoothing monitor (Holt's level
    * term; anomaly baselines; "is today's revenue off trend") made
    * oracle-replayable: alpha is the RATIONAL num/den and the
    * recursion is s₁ = x₁; s_t = (num·x_t + (den−num)·s_{t−1}) div
    * den — all-integer with exactly ONE evaluation order (day order),
    * where a float EWMA would drift engine-to-engine. Values must be
    * NON-NEGATIVE (fail-fast): integer division of negatives is
    * truncation-vs-floor ambiguous across engines. The recursion
    * steps on OBSERVED days — compose with [[resampleDailyFfill]]
    * first if gaps should decay the level. Output per (key, observed
    * day): (k, d, x, ewma).
    *
    * Scale shape: one keyed daily aggregate (map-side partials) into
    * a per-key CALENDAR-bounded frame, then a per-key sorted-array
    * scan (collect_list of days — the [[resampleDailyFfill]] regime:
    * thousands of days, never data-sized) exploded back to rows. The
    * scan is [[graft.plans.EwmaScan]], a LINEAR custom expression —
    * SQL `aggregate`'s `acc || array(step)` copies the accumulator
    * every step, O(span²) for a long-lived key (VERDICT r11). An
    * EWMA is inherently sequential per key; the calendar bound is
    * what makes the sequential part safe at any corpus size. */
  def ewmaDaily(df: DataFrame, key: String, ts: String, value: Column,
      num: Int, den: Int): DataFrame = {
    require(num >= 1 && den > num,
      s"alpha = num/den needs 1 <= num < den, got $num/$den")
    ewmaDailyTotals(df, key, ts, value, "ewmaDaily")
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"),
        lit(null).cast("long").as("s0")) // no prior: s1 = x1
      .select(col("k"), explode(graft.plans.ScanExpressions
        .ewma_scan(col("a"), col("s0"), num, den)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.s").as("ewma"))
  }

  /** Shared daily-total stage of [[ewmaDaily]]/[[ewmaDailyAppend]]:
    * (k, d, x) with NULL keys, NULL VALUES and NULL DAYS dropped (a
    * NULL ts has no day — and the engines disagree on where a NULL
    * sorts, so including it would silently seed the recursion
    * differently per engine) and the non-negative contract enforced. */
  private def ewmaDailyTotals(df: DataFrame, key: String, ts: String,
      value: Column, op: String): DataFrame = df
    .select(col(key).as("k"), Behavior.epochDay(col(ts)).as("d"),
      value.cast("long").as("v"))
    .filter(col("k").isNotNull && col("d").isNotNull &&
      col("v").isNotNull)
    .groupBy(col("k"), col("d"))
    .agg(sum(col("v")).as("x0"))
    .withColumn("x", expr(s"if(x0 >= 0, x0, " +
      s"cast(raise_error(concat('$op: negative daily total ', " +
      "x0, ' — integer div on negatives is truncation-vs-floor " +
      "ambiguous across engines; shift or clamp first')) as bigint))"))

  /** EWMA CONTROL CHART over a per-key daily total — the self-tuning
    * anomaly monitor beside [[graft.operators.Behavior.rateCusum]]
    * (CUSUM detects sustained shifts; this flags single-day spikes
    * against a level AND scale that both adapt): per observed day,
    * level s_t = (num·x_t + (den−num)·s_{t−1}) div den ([[ewmaDaily]]'s
    * recursion), residual r_t = |x_t − s_{t−1}| against the PRIOR
    * level, deviation dev_t = EWMA of the residuals (devNum/devDen),
    * and flag_t = 1 when r_t > kSigma·dev_{t−1} — the PRIOR deviation,
    * so a spike cannot inflate its own threshold — after `warmup`
    * prior observations and only while dev_{t−1} > 0 (a perfectly
    * constant history has no scale to test against; the first break
    * of a constant series trains the scale instead of flagging — the
    * standard self-tuned-chart cold start, document it to your
    * on-call). ALL-INTEGER recursions in strict day order, so every
    * row replays engine-exactly (recursive-CTE oracle). Output per
    * (key, observed day): (k, d, x, ewma, r, dev, flag).
    *
    * Scale shape: identical to [[ewmaDaily]] — one keyed daily
    * aggregate into a CALENDAR-bounded per-key sorted fold. */
  def ewmaControlChart(df: DataFrame, key: String, ts: String,
      value: Column, num: Int, den: Int, devNum: Int, devDen: Int,
      kSigma: Int, warmup: Int): DataFrame = {
    require(num >= 1 && den > num,
      s"level alpha = num/den needs 1 <= num < den, got $num/$den")
    require(devNum >= 1 && devDen > devNum,
      s"dev alpha needs 1 <= devNum < devDen, got $devNum/$devDen")
    require(kSigma >= 1 && warmup >= 1, s"kSigma=$kSigma warmup=$warmup")
    ewmaDailyTotals(df, key, ts, value, "ewmaControlChart")
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"))
      .select(col("k"), explode(graft.plans.ScanExpressions
        .ewma_chart_scan(col("a"), num, den, devNum, devDen, kSigma,
          warmup)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.s").as("ewma"), col("e.r").as("r"),
        col("e.dev").as("dev"), col("e.flag").as("flag"))
  }

  /** Incremental continuation of [[ewmaDaily]] — the STATE form: fold
    * NEW daily totals on top of each key's persisted level. An EWMA is
    * ORDER-DEPENDENT, so unlike the mergeable sufficient-stats states
    * ([[graft.operators.Labeling.mergeLabelState]], [[graft.operators
    * .Behavior.mergeExperimentState]]) its maintenance form is ordered
    * APPEND, not merge: every incoming day must land STRICTLY AFTER
    * the key's stored last day (fail-fast otherwise — an overlapping
    * or out-of-order day cannot be folded into an already-collapsed
    * level without silently changing history). `prior` is the
    * (k, d, x, ewma) output of a previous [[ewmaDaily]] /
    * [[ewmaDailyAppend]] run — only each key's LAST row is read; keys
    * with no prior start fresh at s₁ = x₁. Returns ONLY the new days'
    * rows; prior ∪ appended is value-identical to re-running
    * [[ewmaDaily]] over the concatenated history (spec- and
    * oracle-pinned, q270).
    *
    * Scale shape: one keyed daily aggregate over the INCREMENT, one
    * keys-sized max-struct reduction of the prior, one keyed join,
    * then the same calendar-bounded per-key fold as [[ewmaDaily]] —
    * cost is O(increment + keys), never O(history). */
  def ewmaDailyAppend(prior: DataFrame, df: DataFrame, key: String,
      ts: String, value: Column, num: Int, den: Int): DataFrame = {
    require(num >= 1 && den > num,
      s"alpha = num/den needs 1 <= num < den, got $num/$den")
    val last = prior.groupBy(col("k"))
      .agg(max(struct(col("d"), col("ewma"))).as("m"))
      .select(col("k"), col("m.d").as("d0"), col("m.ewma").as("s0"))
    ewmaDailyTotals(df, key, ts, value, "ewmaDailyAppend")
      .join(last, Seq("k"), "left")
      // the append contract: folding an already-collapsed day would
      // silently rewrite history — refuse instead
      .withColumn("d", expr("if(d0 is null or d > d0, d, " +
        "cast(raise_error(concat('ewmaDailyAppend: day ', d, " +
        "' does not land after the stored last day ', d0, " +
        "' — the EWMA recursion is append-only')) as bigint))"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"),
        max(col("s0")).as("s0")) // constant per key after the join
      .select(col("k"), explode(graft.plans.ScanExpressions
        .ewma_scan(col("a"), col("s0"), num, den)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.s").as("ewma"))
  }

  /** HOLT LINEAR TREND (double exponential smoothing, Holt 1957) of a
    * per-key daily total, EXACT INTEGER — the level+trend forecaster
    * beside [[ewmaDaily]] (an EWMA permanently LAGS a drifting series;
    * Holt's trend term follows the drift): per observed day,
    * f_t = l_{t−1} + b_{t−1} (the one-step-ahead forecast — compare
    * against x_t for the forecast-error monitor), then
    * l_t = tdiv(aNum·x_t + (aDen−aNum)·f_t, aDen) and
    * b_t = tdiv(bNum·(l_t − l_{t−1}) + (bDen−bNum)·b_{t−1}, bDen),
    * seeded l₁ = x₁, b₁ = 0, f₁ = x₁. Unlike the EWMA recursions the
    * TREND is signed, so every division is the sign-safe truncation
    * tdiv(v, den) = sign(v)·(|v| div den) — replayable on any engine
    * without the truncation-vs-floor ambiguity ([[graft.plans
    * .HoltScan]] has the portable oracle form). Daily totals keep the
    * non-negative contract of the family. Output per (key, observed
    * day): (k, d, x, level, trend, forecast).
    *
    * Scale shape: identical to [[ewmaDaily]] — one keyed daily
    * aggregate into a calendar-bounded per-key LINEAR scan. */
  def holtDaily(df: DataFrame, key: String, ts: String, value: Column,
      aNum: Int, aDen: Int, bNum: Int, bDen: Int): DataFrame = {
    require(aNum >= 1 && aDen > aNum,
      s"level alpha needs 1 <= aNum < aDen, got $aNum/$aDen")
    require(bNum >= 1 && bDen > bNum,
      s"trend beta needs 1 <= bNum < bDen, got $bNum/$bDen")
    ewmaDailyTotals(df, key, ts, value, "holtDaily")
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"),
        lit(null).cast("long").as("l0"), // no prior: l1 = x1, b1 = 0
        lit(null).cast("long").as("b0"))
      .select(col("k"), explode(graft.plans.ScanExpressions
        .holt_scan(col("a"), col("l0"), col("b0"), aNum, aDen, bNum,
          bDen)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.l").as("level"), col("e.b").as("trend"),
        col("e.f").as("forecast"))
  }

  /** HOLT–WINTERS ADDITIVE (triple exponential smoothing, Winters
    * 1960) of a per-key daily total, EXACT INTEGER — the seasonal
    * rung above [[holtDaily]] (a Holt forecast permanently mis-times
    * a weekly cycle; the seasonal slots absorb it). Seasonal state is
    * SLOT-KEYED by d mod period (weekday identity survives calendar
    * gaps), seeded level = x₁, trend = 0, seasonals = 0; every
    * division is the sign-safe truncation (trend and seasonals are
    * signed) — see [[graft.plans.HoltWintersScan]] for the recursion
    * and its portable oracle form. Output per (key, observed day):
    * (k, d, x, level, trend, seasonal, forecast) where seasonal is
    * the day's UPDATED slot and forecast the one-step-ahead
    * prediction made before seeing x.
    *
    * Scale shape: identical to [[ewmaDaily]] — one keyed daily
    * aggregate into a calendar-bounded per-key LINEAR scan. */
  def holtWintersDaily(df: DataFrame, key: String, ts: String,
      value: Column, aNum: Int, aDen: Int, bNum: Int, bDen: Int,
      gNum: Int, gDen: Int, period: Int = 7): DataFrame = {
    require(aNum >= 1 && aDen > aNum,
      s"level alpha needs 1 <= aNum < aDen, got $aNum/$aDen")
    require(bNum >= 1 && bDen > bNum,
      s"trend beta needs 1 <= bNum < bDen, got $bNum/$bDen")
    require(gNum >= 1 && gDen > gNum,
      s"seasonal gamma needs 1 <= gNum < gDen, got $gNum/$gDen")
    ewmaDailyTotals(df, key, ts, value, "holtWintersDaily")
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"))
      .select(col("k"), explode(graft.plans.ScanExpressions
        .holt_winters_scan(col("a"), lit(null).cast("long"),
          lit(null).cast("long"), lit(null).cast("array<bigint>"),
          aNum, aDen, bNum, bDen, gNum, gDen, period)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.l").as("level"), col("e.b").as("trend"),
        col("e.s").as("seasonal"), col("e.f").as("forecast"))
  }

  /** Incremental continuation of [[holtWintersDaily]] — the STATE
    * form, the [[holtDailyAppend]] pattern with a THREE-component
    * state: fold NEW daily totals on top of each key's persisted
    * (level, trend, seasonal ring). The ring is reconstructed from
    * the prior's rows by slot — each (key, d mod period)'s LATEST
    * seasonal — so the state is exactly what a re-run would have held;
    * slots never observed stay 0 (the fresh seed). Ordered APPEND
    * with the family's fail-fast on a day at or before the stored
    * last day. `prior` is the (k, d, x, level, trend, seasonal,
    * forecast) output of a previous [[holtWintersDaily]] /
    * [[holtWintersDailyAppend]] run; keys with no prior start fresh.
    * Returns ONLY the new days' rows; prior ∪ appended is
    * value-identical to re-running [[holtWintersDaily]] over the
    * concatenated history (spec- and oracle-pinned, q290). Cost
    * O(increment + keys·period). */
  def holtWintersDailyAppend(prior: DataFrame, df: DataFrame,
      key: String, ts: String, value: Column, aNum: Int, aDen: Int,
      bNum: Int, bDen: Int, gNum: Int, gDen: Int,
      period: Int = 7): DataFrame = {
    require(aNum >= 1 && aDen > aNum,
      s"level alpha needs 1 <= aNum < aDen, got $aNum/$aDen")
    require(bNum >= 1 && bDen > bNum,
      s"trend beta needs 1 <= bNum < bDen, got $bNum/$bDen")
    require(gNum >= 1 && gDen > gNum,
      s"seasonal gamma needs 1 <= gNum < gDen, got $gNum/$gDen")
    val last = prior.groupBy(col("k"))
      .agg(max(struct(col("d"), col("level"), col("trend"))).as("m"))
      .select(col("k"), col("m.d").as("d0"), col("m.level").as("l0"),
        col("m.trend").as("b0"))
    // the seasonal ring: each slot's LATEST value, scattered into a
    // period-sized array (missing slots 0 — the fresh-seed value)
    val ring = prior
      .groupBy(col("k"), pmod(col("d"), lit(period.toLong))
        .cast("int").as("dow"))
      .agg(max(struct(col("d"), col("seasonal"))).as("m"))
      .groupBy(col("k"))
      .agg(map_from_entries(collect_list(struct(col("dow"),
        col("m.seasonal")))).as("smap"))
      .select(col("k"), expr(s"transform(sequence(0, ${period - 1}), " +
        "i -> coalesce(smap[cast(i as int)], 0L))").as("seas0"))
    ewmaDailyTotals(df, key, ts, value, "holtWintersDailyAppend")
      .join(last, Seq("k"), "left")
      .join(ring, Seq("k"), "left")
      .withColumn("d", expr("if(d0 is null or d > d0, d, " +
        "cast(raise_error(concat('holtWintersDailyAppend: day ', d, " +
        "' does not land after the stored last day ', d0, " +
        "' — the Holt-Winters recursion is append-only')) as bigint))"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"),
        max(col("l0")).as("l0"), // constant per key after the join
        max(col("b0")).as("b0"),
        first(col("seas0")).as("seas0"))
      .select(col("k"), explode(graft.plans.ScanExpressions
        .holt_winters_scan(col("a"), col("l0"), col("b0"),
          col("seas0"), aNum, aDen, bNum, bDen, gNum, gDen,
          period)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.l").as("level"), col("e.b").as("trend"),
        col("e.s").as("seasonal"), col("e.f").as("forecast"))
  }

  /** HOLT–WINTERS ONE-STEP BACKTEST — the skill check that keeps a
    * forecaster honest (the MASE idea, Hyndman & Koehler 2006, in
    * exact integers): per key, the model's one-step forecast MAE
    * against the SEASONAL-NAIVE baseline (x seven observations back —
    * the forecast you get for free), over the rows where both are
    * defined (rn > period). skill_ppm = mae_model·10⁶ div mae_naive:
    * under 10⁶ the model beats the baseline; NULL when the naive
    * error is zero (a perfectly periodic series — no skill to
    * measure). All integer cents; the observation-lag form (not
    * calendar-lag) is deliberate: it is defined on gappy histories
    * and equals calendar lag on dense ones.
    *
    * Scale shape: [[holtWintersDaily]]'s keyed scan, one keyed window
    * (calendar-bounded partitions), one key-sized aggregate. */
  def holtWintersBacktest(df: DataFrame, key: String, ts: String,
      value: Column, aNum: Int, aDen: Int, bNum: Int, bDen: Int,
      gNum: Int, gDen: Int, period: Int = 7): DataFrame = {
    val hw = holtWintersDaily(df, key, ts, value, aNum, aDen, bNum,
      bDen, gNum, gDen, period)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("d"))
    hw.withColumn("x7", lag(col("x"), period).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > period)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("forecast") - col("x"))).as("eh"),
        sum(abs(col("x7") - col("x"))).as("es"))
      .select(col("k"), col("n"),
        expr("eh div n").as("mae_hw_cents"),
        expr("es div n").as("mae_snaive_cents"),
        expr("case when es > 0 then cast(cast(eh as decimal(38,0))" +
          " * 1000000 div es as bigint) end").as("skill_ppm"))
  }

  /** Incremental continuation of [[holtDaily]] — the STATE form, the
    * [[ewmaDailyAppend]] pattern with a TWO-component state: fold NEW
    * daily totals on top of each key's persisted (level, trend). Holt
    * is order-dependent, so maintenance is ordered APPEND with the
    * same fail-fast on a day at or before the stored last day.
    * `prior` is the (k, d, x, level, trend, forecast) output of a
    * previous [[holtDaily]] / [[holtDailyAppend]] run — only each
    * key's LAST row is read; keys with no prior start fresh. Returns
    * ONLY the new days' rows; prior ∪ appended is value-identical to
    * re-running [[holtDaily]] over the concatenated history (spec-
    * and oracle-pinned, q277). Cost O(increment + keys). */
  def holtDailyAppend(prior: DataFrame, df: DataFrame, key: String,
      ts: String, value: Column, aNum: Int, aDen: Int, bNum: Int,
      bDen: Int): DataFrame = {
    require(aNum >= 1 && aDen > aNum,
      s"level alpha needs 1 <= aNum < aDen, got $aNum/$aDen")
    require(bNum >= 1 && bDen > bNum,
      s"trend beta needs 1 <= bNum < bDen, got $bNum/$bDen")
    val last = prior.groupBy(col("k"))
      .agg(max(struct(col("d"), col("level"), col("trend"))).as("m"))
      .select(col("k"), col("m.d").as("d0"), col("m.level").as("l0"),
        col("m.trend").as("b0"))
    ewmaDailyTotals(df, key, ts, value, "holtDailyAppend")
      .join(last, Seq("k"), "left")
      .withColumn("d", expr("if(d0 is null or d > d0, d, " +
        "cast(raise_error(concat('holtDailyAppend: day ', d, " +
        "' does not land after the stored last day ', d0, " +
        "' — the Holt recursion is append-only')) as bigint))"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("a"),
        max(col("l0")).as("l0"), // constant per key after the join
        max(col("b0")).as("b0"))
      .select(col("k"), explode(graft.plans.ScanExpressions
        .holt_scan(col("a"), col("l0"), col("b0"), aNum, aDen, bNum,
          bDen)).as("e"))
      .select(col("k"), col("e.d").as("d"), col("e.x").as("x"),
        col("e.l").as("level"), col("e.b").as("trend"),
        col("e.f").as("forecast"))
  }

  /** Drawdown curve of a daily total: per day, the running peak of the
    * cumulative-to-date daily aggregate and the shortfall from it —
    * drawdown_d = max_{j≤d}(v_j) − v_d, the classic "how far below the
    * best day are we" monitor (finance equity curves, throughput
    * regressions). `value` is quantized to integer cents (×100) before
    * the day sum, so peaks and shortfalls are exact 64-bit integers.
    * Both windows run on the days-sized aggregate — calendar-bounded,
    * not data-bounded ([[Behavior.rateCusum]]'s regime). */
  def dailyDrawdown(df: DataFrame, ts: String, value: Column): DataFrame = {
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("revenue_cents"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak_cents", max(col("revenue_cents")).over(w))
      .withColumn("drawdown_cents",
        col("peak_cents") - col("revenue_cents"))
  }

  /** SEASONAL-NAIVE BACKTEST — the forecasting floor every pipeline
    * must beat before shipping a model: forecast_d = value_{d−period}
    * (same day last week for period 7), scored over every day where
    * both the actual and the lagged day were observed. One row:
    * paired-day count, exact integer error sums (signed bias and
    * absolute), MAE in cents, and MAPE in ppm (per-day |e|·10⁶ div
    * actual, integer-averaged; days with actual ≤ 0 are excluded from
    * the MAPE terms and counted in `n_nonpos` — a ratio against a
    * non-positive base is undefined, not zero).
    *
    * Determinism: every metric is exact 64-bit integer arithmetic —
    * integer `div` only ever sees NON-NEGATIVE operands (sums of
    * absolute values), because truncating (Spark) and flooring
    * (DuckDB) division disagree on negatives; the signed bias is
    * therefore reported as the raw sum, not a mean. Scale: one
    * key-sized day aggregate, one calendar-sized self equi-join. */
  def seasonalNaiveBacktest(df: DataFrame, ts: String, value: Column,
      period: Int): DataFrame = {
    require(period >= 1, s"period=$period")
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
    val paired = daily
      .join(daily.select((col("d") + period).as("d"),
        col("cents").as("fc")), "d")
    paired.agg(
      lit(period).as("period"),
      count(lit(1)).as("n_days"),
      sum(abs(col("cents") - col("fc"))).as("sum_abs_err_cents"),
      sum(col("cents") - col("fc")).as("sum_err_cents"),
      expr("sum(abs(cents - fc)) div count(1)").as("mae_cents"),
      coalesce(
        expr("sum(CASE WHEN cents > 0 THEN abs(cents - fc) * 1000000 " +
          "div cents END) div count(CASE WHEN cents > 0 THEN 1 END)"),
        lit(null).cast("long")).as("mape_ppm"),
      count(when(col("cents") <= 0, 1)).as("n_nonpos"))
      .select(col("period"), col("n_days"), col("sum_abs_err_cents"),
        col("sum_err_cents"), col("mae_cents"), col("mape_ppm"),
        col("n_nonpos"))
  }

  /** THEIL'S U₂ FORECAST SKILL (Theil 1966) — the one-number verdict
    * on [[seasonalNaiveBacktest]]'s MAE/MAPE rows: does the
    * seasonal-naive (period-`period`) forecast BEAT the 1-step naive
    * (predict yesterday)? U = √(SSE_seasonal / SSE_naive1) over the
    * days where BOTH forecasts exist (same population — a skill
    * comparison on different day sets is meaningless); U < 1 = the
    * seasonal structure is real signal, U ≥ 1 = "yesterday" already
    * explains it (q245's weekday profile is decoration, not lift).
    * Squared-error sums are exact DECIMAL(38,0) integers (daily-cents
    * errors square past a long at scale); the ONE mirrored float
    * chain — √(sse_s/sse_1), integer-micro rounded — is the q327 MCC
    * convention (both engines round the same ≤ 2¹²⁶ integer to the
    * same double). The reported dispersions are RMSEs in cents
    * (long-bounded at any scale — the raw SSEs outgrow a BIGINT at
    * 100×, so they stay internal). NULL u when SSE_naive1 = 0 (the
    * exact-integer zero test) or no paired days. One row: (n_days,
    * rmse_seasonal_cents, rmse_naive1_cents, u_micro).
    *
    * Scale shape: one key-sized daily aggregate, two calendar-bounded
    * self-equi-joins of the days frame, a 1-row fold. */
  def theilU(df: DataFrame, ts: String, value: Column,
      period: Int): DataFrame = {
    require(period >= 2, s"period=$period (1 would compare the " +
      "naive-1 forecast with itself)")
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
    val both = daily
      .join(daily.select((col("d") + period).as("d"),
        col("cents").as("fs")), "d")
      .join(daily.select((col("d") + 1).as("d"),
        col("cents").as("f1")), "d")
    both.agg(count(lit(1)).as("n_days"),
        sum(expr("cast(cents - fs as decimal(38,0)) * (cents - fs)"))
          .as("ss"),
        sum(expr("cast(cents - f1 as decimal(38,0)) * (cents - f1)"))
          .as("s1"))
      .select(col("n_days"),
        when(col("n_days") > 0, round(sqrt(
          col("ss").cast("double") / col("n_days")), 0).cast("long"))
          .as("rmse_seasonal_cents"),
        when(col("n_days") > 0, round(sqrt(
          col("s1").cast("double") / col("n_days")), 0).cast("long"))
          .as("rmse_naive1_cents"),
        when(col("n_days") > 0 && col("s1") > 0,
          round(sqrt(col("ss").cast("double") /
            col("s1").cast("double")) * 1e6, 0).cast("long"))
          .as("u_micro"))
  }

  /** Sample AUTOCORRELATION of the daily value series at lags
    * 1..`maxLag` — the seasonality / persistence profile ("is revenue
    * weekly-periodic", "how sticky is yesterday's error rate") that
    * pairs with [[dailyDrawdown]] and [[Behavior.rateCusum]] on the
    * same per-day aggregate. For each lag k, the Pearson correlation
    * of (x_d, x_{d+k}) over all day pairs where BOTH days were
    * observed (gap days pair with nothing — the available-case sample
    * ACF; run [[resampleDailyFfill]] first if imputed-gap semantics
    * are wanted).
    *
    * Exactness ([[Profiling.correlationMatrix]]'s contract): values
    * quantized to integer cents at aggregation; each lag's five
    * sufficient statistics accumulate as DECIMAL(38,0) — exact 128-bit
    * integers in both engines — and the only float step is the final
    * per-lag corr division, fixed op order, rounded 6 dp. A lag with
    * < 2 pairs or zero variance on either margin reports NULL corr; a
    * lag no day pair reaches at all (beyond the observed span) emits
    * no row.
    *
    * Scale shape: ONE key-sized day aggregate of the log, then the
    * days-sized series explodes each row into its `maxLag` lag keys
    * (map-only) and equi-joins the series once — calendar × maxLag
    * work, independent of event volume; the per-lag aggregate is
    * maxLag rows. */
  def autocorrelation(df: DataFrame, ts: String, value: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag")
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    // x side explodes into (lag, d + lag) probe keys; y side joins by
    // its own day — pairs (x_d, y_{d+k}) exist iff both days observed
    val pairs = daily
      .select(col("d"), col("cents").as("x"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("d2", col("d") + col("lag"))
      .join(daily.select(col("d").as("d2"), col("cents").as("y")), "d2")
    val agg = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
    def d(name: String) = col(name).cast("double")
    val num = d("n_pairs") * d("sxy") - d("sx") * d("sy")
    val den = sqrt(
      (d("n_pairs") * d("sxx") - d("sx") * d("sx")) *
        (d("n_pairs") * d("syy") - d("sy") * d("sy")))
    agg.select(col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2 && den =!= 0.0,
        round(num / den, 6) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("acf"))
  }

  /** LINEAR-INTERPOLATION resample — [[resampleDailyFfill]]'s twin for
    * metrics where a straight line beats a step (sensor readings,
    * balances): per key, one row per calendar day of the observation
    * span; a gap day gets `pv + (nv − pv)·(d − pd) div (nd − pd)`
    * between its observed neighbors, on INTEGER values (the caller
    * pre-quantizes, e.g. to cents) with a DECIMAL(38,0) numerator and
    * truncating div — engine-exact, no float-lerp drift. Interior gaps
    * only by construction: the grid spans min..max observed day, so
    * every gap has both neighbors. NULL observations are gaps.
    *
    * Same scale shape as ffill: key-sized day aggregate, map-only span
    * explode, ONE keyed window sort shared by the backward and forward
    * fills (same partitioning + order, frames differ). */
  def resampleDailyInterp(df: DataFrame, key: String, ts: String,
      tie: String, value: String): DataFrame = {
    val daily = df
      .select(col(key).as("k"), Behavior.epochDay(col(ts)).as("d"),
        col(ts).as("t"), col(tie).as("tk"),
        col(value).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("k"), col("d"))
      .agg(max(struct(col("t"), col("tk"), col("v"))).getField("v")
        .as("day_v"))
    val spans = daily.groupBy(col("k"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = spans
      .withColumn("d", explode(sequence(col("d0"), col("d1"))))
      .select(col("k"), col("d"))
    val wb = Window.partitionBy(col("k")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("k")).orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsD = when(col("day_v").isNotNull, col("d"))
    grid.join(daily, Seq("k", "d"), "left")
      .withColumn("pv", last(col("day_v"), ignoreNulls = true).over(wb))
      .withColumn("pd", last(obsD, ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("day_v"), ignoreNulls = true).over(wf))
      .withColumn("nd", first(obsD, ignoreNulls = true).over(wf))
      .select(col("k"), col("d"),
        col("day_v").isNotNull.cast("int").as("observed"),
        when(col("day_v").isNotNull, col("day_v"))
          .otherwise(expr("pv + cast(cast(nv - pv as decimal(38,0))" +
            " * (d - pd) div (nd - pd) as bigint)"))
          .as("value"))
  }

  /** DAY-OF-WEEK seasonality profile — the calendar decomposition that
    * pairs with [[autocorrelation]] (ACF says IF a weekly cycle
    * exists; this says WHAT it looks like): per weekday, observed-day
    * count, total integer cents, exact mean cents (truncating div),
    * and the seasonality index (total_dow·n_days_all)·10⁶ div
    * (n_days_dow·total_all) — mean-vs-overall-mean in one exact
    * DECIMAL division (10⁶ = an average day). Weekday from pure
    * integer arithmetic: dow = (epochDay + 3) mod 7 with 0 = Monday
    * (epoch day 0 was a Thursday) — no timezone/locale function to
    * disagree on.
    *
    * Scale shape: one day aggregate of the log, then a 7-row
    * reduction. */
  def weekdayProfile(df: DataFrame, ts: String, value: Column)
      : DataFrame = {
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("c"))
    val byDow = daily.groupBy(pmod(col("d") + 3, lit(7)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total_cents"))
    val tot = byDow.agg(sum(col("n_days")).as("nd_all"),
      sum(col("total_cents")).as("tot_all"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("total_cents"),
        expr("total_cents div n_days").as("mean_cents"),
        expr("cast(cast(total_cents as decimal(38,0)) * nd_all" +
          " * 1000000 div (cast(n_days as decimal(38,0)) * tot_all)" +
          " as bigint)").as("index_ppm"))
  }

  /** MAD OUTLIER DAYS — robust anomaly screen on the daily total:
    * flag days beyond median ± k·MAD, where both the median and the
    * median absolute deviation are EXACT integer k-th-smallest values
    * via the shared histogram refinement ([[graft.operators.Profiling
    * .exactQuantiles]], lower median ⌈n/2⌉) — the
    * breakdown-point-50% alternative to [[graft.operators.Behavior
    * .rateCusum]]'s mean/slack parameters and the z-score screen's
    * outlier-inflated σ (one flash-sale day can't widen this fence).
    * Returns ONLY the flagged days with the fence that caught them:
    * (d, cents, median_cents, mad_cents, side ∈ {'high','low'}).
    *
    * Scale shape: one day aggregate (calendar-bounded, pinned), two
    * log-bounded refinement loops over it, one final filter — no
    * global sort. */
  def madOutlierDays(df: DataFrame, ts: String, value: Column,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k=$k")
    val daily = Pin(df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents")))
    val med = Profiling.exactQuantiles(daily, col("cents"), Seq(0.5))
      .select(col("value")).collect()(0).getLong(0)
    val mad = Profiling.exactQuantiles(
        daily.select(abs(col("cents") - med).as("dev")), col("dev"),
        Seq(0.5))
      .select(col("value")).collect()(0).getLong(0)
    daily
      .filter(col("cents") > med + k.toLong * mad ||
        col("cents") < med - k.toLong * mad)
      .select(col("d"), col("cents"), lit(med).as("median_cents"),
        lit(mad).as("mad_cents"),
        when(col("cents") > med + k.toLong * mad, lit("high"))
          .otherwise(lit("low")).as("side"))
  }

  /** THEIL–SEN robust trend of the daily value series (Theil 1950; Sen,
    * JASA 1968): the median of all pairwise slopes (c_j − c_i)/(d_j −
    * d_i) over observed day pairs i < j — the outlier-resistant
    * alternative to [[Learn]]'s OLS trend (29% breakdown point vs 0%:
    * one flash-sale day cannot drag it). All-integer: values quantize
    * to day-sum cents, each slope is micro-cents/day with truncating
    * `div` semantics (DuckDB's `//` truncates identically for negative
    * operands); the median is the exact k = ⌈n/2⌉-th smallest (lower
    * median — no float averaging of middle pairs). One row: n_days,
    * n_pairs, median / min / max slope. Requires ≥ 2 observed days.
    *
    * The slope arithmetic has two bit-identical forms, chosen from the
    * day-sum span (one tiny aggregate over the pinned days): the LONG
    * decomposition `q·10⁶ + (r·10⁶ div Δd)` where q and r are the
    * quotient/remainder of (cb−ca) div (db−da) — valid because q, r
    * and the dividend share a sign under truncation, so the split
    * never crosses zero; it equals `(cb−ca)·10⁶ div Δd` exactly — and
    * the DECIMAL(38,0) numerator fallback for day-sum spans above
    * 2⁶³/10⁶ cents (≈ $92 B/day), where q·10⁶ could wrap. The long
    * form is ~7× cheaper per row (measured at sf0.1: 0.35 s vs 2.4 s
    * per pairs pass), and the fallback keeps the overflow-proof claim.
    * `nullif(Δd, 0)` guards ANSI division even if an optimizer pushes
    * a downstream range filter into the join condition ahead of
    * `da < db` (observed under predicate fusion).
    *
    * Scale shape: ONE key-sized day aggregate of the log (pinned —
    * it is CALENDAR-bounded, ≤ 3.7k rows/decade), then the O(days²/2)
    * broadcast theta-join computed ONCE and pinned as plain longs
    * (the decimal→long change cut the materialization 2.8 s → 0.6 s
    * at sf0.1); n_pairs is closed form (n_days·(n_days−1)/2), min/max
    * are one aggregate over the pinned longs, and the median is the
    * shared histogram refinement ([[graft.operators.Profiling
    * .exactQuantiles]]'s log-bounded filtered aggregates) — never a
    * global sort (the r10 bench finding: a single-partition ranking
    * window over calendar² pairs was the query's wall-clock). Folding
    * min/max into the refinement as k=1/k=n quantiles was MEASURED
    * SLOWER (2.0 s vs 0.3+1.1 s): the ±10¹⁵ slope span makes extreme-
    * order statistics pay extra multi-probe explode rounds. */
  def theilSenTrend(df: DataFrame, ts: String, value: Column): DataFrame =
      Pin.scope {
    val daily = Pin(df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("c")))
    val st = daily.agg(count(lit(1)), min(col("c")), max(col("c")))
      .collect()(0)
    val nDays = st.getLong(0)
    require(nDays >= 2, s"theilSenTrend needs >= 2 observed days ($nDays)")
    val nPairs = nDays * (nDays - 1) / 2
    val longSafe =
      st.getLong(2) - st.getLong(1) <= Long.MaxValue / 1000000L - 1
    val slopeExpr =
      if (longSafe) expr(
        "(cb - ca) div nullif(db - da, 0) * 1000000L + " +
          "((cb - ca) % nullif(db - da, 0)) * 1000000L" +
          " div nullif(db - da, 0)")
      else expr("cast(cast(cb - ca as decimal(38,0)) * 1000000" +
        " div nullif(db - da, 0) as bigint)")
    val a = daily.select(col("d").as("da"), col("c").as("ca"))
    val b = daily.select(col("d").as("db"), col("c").as("cb"))
    val slopes = Pin(a.join(broadcast(b), col("da") < col("db"))
      .select(slopeExpr.as("slope_micro")))
    // ONE stats pass serves both the output min/max AND the median
    // refinement's seed (n_pairs is closed form) — without the seed,
    // exactQuantilesMulti would re-scan the pairs for its own stats
    val st2 = slopes.agg(min(col("slope_micro")),
      max(col("slope_micro"))).collect()(0)
    val (minS, maxS) = (st2.getLong(0), st2.getLong(1))
    val med = Profiling.exactQuantilesMulti(
        slopes.select(col("slope_micro").as("v")), Seq("v"), Seq(0.5),
        fanout = 65536, seeds = Some(Seq((nPairs, minS, maxS))))
      .select(col("value").as("median_slope_micro"))
    med.select(lit(nDays).as("n_days"), lit(nPairs).as("n_pairs"),
      col("median_slope_micro"),
      lit(minS).as("min_slope_micro"), lit(maxS).as("max_slope_micro"))
  }

  /** DAY-OF-WEEK SEASONAL PROFILE — the weekly seasonal index of the
    * daily cents series: per weekday (0 = Monday; epoch day 0 was a
    * Thursday, so dow = (d + 3) mod 7), the mean daily total
    * relative to the overall mean daily total in EXACT ppm,
    *   idx_ppm = (Σ_dow cents · n_days_all · 10⁶)
    *             div (Σ_all cents · n_days_dow)
    * (DECIMAL(38,0) numerators — one cross-multiplied truncating
    * division, never two float means). 10⁶ = an average day;
    * the classical seasonal-naive/STL first factor and the weekly
    * companion of [[autocorrelation]]'s lag-7 reading — if acf(7) is
    * high, THIS table says which days carry it.
    *
    * Scale shape: one key-sized day aggregate, one 7-row aggregate,
    * one 1-row total broadcast. */
  def dayOfWeekProfile(df: DataFrame, ts: String,
      value: Column): DataFrame = {
    val daily = df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("c"))
    val byDow = daily
      .groupBy(pmod(col("d") + 3, lit(7)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("cents"))
    val tot = byDow.agg(sum(col("n_days")).as("n_all"),
      sum(col("cents")).as("c_all"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("cents"),
        expr("cast(cast(cents as decimal(38,0)) * n_all * 1000000" +
          " div (cast(c_all as decimal(38,0)) * n_days) as bigint)")
          .as("seasonal_ppm"))
  }

  /** LJUNG–BOX PORTMANTEAU TEST (Ljung & Box, Biometrika 1978) over
    * [[autocorrelation]]'s daily-cents ACF — "is the series white
    * noise at all lags up to maxLag", the one-number companion of
    * q217's per-lag table (the residual-diagnostics gate every
    * forecast backtest should run). Engine-exact via re-integerization:
    * the ACF values are ALREADY rounded to 6 decimals, so
    * ρ_micro = round(acf·10⁶) is exact in both engines, each lag's
    * term ρ_micro² div (n − k) is one truncating division, and
    * Q_micro = n(n+2)·Σ terms div 10⁶ runs in DECIMAL(38,0) — the
    * statistic is DEFINED over the rounded ACF (documented; the
    * difference from the unrounded form is below the reporting
    * precision). Degenerate lags (NULL acf, or k ≥ n) contribute
    * zero. The χ²(maxLag) p-value needs only (q_micro, n_lags) —
    * left to the caller, the [[Behavior.ksTest]] convention.
    *
    * Scale shape: [[autocorrelation]]'s calendar-bounded lag table +
    * one maxLag-row aggregate. */
  def ljungBox(df: DataFrame, ts: String, value: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag")
    val n = df
      .select(Behavior.epochDay(col(ts)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"))
    // aggregate the ACF frame FIRST (count + term sum can be empty →
    // (0, NULL)), then crossJoin the always-1-row n frame so a
    // degenerate series (no lag has a pair) still reads (n, 0, 0) —
    // matching the oracle — instead of (NULL, 0, NULL) (ADVICE r14)
    val acfAgg = autocorrelation(df, ts, value, maxLag)
      .crossJoin(broadcast(n))
      .withColumn("rho_micro",
        round(col("acf") * 1e6, 0).cast("long"))
      .withColumn("term", when(
        col("rho_micro").isNotNull && col("n") - col("lag") > 0,
        expr("rho_micro * rho_micro div (n - lag)")).otherwise(0L))
      .agg(count(lit(1)).as("n_lags"), sum(col("term")).as("t"))
    acfAgg.crossJoin(broadcast(n))
      .select(col("n").as("n_days"), col("n_lags"),
        expr("cast(cast(n as decimal(38,0)) * (n + 2) * coalesce(t, 0L)" +
          " div 1000000 as bigint)").as("q_micro"))
  }

  /** VARIANCE-RATIO TEST (Lo & MacKinlay, RFS 1988 — the random-walk
    * diagnostic, here over the daily-cents series): if daily changes
    * are uncorrelated, the variance of q-day changes is q times the
    * variance of 1-day changes, so VR(q) = Var(c_{d+q} − c_d) / q /
    * Var(c_{d+1} − c_d) ≈ 1; VR > 1 flags positive autocorrelation
    * (trending), VR < 1 mean-reversion — the one-number companion of
    * q217's per-lag ACF and q312's Mann–Kendall. Both increment
    * populations come from CALENDAR-bounded (d, d+k) equi-joins (the
    * [[autocorrelation]] pair regime); each variance is algebra over
    * exact DECIMAL(38,0) sufficient sums (n, Σx, Σx²), population
    * form n·Σx² − (Σx)² over n². The ONE fixed-order float chain —
    * ((n_q·sxx_q − sx_q²)/n_q²)/q / ((n_1·sxx_1 − sx_1²)/n_1²) —
    * is mirrored verbatim in the oracle, rounded to integer micro.
    * NULL when either population is empty or Var₁ = 0 (the zero test
    * on exact integers). One row: (n_1, n_q, vr_micro).
    *
    * Scale shape: one key-sized daily aggregate (pinned), two
    * calendar-bounded self-equi-joins folding straight into 1-row
    * sufficient-stat aggregates. */
  def varianceRatio(df: DataFrame, ts: String, value: Column,
      q: Int): DataFrame = {
    require(q >= 2, s"q=$q")
    val daily = Pin(df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .filter(col("d").isNotNull && col("cents").isNotNull)
      .groupBy(col("d")).agg(sum(col("cents")).as("c")))
    def dec(c: Column) = c.cast("decimal(38,0)")
    def stats(k: Int, nn: String, sxn: String, sxxn: String) =
      daily.as("a")
        .join(daily.as("b"), expr(s"b.d = a.d + $k"))
        .select((col("b.c") - col("a.c")).as("x"))
        .agg(count(lit(1)).as(nn), sum(dec(col("x"))).as(sxn),
          sum(dec(col("x")) * col("x")).as(sxxn))
    stats(1, "n_1", "sx_1", "sxx_1")
      .crossJoin(broadcast(stats(q, "n_q", "sx_q", "sxx_q")))
      .select(col("n_1"), col("n_q"),
        expr("case when n_1 > 0 and n_q > 0 and" +
          " cast(n_1 as decimal(38,0)) * sxx_1 - sx_1 * sx_1 <> 0" +
          " then cast(round(" +
          " cast(cast(n_q as decimal(38,0)) * sxx_q - sx_q * sx_q" +
          "   as double) / cast(n_q as double) / cast(n_q as double)" +
          s" / $q" +
          " / (cast(cast(n_1 as decimal(38,0)) * sxx_1 - sx_1 * sx_1" +
          "   as double) / cast(n_1 as double) / cast(n_1 as double))" +
          " * 1000000, 0) as bigint) end").as("vr_micro"))
  }

  /** MANN–KENDALL TREND TEST (Mann 1945; Kendall 1975) over the same
    * daily cents series as [[theilSenTrend]] — the nonparametric "is
    * there a monotone trend AT ALL" significance companion of
    * Theil–Sen's slope magnitude (the two are the classic pair:
    * MK decides, Theil–Sen sizes). S = Σ_{i<j} sgn(c_j − c_i) is an
    * exact integer over the CALENDAR-bounded day pairs (the
    * [[theilSenTrend]] broadcast theta-join, reduced to one 1-row
    * sum — no slope frame, no median machinery); the tie-corrected
    * variance stays exact by carrying 18·Var as the integer
    *   var18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5);
    * z = (S∓1)/√(var18/18) with the continuity correction is the ONE
    * fixed-order float ([[Behavior.abTest]]'s edge convention; NULL
    * when var18 = 0 — a constant series has no ranking).
    *
    * Scale shape: one key-sized day aggregate (calendar-bounded,
    * pinned), the O(days²/2) broadcast pair join folding straight
    * into a 1-row aggregate, and a tie histogram bounded by distinct
    * daily totals. */
  def mannKendall(df: DataFrame, ts: String, value: Column): DataFrame = {
    val daily = Pin(df
      .select(Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("c")))
    val a = daily.select(col("d").as("da"), col("c").as("ca"))
    val b = daily.select(col("d").as("db"), col("c").as("cb"))
    val s = a.join(broadcast(b), col("da") < col("db"))
      .agg(coalesce(sum(
        when(col("cb") > col("ca"), 1L)
          .when(col("cb") < col("ca"), -1L).otherwise(0L)), lit(0L))
        .as("s_stat"))
    val ties = daily.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(
        expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie"))
    val n = daily.agg(count(lit(1)).as("n"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("var18",
        expr("n * (n - 1) * (2 * n + 5) - tie"))
      .select(col("n").as("n_days"), col("s_stat"), col("var18"),
        when(col("var18") > 0,
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)))
          .otherwise(lit(0.0))).as("z"))
  }

  /** SINGLE CHANGEPOINT per key — binary segmentation's first rung:
    * the day boundary that minimizes the two-segment SSE of the daily
    * cents series, i.e. maximizes the between-segment separation —
    * computed EXACTLY from prefix sums (every candidate split is O(1),
    * the whole key is O(n) — never a per-split rescan):
    * g(t) = (S_t²·(n−t) + (S_n−S_t)²·t) div
    * (t·(n−t)) in integer cents², DECIMAL(38,0) numerators, and the
    * argmax tie-broken to the EARLIEST split — a total order, so any
    * engine replays the same boundary. The reported gain is the SSE
    * reduction g(t*) − S_n² div n (both truncating divisions on
    * non-negative operands, where Spark/DuckDB agree).
    *
    * Where [[Behavior.rateCusum]] asks "has the level drifted past a
    * threshold RIGHT NOW", this asks "WHEN did the level shift" —
    * the retrospective regime-split beside CUSUM's online alarm.
    *
    * Overflow headroom: g ≤ S_n² div 1 — keep total cents per key
    * under ~3·10⁹ (≈ $30M) for int64 g; beyond that drop the cents
    * scale a decade (the [[Graph.pageRankMicro]] convention). Values
    * are required non-negative (positive-operand division only).
    *
    * Scale shape: one (key, day) aggregate; two windows sharing the
    * same (key → day) partitioning/sort (prefix sums + totals) and a
    * rank window on the calendar-bounded candidate table — per-key
    * work is span-sized, keys are the parallel grain. */
  def changepointDaily(df: DataFrame, key: String, ts: String,
      value: Column): DataFrame = {
    val daily = df
      .select(col(key).as("k"), Behavior.epochDay(col(ts)).as("d"),
        round(value * 100, 0).cast("long").as("cents"))
      .groupBy(col("k"), col("d")).agg(sum(col("cents")).as("v"))
    val w = Window.partitionBy(col("k")).orderBy(col("d"))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val pre = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("s", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum(col("v")).over(wAll))
    val cand = pre.filter(col("i") < col("n"))
      .withColumn("g", expr(
        "(cast(s as decimal(38,0)) * s * (n - i) + " +
          "cast(sn - s as decimal(38,0)) * (sn - s) * i) div " +
          "(cast(i as decimal(38,0)) * (n - i))"))
    val wBest = Window.partitionBy(col("k"))
      .orderBy(col("g").desc, col("i"))
    cand.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("k"), col("n").as("n_days"), col("d").as("split_day"),
        col("i").as("left_n"), (col("n") - col("i")).as("right_n"),
        expr("s div i").as("left_mean_cents"),
        expr("(sn - s) div (n - i)").as("right_mean_cents"),
        (col("g") - expr("cast(sn as decimal(38,0)) * sn div n"))
          .as("gain_cents2"))
  }
}
