package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine model training for curation classifiers (north-star X4
  * companion): a large-scale training-data pipeline does not just FILTER by
  * hand-written rules — it trains small models (quality / toxicity /
  * language classifiers à la fastText or the GPT-3 quality LR) over corpus
  * features and applies them at scan speed. This module is the trainer for
  * the logistic-regression case, built on the same broadcast-state regime
  * as [[Similarity.kmeansAssign]]'s Lloyd loop.
  *
  * Scale shape per gradient step: ONE corpus scan ending in a d+1-value
  * aggregate (map-side partial sums — the classic distributed full-batch
  * GD; Spark MLlib's LBFGS does the same scan-per-iteration), then a
  * driver-side weight update on d+1 doubles broadcast back as literals.
  * No shuffle wider than the aggregate, no lineage growth (each step
  * re-plans from the feature frame). Prediction is map-only.
  *
  * Determinism (what makes a bit-exact DuckDB oracle possible): the one
  * order-dependent float op — the gradient SUM across rows — is replaced
  * by a LONG sum of per-row integer micro-gradients round(g·10⁶) (the
  * [[Similarity.kmeansAssignPlusPlus]] integer-accumulate trick), so any
  * partition order yields the same 64-bit totals; every other op (σ(z),
  * the weight update) is row-local or driver-side double math both engines
  * replay identically. A last-ULP exp() divergence flips a micro-unit with
  * probability ~10⁻⁹ per row — measure-zero at gate scale, and a flipped
  * micro-unit shifts weights at the 10⁻⁶/n scale, invisible at the
  * 4-decimal output rounding. */
object Learn {

  /** σ(z) = 1 / (1 + e^(−z)) as a Column. */
  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** w₀ + Σⱼ wⱼ·xⱼ with a FIXED left-fold add order (bias first, then
    * `xCols` order) — the contract the oracle mirrors. */
  private def zOf(w: Array[Double], xCols: Seq[String]): Column =
    xCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
    }

  /** Full-batch gradient-descent training of logistic regression on
    * `feats` (one row per example; `xCols` double features, `yCol` a 0/1
    * double label). Weights start at 0 (bias first); each of `iters` steps
    * does wⱼ ← wⱼ − lr · ((Σ round((σ(z)−y)·xⱼ·10⁶)) / 10⁶ / n) with the
    * Σ a long sum. Returns the d+1 weights, bias first. */
  def trainLogistic(feats: DataFrame, xCols: Seq[String], yCol: String,
      lr: Double, iters: Int): Array[Double] = {
    require(xCols.nonEmpty && iters >= 0 && lr > 0,
      s"xCols=$xCols iters=$iters lr=$lr")
    var w = Array.fill(xCols.size + 1)(0.0)
    for (_ <- 0 until iters) {
      val err = sigmoid(zOf(w, xCols)) - col(yCol)
      val gradCols = (lit(1.0) +: xCols.map(col)).zipWithIndex.map {
        case (x, j) =>
          sum(round(err * x * lit(1e6)).cast("long")).as(s"g$j")
      }
      val row = feats.agg(gradCols.head,
        (gradCols.tail :+ count(lit(1)).as("n")): _*).collect()(0)
      val n = row.getLong(w.length).toDouble
      w = w.indices.map(j =>
        w(j) - lr * (row.getLong(j) / 1e6 / n)).toArray
    }
    w
  }

  /** Map-only scoring against trained weights: adds `p` = σ(w·x) — the
    * apply-the-classifier-at-scan-speed half. */
  def predictLogistic(feats: DataFrame, xCols: Seq[String],
      w: Array[Double]): DataFrame = {
    require(w.length == xCols.size + 1,
      s"weight count ${w.length} != 1 + ${xCols.size} features")
    feats.withColumn("p", sigmoid(zOf(w, xCols)))
  }

  /** Per-key ordinary-least-squares trend — closed-form simple linear
    * regression from SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σx²), the
    * map-reduce regression textbook shape: one hash aggregate computes
    * all five sums with map-side partials, then slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) is per-GROUP arithmetic. Contrast with
    * [[trainLogistic]]'s scan-per-iteration: OLS needs exactly ONE scan
    * and ONE shuffle (key-sized), at any corpus size — this is the
    * monitoring query ("which users/symbols trend up?") a pipeline runs
    * per day over everything.
    *
    * Determinism: x = epoch DAY (exact integer in both engines under
    * UTC), y = round(value·10⁶) micro-units — all five sums are 64-bit
    * integer totals, partition-order-proof, so the DuckDB oracle replays
    * slope and mean bit-exactly from the same integers. Overflow
    * headroom: |Σxy| ≤ n·max|x|·max|y| and the slope numerator ≤
    * n·|Σxy| must stay < 2⁶³ — with day-scale x (~2·10⁴) and micro
    * y ≤ 10⁹ that holds to n ≈ 2·10⁴ rows PER KEY beyond which y
    * should drop to milli-units. A key whose observations all land on
    * one day has zero variance in x → slope NULL, not a division blowup.
    *
    * Overflow is the caller's dial, not a silent wrap (ADVICE r7):
    * `unitScale` sets the y quantization (10⁶ = micro-units default;
    * drop to 10³ milli-units to trade 3 digits of y precision for
    * 1000× more per-key row headroom). Pass the SAME scale to
    * [[trendStats]] and [[trendOf]] — slope/mean are divided back by
    * it — identical unitScale in and out keeps the published q179
    * numbers bit-stable. */
  def groupTrend(df: DataFrame, key: String, ts: String, value: String,
      unitScale: Double = 1e6): DataFrame =
    trendOf(trendStats(df, key, ts, value, unitScale), key, unitScale)

  /** The five sufficient statistics of [[groupTrend]] as a MERGEABLE
    * state table (key, n_obs, sx, sy, sxy, sxx): all 64-bit integer
    * sums, so partial states built from ANY split of the corpus merge
    * exactly by component-wise addition — the map-side-combine algebra
    * made explicit as data. This is the
    * incremental-maintenance form a daily pipeline wants: persist
    * yesterday's per-key stats, fold in today's batch (batch-sized
    * work), derive slopes with [[trendOf]] — never rescan history. */
  def trendStats(df: DataFrame, key: String, ts: String, value: String,
      unitScale: Double = 1e6): DataFrame = {
    require(unitScale > 0.0, s"unitScale=$unitScale")
    val x = Behavior.epochDay(col(ts))
    val y = round(col(value) * lit(unitScale), 0).cast("long")
    df.select(col(key), x.as("x"), y.as("y"))
      .groupBy(col(key)).agg(
        count(lit(1)).as("n_obs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
  }

  /** Slope/mean derivation from a [[trendStats]] state — per-group
    * arithmetic on exact integers; the only float ops are the final
    * rounded divisions, identical in any engine. */
  def trendOf(stats: DataFrame, key: String,
      unitScale: Double = 1e6): DataFrame = {
    require(unitScale > 0.0, s"unitScale=$unitScale")
    val num = (col("n_obs") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (col("n_obs") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    stats.select(col(key), col("n_obs"),
      (round(col("sy").cast("double") / col("n_obs") / unitScale, 6)
        + lit(0.0)).as("mean_value"),
      when(den =!= 0.0, round(num / den / unitScale, 6) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("slope_per_day"))
  }
}
