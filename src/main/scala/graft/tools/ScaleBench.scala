package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence bench (VERDICT r8 #4): times the five heaviest
  * operator families at each given data dir (sf0.01 → sf0.1 → the
  * [[ScaleGen]] ~10× skewed slice) and prints one JSON line per
  * (dir, query, run). Two timed runs per query: run 1 pays JVM/codegen
  * warm-up on that plan shape, run 2 is the steady-state number
  * SCALING.md reports (min of both would hide nothing here — the
  * tables are re-scanned every run; only compiled code is reused).
  *
  * SKEW LENS (round 10): every line also carries the task-time profile
  * of the run's COSTLIEST stage — task count, max and median task ms,
  * and skew_x100 = 100·max/median — from a [[TaskLens]] listener. A
  * planted hot key that wall-clock hides (many cores absorb one slow
  * task) shows up here as max ≫ median; conversely skew_x100 near 100
  * on the dominant stage is the measured "no straggler" claim.
  *
  * Families (all through the exact SparkEntry plans the driver times):
  *   q196 rolling-DAU state (sketch algebra + window expansion)
  *   q158 salted semantic dedup (k-means + salted cell self-join)
  *   q185 binary kNN (compressed-domain prescreen + rerank) — PLUS a
  *        fixed-20-query variant `q185_fixedq`, because q185's own
  *        query set grows with the corpus (queries × corpus work is
  *        quadratic in the scale factor BY CONSTRUCTION; the fixed
  *        variant isolates the corpus-linear serving cost)
  *   q193 single-pass funnel (per-user fold, planted hot user)
  *   q190 stored-column exact quantiles (refinement rounds grow with
  *        log(key span) — ScaleGen widens the span 10⁹×, so rounds
  *        4-5 vs 2: the expected, named, log-bounded superlinearity)
  *   q228 Theil-Sen trend (round-10 long-slope rewrite) — the daily
  *        aggregate scan grows with the log but the pairwise-slope
  *        frame is CALENDAR-bounded, so growth should be scan-shaped
  *        and well under data growth
  *   q237 sorted-neighborhood dedup (round-10 lead-window rewrite) —
  *        one prefix-shuffle + in-partition sort, O(n·w) candidates;
  *        ScaleGen's planted shared 12-char prefix makes one block
  *        hot, which the window absorbs (no self-join to blow up)
  *   q254 majority vote + q264 weighted revote (X17, round 11) — the
  *        vote is a row-local sum, so both should be scan-shaped: one
  *        conditional aggregate (q264 pays two passes by design);
  *        skew-free by construction (no key shuffle at all)
  *   q210 A/B readout (experiment-state family) — (variant, user)
  *        sufficient-stats aggregate; ScaleGen's planted hot user 7
  *        concentrates every 20th event on one user key, the exact
  *        skew the per-user pre-aggregate absorbs
  *   q267 incremental IVF append + serve-identity (round 11) — the
  *        append is map-only over the increment; both serve arms are
  *        cell-pruned probes; the rebuilt arm's reassignment is the
  *        only corpus-linear stage (run 1 at a new dir also pays the
  *        one-time index build; run 2 is the steady state)
  *   q269 exact-integer EWMA (round 11) — keyed daily aggregate into
  *        a CALENDAR-bounded per-key fold; growth should be
  *        scan-shaped (the fold is days-sized regardless of rows)
  *   q271 CUPED Welch t (round 11) — q210's aggregate family with a
  *        second period column; the planted hot user collapses
  *        map-side like every per-user pre-aggregate
  *   q268 LF conflict matrix (round 12) — ONE conditional aggregate
  *        with 3·C(k,2) map-side partials; skew-free by construction
  *        (no key shuffle at all)
  *   q270 EWMA append-state seam (round 12) — q269's shape twice
  *        (prior build + ordered append); the fold is days-sized at
  *        any row count
  *   q272 EWMA control chart (round 12) — q269's keyed daily
  *        aggregate into the linear chart scan (level + deviation)
  *
  *   sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.01 /root/testdata/sf0.1 scaledata/x10"
  *   SPARK_GRAFT_ONLY=q228,q237 narrows to matching families.
  */
object ScaleBench {

  /** Collects successful-task durations per stage. The listener bus is
    * ASYNC: [[summarizeSlowest]] is called after a short settle sleep,
    * good enough for a measurement tool (a straggler this lens exists
    * to catch is orders of magnitude above the settle window). */
  private final class TaskLens extends SparkListener {
    private val stages =
      scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null && t.taskInfo.successful)
        stages.getOrElseUpdate(t.stageId,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          t.taskInfo.duration
    }
    def reset(): Unit = synchronized(stages.clear())
    /** (nTasks, maxMs, p50Ms, skew_x100) of the stage with the largest
      * summed task time — the run's cost center. */
    def summarizeSlowest(): (Int, Long, Long, Long) = synchronized {
      if (stages.isEmpty) (0, 0L, 0L, 0L)
      else {
        val ds = stages.values.maxBy(_.sum).sorted
        val med = math.max(ds((ds.size - 1) / 2), 1L)
        (ds.size, ds.last, med, ds.last * 100 / med)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1",
        "scaledata/x10")
    val spark = graft.GraftSession()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup
    val lens = new TaskLens
    spark.sparkContext.addSparkListener(lens)

    val allFams: Seq[(String, (SparkSession, String) => DataFrame)] = (Seq(
      "q196_dau_state", "q158_semdedup_salted", "q185_binary_knn",
      "q193_funnel_onepass", "q190_stored_quantiles")
      .map(n => n -> graft.SparkEntry.queries(n)) :+
      ("q185_fixedq" -> { (s: SparkSession, d: String) =>
        // fixed 20-query serving load against the growing corpus:
        // the first 20 ORIGINAL-copy query vectors at every scale
        val emb = graft.Tables.embeddings(s, d)
        graft.operators.Similarity.binaryKnnJoin(emb,
          emb.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < 2000), 5, 20)
      })) ++ Seq("q228_theil_sen", "q237_sorted_neighborhood",
        "q254_lf_vote", "q264_weighted_vote", "q210_ab_test",
        "q267_ivf_append", "q269_revenue_ewma", "q271_cuped",
        "q268_lf_conflicts", "q270_ewma_append", "q272_ewma_chart",
        "q276_linkage_pairs")
      .map(n => n -> graft.SparkEntry.queries(n)) ++
      // round-12/13 additions: Holt trend + append seam (per-key
      // calendar-bounded folds — expect flat), post-stratified ATE +
      // field weights + EM + isotonic train/apply (aggregate-sized),
      // linkage entity clustering (blocked pairs + edge-sized CC)
      Seq("q273_revenue_holt", "q274_ate_stratified",
        "q275_linkage_weights", "q277_holt_append",
        "q278_isotonic_cal", "q279_linkage_em",
        "q280_linkage_entities", "q281_isotonic_apply",
        // round-13 batch 2: tf-adjusted scoring (pair-sized like
        // q276 + the record-linear value-count join), block audit +
        // Krippendorff + DiD + Dawid–Skene train/apply (aggregate-
        // sized), Holt–Winters (calendar-bounded per-key scan)
        "q282_linkage_tf", "q283_hw_backtest", "q284_block_audit",
        "q285_krippendorff", "q286_diff_in_diff", "q287_dawid_skene",
        "q288_ds_posterior", "q289_holt_winters",
        "q290_hw_append", "q291_linkage_evidence",
        "q292_linkage_leveled",
        // round-13 batch 3: log-rank + SPRT + changepoint (key-sized
        // aggregates + calendar/arm-bounded windows — expect flat),
        // HITS (edge-linear supersteps), DS pattern state (one
        // histogram aggregate)
        "q293_log_rank", "q294_sprt", "q295_changepoint",
        "q296_hits", "q297_ds_state",
        // LPA, dedup-first (exact collapse → edge-linear supersteps
        // over the DISTINCT-corpus near-dup graph → re-expand; the
        // raw-pair R² form is the q298_rawpairs opt-in lesson),
        // vocab growth (one token aggregate), U-shape attribution
        // (segment windows + one equi-join)
        "q298_lpa_communities", "q299_vocab_growth",
        "q300_positional_attribution",
        // RMST (key-sized agg + arm-bounded driver fold), ranking
        // metrics (q42 broadcast-queries serving shape)
        "q301_rmst", "q302_ranking_metrics",
        // Poisson bootstrap (B-way fan-out, B-row shuffle), keyness
        // (tf-idf-shaped term aggregate), multi-class DS (q287 regime)
        "q303_bootstrap_ci", "q304_keyness", "q305_ds_multiclass",
        // state seams: SPRT append (O(batch) fold), vocab-state merge
        "q306_sprt_append", "q307_vocab_state",
        // Nelson-Aalen (q227 regime: key-sized agg + bounded fold)
        "q308_nelson_aalen",
        // round-14: the de-funneled rank-statistic family — distinct-
        // value midrank cumsums through Curation.withGlobalCumsums
        // (two-level, no unpartitioned window); per-user cents metrics
        // make the distinct-value frame grow with users, the exact
        // case the rewrite is for
        "q242_mann_whitney", "q251_ks_test", "q253_spearman_rho",
        "q256_auc_exact", "q261_kruskal", "q214_engagement_gini",
        // round-14: IVF-pruned ranking metrics (fixed 16-query probe
        // over the trained quantizer — cell-bounded candidates) and
        // the now-fixed-load shipped q302 (80 queries at any R)
        "q309_ivf_ranking",
        // round-14: FH weighted log-rank + survival span-state seam
        // (key-sized span aggregate + calendar-bounded folds — both
        // expected flat, the q293/q227 regime)
        "q310_fh_logrank", "q311_survival_state",
        // round-14 batch 2: Mann–Kendall (calendar²-bounded pair sum),
        // ECE (bins aggregate), stratified md5 sample (partitioned
        // rank window), Zipf slope (tf shuffle + constant-bounded
        // window), degree-capped HITS (candidate-bounded supersteps
        // vs q296's 78.6 s full-graph row)
        "q312_mann_kendall", "q313_calibration_error",
        "q314_stratified_sample", "q315_zipf_slope",
        "q316_hits_capped",
        // round-14 batch 3: Brier decomposition + MDE (corpus
        // aggregates), Ljung–Box (q217's calendar-bounded lag table)
        "q317_brier", "q318_ab_mde", "q319_ljung_box",
        // stratified log-rank (per-stratum risk windows — strata are
        // the parallel grain)
        "q320_stratified_logrank",
        // personalized PageRank (q153's superstep regime + one seed
        // broadcast), weekly seasonal index (7-row aggregate)
        "q321_personalized_pagerank", "q322_dow_profile",
        // shot boundaries (map-only frame fan-out + per-media lag
        // window + TakeOrdered — media id the parallel grain)
        "q323_shot_boundaries",
        // per-arm NA + cumhaz ratio (q293's calendar-bounded regime)
        "q324_hazard_ratio",
        // round-15: rolling quantile from the per-day KLL state (one
        // day-keyed sketch aggregate — k-bounded bytes through the
        // shuffle — + a days-sized rollup + the exact-check join),
        // two-round refined HITS (two edge-sized aggregates + one
        // candidate-bounded join; no superstep loop)
        "q325_rolling_quantile_state", "q326_hits_refined",
        // round-15 batch 2: MCC + Cramér's V + Youden (one conditional
        // aggregate / level-grid / ROC-cumsum each), variance ratio
        // (two calendar-bounded pair joins), local clustering (the
        // q218 wedge regime per node), Heaps exponent (q299's token
        // aggregate + buckets-bounded fit), IVF range search (q309's
        // cell-bounded probe with a radius filter), aHash clusters
        // (map-only frame fan-out + hash-keyed aggregate)
        "q327_mcc", "q328_cramers_v", "q329_variance_ratio",
        "q330_local_clustering", "q331_heaps_exponent",
        "q332_range_search", "q333_youden_threshold",
        "q334_ahash_clusters",
        // round-15 batch 3: Greenwood band (span-state readout +
        // calendar window), skyline (one x-keyed aggregate + the
        // two-level running max), bridge screen (q330's wedge regime
        // per edge), MAD (two quantile refinements), Tukey fences
        // (per-group refinement + one counting pass)
        "q335_km_band", "q336_skyline", "q337_bridge_edges",
        "q338_mad", "q339_tukey_outliers",
        // round-16: per-key KLL rolling quantiles (one (key, day)
        // sketch aggregate + key-day rollup + exact-check join), LSH
        // band bill (8 md5 digests per distinct shingle map-side +
        // key-bounded bucket aggregates — the audit's honest price),
        // average precision (q256's descending-cumsum regime),
        // Brown–Forsythe (per-group median refinement + one
        // broadcast-join deviation pass), PMI collocations (bigram
        // explode + term-sized marginal reductions)
        "q340_rolling_quantile_by_key", "q341_lsh_audit",
        "q343_avg_precision", "q344_brown_forsythe",
        "q345_pmi_collocations",
        // round-16 batch 3: JSD (vocabulary-keyed token aggregate,
        // q126's regime), QQ drift (shared per-group quantile
        // refinement), Cochran–Armitage (per-user pre-aggregate +
        // k-row algebra — the q210 skew-absorbing regime)
        "q346_js_divergence", "q347_quantile_drift",
        "q348_cochran_armitage",
        // round-16 batch 4: info gain (one conditional aggregate),
        // Theil's U (key-sized daily aggregate + two calendar-bounded
        // equi-joins — the q219 regime)
        "q349_info_gain", "q350_theil_u")
      .map(n => n -> graft.SparkEntry.queries(n)) :+
      ("q276_fineblock" -> { (s: SparkSession, d: String) =>
        // linear-growth control beside the shipped fine content block:
        // a composite block (nation, custkey div 10⁹ = ScaleGen copy)
        // keeps every block at its sf0.1 size, so pairs grow linearly
        // with R instead of R² — isolates replication-induced pair
        // growth (true cross-copy duplicates) from block-key quality
        import org.apache.spark.sql.functions.{concat_ws, col, expr}
        val c = graft.Tables.customer(s, d)
          .withColumn("blk2", concat_ws("_", col("c_nationkey"),
            expr("c_custkey div 1000000000")))
        graft.operators.Dedup.linkagePairScores(c, "c_custkey", "blk2",
          Seq("seg" -> col("c_mktsegment"),
            "bal" -> expr("cast(floor(c_acctbal / 1000) as bigint)")))
      }) :+
      ("q302_fixedq" -> { (s: SparkSession, d: String) =>
        // fixed 20-query eval load against the growing corpus: q302's
        // own query set is every 25th vector, so queries × corpus work
        // is quadratic in the scale factor BY CONSTRUCTION (the q185
        // load-model artifact); this isolates the corpus-linear
        // serving cost (original-copy ids < 2000 exist at every R)
        graft.operators.Similarity.knnRankingMetrics(
          graft.Tables.embeddings(s, d), 100L, 10, Some(2000L))
      }) :+
      ("q302_corpusq" -> { (s: SparkSession, d: String) =>
        // the NAMED LOAD-MODEL LESSON (round 13's shipped q302,
        // demoted here): every 25th vector is a query, so queries ×
        // corpus work is quadratic in the scale factor BY
        // CONSTRUCTION — 651 s at 100×. The shipped q302 now carries
        // the fixed query set (every 25th id < 2000); run this form
        // only with SPARK_GRAFT_ONLY=q302_corpusq.
        graft.operators.Similarity.knnRankingMetrics(
          graft.Tables.embeddings(s, d), 25L, 10)
      }) :+
      ("q298_rawpairs" -> { (s: SparkSession, d: String) =>
        // the NAMED QUADRATIC LESSON (round 13's shipped wiring, now
        // demoted here): LPA over the RAW corpus's near-dup pair
        // graph. Full replication makes TRUE dup families R wide, so
        // the pair frame grows R² (real pairs, not waste — the
        // q276/q291 story on the graph axis): 17.4 s at 10×, spills
        // past local disk at 100×. The shipped q298 entry is the
        // X1→X2 pipeline order (exact-dedup first, LPA over the
        // copy-invariant distinct corpus, re-expand) — run this form
        // only with SPARK_GRAFT_ONLY=q298_rawpairs on dirs ≤ 30×.
        graft.operators.Graph.labelPropagation(
          graft.operators.Dedup.jaccardPairs(
            graft.Tables.documents(s, d), 0.5),
          3, "doc_a", "doc_b")
      }) :+
      ("q276_coarseblock" -> { (s: SparkSession, d: String) =>
        // the NAMED QUADRATIC LESSON (round 12's shipped wiring, now
        // demoted here): a 25-value nation-only block grows
        // within-block pairs R² — 25 s at 10×, 192 s at 30×,
        // terminated >1100 s at 100×. Run it only with
        // SPARK_GRAFT_ONLY=q276_coarseblock on dirs ≤ 30× — at 100× it
        // does not finish; the shipped q276_linkage_pairs entry above
        // carries the fine composite block that does.
        import org.apache.spark.sql.functions.{col, expr}
        graft.operators.Dedup.linkagePairScores(
          graft.Tables.customer(s, d), "c_custkey", "c_nationkey",
          Seq("seg" -> col("c_mktsegment"),
            "bal" -> expr("cast(floor(c_acctbal / 1000) as bigint)")))
      })
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val fams = allFams.filter { case (n, _) =>
      // the named-quadratic lesson rows never run implicitly (neither
      // finishes at 100×): opt in with SPARK_GRAFT_ONLY
      if (n == "q276_coarseblock" || n == "q298_rawpairs" ||
          n == "q302_corpusq")
        only.exists(_.exists(n.contains))
      else only.forall(_.exists(n.contains)) }

    dirs.foreach { dir =>
      fams.foreach { case (name, fn) =>
        {
        (1 to 2).foreach { run =>
          lens.reset()
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the async listener bus drain
          val (nt, mx, md, skew) = lens.summarizeSlowest()
          println(f"""{"dir":"$dir","query":"$name","run":$run,""" +
            f""""sec":$sec%.3f,"rows":$rows,"tasks":$nt,""" +
            f""""task_max_ms":$mx,"task_p50_ms":$md,""" +
            f""""task_skew_x100":$skew}""")
          graft.SessionHygiene.cleanup(spark)
        }
        }
      }
    }
    spark.stop()
  }
}
