package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.{AlphaVantage, FakeAlphaVantageServer, ManifestTable,
  ParquetWarehouse, RawCache, RunLog}
import graft.streaming.{DauStateStream, GatedIngest, StreamingIngest}

/** The reference's `main()` (etl.py:183-216) end-to-end, Spark-first:
  *
  *   cache-or-fetch raw payloads → validate/quarantine → tabularize →
  *   idempotent warehouse append → catalog + last-5 inspection → run log
  *
  * Run: `sbt "runMain graft.DemoPipeline /tmp/graft_demo 2025-10-05"`.
  * Re-running with the same args is a no-op on the warehouse (the
  * reference's INSERT IGNORE + per-day cache semantics) — the second run
  * fetches nothing and appends nothing.
  *
  * STREAMING MODE (VERDICT r8 #8): `sbt "runMain graft.DemoPipeline
  * --streaming /tmp/graft_demo_s 2025-10-05"` demonstrates the same
  * scheduled-run semantics through the streaming stack in ONE command:
  * the day's payloads land as files in a drop dir (the scheduler's
  * fetch), ONE AvailableNow job drains them through watermark key-dedup
  * into a composite foreachBatch sink — gated admission
  * ([[graft.streaming.GatedIngest]]: exact/near text gate + frozen-cell
  * semantic gate, txn-marked manifest commit) PLUS per-day
  * distinct-symbol sketch state ([[graft.streaming.DauStateStream]]).
  * Re-running the same day is a no-op at EVERY layer: the stream
  * checkpoint skips consumed files, a re-dropped byte-identical payload
  * under a new filename is dropped by the persisted text gate, and the
  * sketch state is value-idempotent (HLL union of already-inserted
  * values changes nothing).
  *
  * The fetch is the deterministic stub standing in for the Alpha Vantage
  * HTTP GET (zero-egress environment); everything downstream is the real
  * engine. */
object DemoPipeline {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption match {
      case Some("--streaming") => "streaming"
      case Some("--stats") => "stats"
      case Some("--labels") => "labels"
      case Some("--linkage") => "linkage"
      case Some("--experiment") => "experiment"
      case Some("--e2e") => "e2e"
      case Some("--monitors") => "monitors"
      case _ => "batch"
    }
    val rest = if (mode == "batch") args else args.drop(1)
    val base = rest.headOption.getOrElse(mode match {
      case "streaming" => "/tmp/graft_demo_stream"
      case "e2e" => "/tmp/graft_demo_e2e"
      case "stats" | "labels" => "/root/testdata/sf0.001"
      // sf0.01, not sf0.001: the fine composite block admits no
      // candidate pairs at all at sf0.001 (150 customers)
      case "linkage" => "/root/testdata/sf0.01"
      case "experiment" => "/root/testdata/sf0.01"
      case "monitors" => "/tmp/graft_demo_monitors"
      case _ => "/tmp/graft_demo"
    })
    val today = rest.lift(1).getOrElse("2025-10-05")

    val spark = GraftSession()

    mode match {
      case "streaming" => runStreaming(spark, base, today)
      case "stats" => runStats(spark, base)
      case "labels" => runLabels(spark, base)
      case "linkage" => runLinkage(spark, base)
      case "experiment" => runExperiment(spark, base)
      case "e2e" => runE2e(spark, base, today)
      case "monitors" => runMonitors(spark, base, today)
      case _ => runBatch(spark, base, today)
    }
    spark.stop()
  }

  private val symbols = Seq("AAPL", "GOOG", "MSFT") // etl.py:205

  /** The scheduler's fetch for the streaming modes: today's payloads land
    * as `<base>/drop/<symbol>_<today>.json`, skipping files already
    * dropped (the per-day cache semantics). Returns the drop dir. */
  private def land(base: String, today: String): String = {
    val drop = new java.io.File(s"$base/drop"); drop.mkdirs()
    val landed = symbols.count { sym =>
      val f = new java.io.File(drop, s"${sym}_$today.json")
      val isNew = !f.exists()
      if (isNew) java.nio.file.Files.writeString(f.toPath,
        FakeAlphaVantageServer.fetch(sym, today))
      isNew
    }
    println(s"[drop] $landed new payload files, " +
      s"${symbols.size - landed} already present")
    drop.getPath
  }

  /** ONE AvailableNow job over the drop dir: watermark key-dedup, then
    * `sink` per micro-batch, checkpointed in `<base>/ckpt`. */
  private def drain(spark: SparkSession, base: String, drop: String)
      (sink: (DataFrame, Long) => Unit): Unit =
    StreamingIngest.withKeyDedup(StreamingIngest.stockStream(spark, drop))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
      .awaitTermination()

  /** Rows of the manifest table at `dir`, 0 while it has no commit. */
  private def tableCount(spark: SparkSession, dir: String): Long =
    if (ManifestTable.currentVersion(dir) == 0L) 0L
    else ManifestTable.read(spark, dir)._2.count()

  /** The original batch pipeline (reference main() shape). */
  def runBatch(spark: SparkSession, base: String, today: String): Unit = {
    // 1. extract: per-day cache, fetch on miss (etl.py:33-70)
    val cache = new RawCache(s"$base/raw_data")
    val fetched = symbols.count { sym =>
      val miss = !cache.contains(sym, today)
      cache.getOrFetch(sym, today)(s => Some(FakeAlphaVantageServer.fetch(s, today)))
      miss
    }
    println(s"[extract] $fetched fetched, ${symbols.size - fetched} cache hits")

    // 2. validate + transform: one lazy plan over the whole lake
    val (valid, quarantined) =
      AlphaVantage.validate(AlphaVantage.readRaw(spark, s"$base/raw_data"))
    val rows = AlphaVantage.tabularize(valid)
    println(s"[transform] ${rows.count()} rows, ${quarantined.count()} payloads quarantined")

    // 3. load: idempotent keyed append (etl.py:110-158)
    val warehouse = new ParquetWarehouse(spark, s"$base/warehouse/stock_daily_data")
    warehouse.append(rows.toDF())

    // 4. inspect (etl.py:161-180)
    println("[inspect] columns: " + warehouse.describe()
      .map { case (n, t) => s"$n:$t" }.mkString(", "))
    warehouse.readBack(5).show(truncate = false)

    // 5. audit line (etl.py:222-223)
    new RunLog(s"$base/etl_log.txt")
      .append(s"ETL run at ${java.time.Instant.now()} ($today, ${symbols.size} symbols)")
  }

  /** EXPERIMENT READOUT MODE (round 10): ONE experiment definition —
    * arms = user_id mod 2 with arm 0 as control, conversion =
    * 'purchase', metric = per-user revenue cents, funnel
    * signup→view→purchase — pushed through the whole test battery in
    * one command: the binary-conversion z (q210), continuous Welch t
    * (q241), nonparametric Mann–Whitney U (q242), and the per-step
    * funnel split with z vs control (q247). Each statistic answers a
    * different failure of the others (non-normal metrics break t,
    * binary z sees only the last step, U has no effect units), so a
    * readout ships all four. Run:
    * `sbt "runMain graft.DemoPipeline --stats /root/testdata/sf0.001"`.
    * Public and session-injected so the spec drives the identical
    * code path the CLI runs. */
  def runStats(spark: SparkSession, sfDir: String): Unit = {
    val ev = Tables.events(spark, sfDir)
    val armOf = (u: org.apache.spark.sql.Column) => pmod(u, lit(2L))
    val cents = round(col("value") * 100, 0)
    println("[conversion z] purchase conversion, arm 0 vs arm 1")
    operators.Behavior.abTest(ev, "user_id", "event_type", "purchase",
      armOf(col("user_id"))).show(truncate = false)
    println("[welch t] per-user revenue cents")
    operators.Behavior.welchT(ev, "user_id", cents,
      armOf(col("user_id"))).show(truncate = false)
    println("[mann-whitney u] per-user revenue cents")
    operators.Behavior.mannWhitneyU(ev, "user_id", cents,
      armOf(col("user_id"))).show(truncate = false)
    println("[cuped welch t] post-period revenue, pre-period adjusted" +
      " (median-day split)")
    operators.Behavior.cupedWelchT(ev, "user_id", "ts", cents,
      armOf(col("user_id")),
      queries.NorthStar.medianObservedDay(ev, "ts"))
      .show(truncate = false)
    println("[funnel by arm] signup -> view -> purchase")
    operators.Behavior.funnelByArm(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), armOf, 0L)
      .orderBy(col("arm"), col("step")).show(truncate = false)
  }

  /** LABEL-QUALITY READOUT MODE (round 10): ONE weak-supervision
    * panel — the three document-quality labeling functions (length ≥
    * 300 chars, English, ≥ 50 tokens) — pushed through the whole
    * audit battery in one command: majority-vote consensus with the
    * per-LF agreement table (q254), pairwise Cohen's κ for the two
    * length-flavored LFs (q255) and panel-level Fleiss' κ (q259) to
    * catch a redundant or adversarial rule, then the raw-length
    * scorer evaluated against the English label — exact AUC (q256),
    * the five ROC operating points nearest the staircase corners
    * (q258), the 10-bin calibration table (q257), and its isotonic (PAV)
    * recalibration (q278). The Snorkel
    * cold-start loop as one deterministic command:
    * `sbt "runMain graft.DemoPipeline --labels /root/testdata/sf0.001"`.
    * Public and session-injected so the spec drives the identical
    * code path the CLI runs. */
  /** The full probabilistic record-linkage ladder on the customer
    * table, each rung one operator — the Splink workflow end to end:
    * audit the block key BEFORE any pair forms, calibrate field
    * evidence, score blocked pairs (field-level and tf-adjusted),
    * explain a match, fit m/u unsupervised, and collapse matches to
    * entities. `sbt "runMain graft.DemoPipeline --linkage"`. */
  def runLinkage(spark: SparkSession, sfDir: String): Unit = {
    val cust = Tables.customer(spark, sfDir).withColumn("blk_fine",
      concat_ws("_", col("c_nationkey"),
        floor(col("c_acctbal") / 100).cast("long")))
    val fields = Seq("seg" -> col("c_mktsegment"),
      "cents" -> floor(col("c_acctbal") * 100).cast("long"))
    println("[block audit] the candidate-pair bill, coarse vs fine " +
      "— run this BEFORE any linkage job")
    operators.Dedup.linkageBlockAudit(cust, "c_custkey", Seq(
        "nation_coarse" -> col("c_nationkey"),
        "nation_bal100_fine" -> col("blk_fine")))
      .orderBy(col("block_key")).show(truncate = false)
    println("[field weights] chance-agreement u + match/non-match " +
      "odds per field")
    operators.Dedup.linkageFieldWeights(cust, fields)
      .orderBy(col("field")).show(truncate = false)
    println("[pair scoring] top net-positive pairs, exact-integer " +
      "odds product (m = 0.7)")
    val pairs = operators.Dedup.linkagePairScores(cust, "c_custkey",
      "blk_fine", fields, mPpm = 700000L)
    pairs.show(10, truncate = false)
    println("[tf adjustment] the same pairs rescored by the agreed " +
      "VALUE's rarity (Splink tf_adjustments)")
    operators.Dedup.linkagePairScoresTf(cust, "c_custkey", "blk_fine",
        fields, mPpm = 700000L)
      .show(10, truncate = false)
    println("[evidence waterfall] which field carried the top match")
    operators.Dedup.linkagePairEvidence(cust, "c_custkey", "blk_fine",
        fields, mPpm = 700000L)
      .show(6, truncate = false)
    println("[EM] unsupervised m/u over the blocked pairs " +
      "(two all-integer-ppm iterations)")
    operators.Dedup.linkageEmMU(cust, "c_custkey", "blk_fine",
        col("c_mktsegment"), floor(col("c_acctbal") * 100).cast("long"))
      .show(truncate = false)
    println("[entities] matches collapsed to canonical ids — " +
      "largest clusters (signature-star CC, never the full pair set)")
    operators.Dedup.linkageEntities(cust, "c_custkey", "blk_fine",
        fields, mPpm = 700000L)
      .orderBy(col("cluster_size").desc, col("c_custkey"))
      .show(10, truncate = false)
  }

  /** The experimentation ladder in one command — fixed-horizon
    * readout, variance reduction, sequential monitoring, survival
    * effect, and credit assignment, each the shipped oracled operator:
    * `sbt "runMain graft.DemoPipeline --experiment"`. */
  def runExperiment(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{lit, pmod, round => rnd}
    val ev = Tables.events(spark, sfDir)
    val arm = pmod(col("user_id"), lit(2L))
    println("[A/B readout] fixed-horizon two-proportion z on " +
      "purchase conversion (user_id mod 2 arms)")
    operators.Behavior.abTest(ev, "user_id", "event_type", "purchase",
      arm).show(truncate = false)
    println("[SPRT] how FEW users until a verdict — Wald bounds " +
      "ln(19), H0 p=0.2 vs H1 p=0.4 (micro-nat literals)")
    operators.Behavior.sprtConversion(ev, "user_id", "ts",
        "event_type", "purchase", arm,
        693147L, -287682L, 2944439L, -2944439L)
      .orderBy(col("arm")).show(truncate = false)
    println("[log-rank] does the variant RETAIN users — Mantel-Cox " +
      "over the 14-day-censor lifetime model")
    operators.Behavior.logRankTest(ev, "user_id", "ts", 14, arm)
      .show(truncate = false)
    println("[RMST] the same comparison as an effect size: expected " +
      "days retained in the first 30, per arm")
    operators.Behavior.rmstByArm(ev, "user_id", "ts", 14, 30, arm)
      .orderBy(col("arm")).show(truncate = false)
    println("[bootstrap CI] 95% Poisson-bootstrap interval for the " +
      "mean purchase value (100 hash-deterministic replicates)")
    operators.Profiling.bootstrapMeanCI(
        ev.filter(col("event_type") === "purchase"), "event_id",
        rnd(col("value") * 100, 0), 100, 25)
      .show(truncate = false)
    println("[attribution] which channels earn the purchases — " +
      "U-shaped position credit, 30-day lookback")
    operators.Behavior.positionalAttribution(ev, "user_id", "ts",
        "event_type", "event_id", Seq("view", "click", "signup"),
        "purchase", "value", 30L * 86400)
      .orderBy(col("channel")).show(truncate = false)
  }

  def runLabels(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val lfLong = (col("n_chars") >= 300).cast("int")
    val lfEn = (col("lang") === "en").cast("int")
    val lfWordy = (size(split(col("text"), " ")) >= 50).cast("int")
    val lfs = Seq("long" -> lfLong, "en" -> lfEn, "wordy" -> lfWordy)
    println("[lf vote] 3-LF majority consensus, per-LF audit")
    operators.Labeling.majorityVote(docs, lfs)
      .orderBy(col("lf")).show(truncate = false)
    println("[weighted revote] pass-1 agreement as weights (Snorkel rung 2)")
    operators.Labeling.weightedVote(docs, lfs)
      .orderBy(col("lf")).show(truncate = false)
    println("[conflict matrix] which LF pairs fight each other")
    operators.Labeling.conflictMatrix(docs, lfs)
      .orderBy(col("lf_a"), col("lf_b")).show(truncate = false)
    println("[cohen kappa] long vs wordy (are the length rules one rule?)")
    operators.Labeling.cohenKappa(docs, lfLong, lfWordy)
      .show(truncate = false)
    println("[mcnemar] long vs wordy — is the disagreement one-sided?")
    operators.Labeling.mcnemar(docs, lfLong, lfWordy)
      .show(truncate = false)
    println("[fleiss kappa] the full 3-LF panel")
    operators.Labeling.fleissKappa(docs, lfs.map(_._2))
      .show(truncate = false)
    println("[cochran q] do the 3 LFs fire at different rates? (df = 2)")
    operators.Labeling.cochranQ(docs, lfs.map(_._2))
      .show(truncate = false)
    println("[auc] n_chars scoring the English label")
    operators.Labeling.aucExact(docs, col("n_chars"), lfEn)
      .show(truncate = false)
    println("[roc] 5 operating points spread over the threshold range")
    val roc = operators.Labeling.rocPoints(docs, col("n_chars"), lfEn)
      .orderBy(col("threshold"))
    val every = math.max(1L, roc.count() / 5L)
    roc.withColumn("i", monotonically_increasing_id())
      .filter(pmod(col("i"), lit(every)) === 0).drop("i")
      .show(truncate = false)
    println("[calibration] n_chars/600 as a mock probability, 10 bins")
    operators.Labeling.calibrationBins(docs,
        least(lit(1000000L), expr("n_chars * 1000000 div 600")), lfEn, 10)
      .orderBy(col("bin")).show(truncate = false)
    println("[isotonic] PAV-recalibrated (monotone) rate per bin")
    operators.Labeling.isotonicCalibration(docs,
        least(lit(1000000L), expr("n_chars * 1000000 div 600")), lfEn, 10)
      .orderBy(col("bin")).show(truncate = false)
  }

  /** FULL-LADDER E2E MODE (VERDICT r11 #6): the reference's scheduled
    * idempotent ingest composed with EVERY incremental state maintainer
    * in ONE command — the "soul of the reference" driving the
    * LLM-pipeline state forms. One AvailableNow job drains the day's
    * payload drops through watermark key-dedup into a composite
    * foreachBatch sink that chains, per micro-batch:
    *
    *   1. [[graft.streaming.GatedIngest]] — exact/near text gate +
    *      frozen-cell semantic gate into the accepted manifest;
    *   2. [[graft.streaming.DauStateStream]] — per-day distinct-symbol
    *      HLL state;
    *   3. [[graft.streaming.LabelStateStream]] — per-LF label-quality
    *      sufficient stats over three stock-shaped labeling functions;
    *   4. [[graft.streaming.ExperimentStateStream]] — per-(arm, user)
    *      experiment sufficient stats (arm = symbol-hash parity,
    *      conversion = an up-day);
    *   5. [[graft.streaming.IvfIndexStream]] — ANN member append
    *      against a FROZEN codebook trained OFFLINE (step 0) from the
    *      day's batch-parsed payloads, exactly the
    *      train-offline/append-online deployment split q267 pins.
    *
    * Every layer has its own exactly-once story (stream checkpoint,
    * txn-marked manifest commits, value-idempotent sketch union), so
    * re-running the day — or re-delivering the byte-identical AAPL
    * payload under a new filename, the reference's duplicate
    * situation — is a no-op on ALL five state tables (spec-pinned by
    * DemoE2eSpec, which also pins the frozen-assignment invariant
    * across a second day's growth). Run:
    * `sbt "runMain graft.DemoPipeline --e2e /tmp/graft_demo_e2e 2025-10-05"`.
    * Layout under `base`: drop/ ckpt/ accepted/ txtidx/
    * gate_centroids/ symbol_state/ label_state/ exp_state/
    * ivf_centroids/ ivf_members/. */
  def runE2e(spark: SparkSession, base: String, today: String): Unit = {
    import graft.streaming.{ExperimentStateStream, IvfIndexStream, LabelStateStream}
    // step 0a — the scheduler's fetch
    val drop = land(base, today)

    // step 0b — OFFLINE codebook training, once: the IVF serving
    // codebook is trained from the first day's batch-parsed payloads
    // and committed txn-marked (concurrent first runs race safely);
    // the stream only ever APPENDS against it (q267's deployment split)
    val ivfCents = s"$base/ivf_centroids"
    ManifestTable.create(ivfCents)
    if (!ManifestTable.hasCommittedTxn(ivfCents, "e2ecents-0")) {
      import spark.implicits._
      val seedDocs = StreamingIngest.stockDocForm(
        AlphaVantage.tabularize(
          spark.read.schema(AlphaVantage.payloadSchema)
            .option("multiLine", true).json(drop)
            .filter(col("Meta Data").isNotNull &&
              col("`Time Series (Daily)`").isNotNull)).toDF())
      val trained = graft.operators.Similarity.kmeansCentroids(
        seedDocs.select(col("doc_id").as("vec_id"), col("embedding")),
        k = 2, iters = 2)
      ManifestTable.appendWithRetry(spark, ivfCents,
        trained.toSeq.map { case (cid, c) => (cid, c.toSeq) }
          .toDF("cid", "c"),
        txn = Some("e2ecents-0"))
      println(s"[train] frozen ${trained.length}-cell IVF codebook")
    }

    // the three stock-shaped labeling functions (weak supervision over
    // the day's rows: was it an up-day / a calm day / a liquid day)
    val stockLfs = Seq(
      "up" -> (col("close") > col("open")).cast("int"),
      "calm" -> (col("high") - col("low") <= col("open") * 0.04)
        .cast("int"),
      "liquid" -> (col("volume") >= 25000000L).cast("int"))

    // step 1 — ONE AvailableNow job, the composite maintainer sink
    val sink = { (batch: DataFrame, batchId: Long) =>
      batch.persist()
      try {
        val docs = StreamingIngest.stockDocForm(batch)
        GatedIngest.sink(s"$base/accepted", s"$base/txtidx",
          s"$base/gate_centroids", k = 2, textThreshold = 0.8,
          cosThreshold = 0.999, "e2egate")(docs, batchId)
        DauStateStream.sink(s"$base/symbol_state", 12, "e2edau")(
          batch.select(xxhash64(col("symbol")).as("user_id"),
            col("date").cast("timestamp").as("ts")), batchId)
        LabelStateStream.sink(s"$base/label_state", stockLfs,
          "e2elabels")(batch, batchId)
        ExperimentStateStream.sink(s"$base/exp_state", "purchase",
          "e2eexp")(
          batch.select(xxhash64(col("symbol")).as("user_id"),
            when(col("close") > col("open"), "purchase")
              .otherwise("view").as("event_type"),
            col("close").as("value")), batchId)
        IvfIndexStream.sink(s"$base/ivf_members", ivfCents, "e2eivf")(
          docs.select(col("doc_id").as("vec_id"), col("embedding")),
          batchId)
      } finally batch.unpersist()
      ()
    }
    drain(spark, base, drop)(sink)

    // step 2 — read every state surface (the always-on dashboards:
    // state readouts, never log rescans)
    println(s"[admitted] ${tableCount(spark, s"$base/accepted")} docs in " +
      "the accepted manifest")
    if (ManifestTable.currentVersion(s"$base/symbol_state") > 0L)
      ManifestTable.read(spark, s"$base/symbol_state")._2
        .select(col("d"), expr("hll_sketch_estimate(sk)").as("n_symbols"))
        .orderBy(col("d")).show()
    if (ManifestTable.currentVersion(s"$base/label_state") > 0L)
      graft.operators.Labeling.majorityVoteFromState(
        ManifestTable.read(spark, s"$base/label_state")._2)
        .orderBy(col("lf")).show(truncate = false)
    if (ManifestTable.currentVersion(s"$base/exp_state") > 0L)
      graft.operators.Behavior.abTestFromState(
        ManifestTable.read(spark, s"$base/exp_state")._2)
        .show(truncate = false)
    if (ManifestTable.currentVersion(s"$base/ivf_members") > 0L)
      ManifestTable.read(spark, s"$base/ivf_members")._2
        .groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("cid")).show()
    new RunLog(s"$base/etl_log.txt")
      .append(s"e2e run at ${java.time.Instant.now()} ($today)")
  }

  /** MAINTAINED-MONITOR COMPOSITION (VERDICT r15 #5): the always-on
    * story in ONE process — a single AvailableNow job drains the day's
    * payloads through watermark key-dedup into a composite sink that
    * chains (1) gated admission ([[graft.streaming.GatedIngest]]:
    * exact/near text gate, txn-marked), (2) the PER-KEY KLL quantile
    * state ([[graft.streaming.KllStateStream.sinkByKey]] — one sketch
    * per (symbol, day) over close-cents, round 16), and (3) experiment
    * sufficient stats ([[graft.streaming.ExperimentStateStream]]).
    * Then every readout comes FROM the maintained states — the rolling
    * per-symbol median ([[graft.operators.QuantileState
    * .rollingQuantileByKeyFromState]]) and the A/B z-readout — with
    * zero log rescans. Exactly-once end to end: re-running the day (or
    * re-delivering a byte-identical payload) is a no-op on all three
    * state tables (spec-pinned by DemoMonitorsSpec). Run:
    * `sbt "runMain graft.DemoPipeline --monitors /tmp/graft_demo_monitors 2025-10-05"`.
    * Layout under `base`: drop/ ckpt/ accepted/ txtidx/
    * gate_centroids/ quantile_state/ exp_state/. */
  def runMonitors(spark: SparkSession, base: String, today: String): Unit = {
    import graft.streaming.{ExperimentStateStream, KllStateStream}
    val drop = land(base, today)

    val sink = { (batch: DataFrame, batchId: Long) =>
      batch.persist()
      try {
        GatedIngest.sink(s"$base/accepted", s"$base/txtidx",
          s"$base/gate_centroids", k = 2, textThreshold = 0.8,
          cosThreshold = 0.999, "mongate")(
          StreamingIngest.stockDocForm(batch), batchId)
        KllStateStream.sinkByKey(s"$base/quantile_state", "symbol",
          "ts", round(col("close") * 100, 0), 200, "monq")(
          batch.withColumn("ts", col("date").cast("timestamp")), batchId)
        ExperimentStateStream.sink(s"$base/exp_state", "purchase",
          "monexp")(
          batch.select(xxhash64(col("symbol")).as("user_id"),
            when(col("close") > col("open"), "purchase")
              .otherwise("view").as("event_type"),
            col("close").as("value")), batchId)
      } finally batch.unpersist()
      ()
    }
    drain(spark, base, drop)(sink)

    // readouts FROM the maintained states — never the log
    if (ManifestTable.currentVersion(s"$base/quantile_state") > 0L)
      graft.operators.QuantileState.rollingQuantileByKeyFromState(
        ManifestTable.read(spark, s"$base/quantile_state")._2, 7, 500, 200)
        .orderBy(col("key"), col("end_day")).show(truncate = false)
    if (ManifestTable.currentVersion(s"$base/exp_state") > 0L)
      graft.operators.Behavior.abTestFromState(
        ManifestTable.read(spark, s"$base/exp_state")._2)
        .show(truncate = false)
    new RunLog(s"$base/etl_log.txt")
      .append(s"monitors run at ${java.time.Instant.now()} ($today)")
  }

  /** One scheduled STREAMING run over `base` for day `today` — public
    * and session-injected so the spec drives the identical code path
    * the CLI runs. Layout under `base`: drop/ (landed payload files),
    * ckpt/ (stream checkpoint), accepted/ txtidx/ centroids/ (gated
    * admission state), symbol_state/ (per-day HLL sketch state). */
  def runStreaming(spark: SparkSession, base: String, today: String): Unit = {
    // 1. the scheduler's fetch
    val drop = land(base, today)

    // 2. ONE AvailableNow job: watermark key-dedup, then the composite
    //    sink — gated admission + sketch-state maintenance, each with
    //    its own exactly-once story (txn markers / value idempotence)
    val sink = { (batch: DataFrame, batchId: Long) =>
      GatedIngest.sink(s"$base/accepted", s"$base/txtidx",
        s"$base/centroids", k = 2, textThreshold = 0.8,
        cosThreshold = 0.999, "demo")(
        StreamingIngest.stockDocForm(batch), batchId)
      DauStateStream.sink(s"$base/symbol_state", 12, "demo-dau")(
        batch.select(xxhash64(col("symbol")).as("user_id"),
          col("date").cast("timestamp").as("ts")), batchId)
    }
    drain(spark, base, drop)(sink)

    // 3. inspect both state surfaces
    println(s"[admitted] ${tableCount(spark, s"$base/accepted")} docs in " +
      "the accepted manifest")
    if (ManifestTable.currentVersion(s"$base/symbol_state") > 0L)
      ManifestTable.read(spark, s"$base/symbol_state")._2
        .select(col("d"), expr("hll_sketch_estimate(sk)").as("n_symbols"))
        .orderBy(col("d")).show()
    new RunLog(s"$base/etl_log.txt")
      .append(s"streaming run at ${java.time.Instant.now()} ($today)")
  }
}
