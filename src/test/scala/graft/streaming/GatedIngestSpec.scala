package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.{ColumnBridge, QueryCapture}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.operators.Pin
import graft.sources.ManifestTable

/** The end-to-end gated-ingest pipeline (VERDICT r6 #7): file-drop →
  * stream-side watermark dedup → text gate (indexed incremental dedup)
  * → semantic gate (frozen codebook) → single txn-marked commit.
  * Covers per-gate attribution on hand-built batches, and the
  * reference's duplicate-AAPL-payload replay (AAPL_2025-10-05.json ==
  * AAPL_2025-10-06.json — the d1/d2 fixtures are byte-identical) across
  * SEPARATE jobs and a restart replay, where stream state cannot help
  * and exactly-once must come from the persisted gates + txn marker. */
class GatedIngestSpec extends SparkSpec {

  private def dirs(): (String, String, String) = {
    val base = scratchDir("gated")
    (s"$base/accepted", s"$base/txtidx", s"$base/centroids")
  }

  private def acceptedIds(dir: String): Set[Long] = {
    import spark.implicits._
    ManifestTable.read(spark, dir)._2.select($"doc_id").as[Long]
      .collect().toSet
  }

  test("each gate drops its own kind; replayed batch is a no-op") {
    import spark.implicits._
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "spec") _

    // batch 0: two novels + one in-batch exact text dup (collapses to 1)
    sink(Seq(
      (1L, "the quick brown fox jumps over the lazy dog",
        Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, "pack my box with five dozen liquor jugs",
        Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, "the quick brown fox jumps over the lazy dog",
        Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("doc_id", "text", "embedding"), 0L)
    assert(acceptedIds(accepted) == Set(1L, 2L))

    // replay of batch 0: txn marker short-circuits, nothing changes
    sink(Seq((1L, "the quick brown fox jumps over the lazy dog",
      Seq(1.0, 0.0, 0.0, 0.0))).toDF("doc_id", "text", "embedding"), 0L)
    assert(acceptedIds(accepted) == Set(1L, 2L))

    // batch 1, one doc per fate:
    //   10: exact text dup of 1        -> text gate (exact)
    //   11: near text dup of 2         -> text gate (near, J >= 0.5)
    //   12: novel text, cos vs 2 ~ 1.0 -> semantic gate
    //   13: novel text + novel vector  -> admitted
    //   14: novel text, vector parallel to 13's (same batch)
    //                                  -> semantic gate (in-batch)
    sink(Seq(
      (10L, "the quick brown fox jumps over the lazy dog",
        Seq(0.0, 0.0, 1.0, 0.0)),
      (11L, "pack my box with five dozen liquor cups",
        Seq(0.0, 0.0, 0.0, 1.0)),
      (12L, "completely different words about completely different things",
        Seq(0.01, 0.999, 0.0, 0.0)),
      (13L, "sphinx of black quartz judge my vow today now",
        Seq(0.5, 0.5, 0.7, 0.0)),
      (14L, "how vexingly quick daft zebras jump around today",
        Seq(1.0, 1.0, 1.4, 0.0)))
      .toDF("doc_id", "text", "embedding"), 1L)
    assert(acceptedIds(accepted) == Set(1L, 2L, 13L))
    // the codebook trained on batch 0 stays frozen at k rows
    assert(ManifestTable.read(spark, centroids)._2.count() == 2)

    // the accepted table carries the frozen-cell assignment; the text
    // index tracks exactly the accepted docs
    val acc = ManifestTable.read(spark, accepted)._2
    assert(acc.columns.toSeq ==
      Seq("doc_id", "text", "embedding", "cid"))
    assert(ManifestTable.read(spark, txtIdx)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 13L))
  }

  private val fixtures = getClass.getResource("/raw_data").getPath

  /** The library's stock → (doc_id, text, embedding) doc form — shared
    * with the `--streaming` demo pipeline (see its scaladoc for the
    * direction-bearing embedding rationale). */
  private def docForm(df: DataFrame): DataFrame =
    StreamingIngest.stockDocForm(df)

  private def runJob(drop: String, ckpt: String, sink: (DataFrame, Long) => Unit): Unit = {
    val q = docForm(StreamingIngest.withKeyDedup(
        StreamingIngest.stockStream(spark, drop)))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
  }

  test("duplicate AAPL payload lands exactly once across separate jobs " +
      "and a restart replay (the reference's 10-05 == 10-06 situation)") {
    import spark.implicits._
    val (accepted, txtIdx, centroids) = dirs()
    val base = scratchDir("gatede2e")
    val sinkA = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.8, cosThreshold = 0.999, "jobA") _

    // job A: AAPL day file + GOOG day file -> 5 + 3 rows, all admitted
    val dropA = new java.io.File(s"$base/dropA"); dropA.mkdirs()
    Seq("AAPL_d1", "GOOG_d1").foreach { f =>
      Files.copy(java.nio.file.Paths.get(s"$fixtures/$f.json"),
        java.nio.file.Paths.get(s"${dropA.getPath}/$f.json"))
    }
    runJob(dropA.getPath, s"$base/ckptA", sinkA)
    assert(acceptedIds(accepted).size == 8)

    // job B — a separate backfill job (own checkpoint, FRESH stream
    // state, so watermark dedup cannot help) re-delivers the
    // byte-identical AAPL payload under a new filename, exactly the
    // reference's AAPL_2025-10-05.json == AAPL_2025-10-06.json pair:
    // every row is an exact text dup -> the PERSISTED text gate drops
    // all five; nothing lands twice
    val dropB = new java.io.File(s"$base/dropB"); dropB.mkdirs()
    Files.copy(java.nio.file.Paths.get(s"$fixtures/AAPL_d2.json"),
      java.nio.file.Paths.get(s"${dropB.getPath}/AAPL_d2.json"))
    runJob(dropB.getPath, s"$base/ckptB",
      GatedIngest.sink(accepted, txtIdx, centroids,
        k = 2, textThreshold = 0.8, cosThreshold = 0.999, "jobB") _)
    assert(acceptedIds(accepted).size == 8)

    // restart replay of job A's batch 0 (crash after commit, before the
    // checkpoint advanced): the txn marker makes the re-delivery free
    sinkA(docForm(graft.sources.AlphaVantage.tabularize(
      graft.sources.AlphaVantage.validate(
        graft.sources.AlphaVantage.readRaw(spark, dropA.getPath))._1)
      .toDF()), 0L)
    assert(acceptedIds(accepted).size == 8)

    // late restated history (job B run 2): the overlap file repeats two
    // known days (exact dups, text gate) and adds ONE new day, which
    // passes both gates (max cos vs any accepted vector = 0.9917)
    Files.copy(java.nio.file.Paths.get(s"$fixtures/AAPL_overlap.json"),
      java.nio.file.Paths.get(s"${dropB.getPath}/AAPL_overlap.json"))
    runJob(dropB.getPath, s"$base/ckptB",
      GatedIngest.sink(accepted, txtIdx, centroids,
        k = 2, textThreshold = 0.8, cosThreshold = 0.999, "jobB") _)
    val after = ManifestTable.read(spark, accepted)._2
    assert(after.count() == 9)
    assert(after.filter($"text".contains("2025-10-06")).count() == 1)
  }

  test("a lost codebook with a non-empty accepted corpus fails fast " +
      "instead of silently retraining incomparable cids") {
    import spark.implicits._
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "speclost") _
    sink(Seq(
      (1L, "alpha bravo charlie delta echo", Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, "foxtrot golf hotel india juliet", Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("doc_id", "text", "embedding"), 0L)
    assert(acceptedIds(accepted) == Set(1L, 2L))
    // simulate losing the centroid table: point the sink at a FRESH
    // (empty) centroid dir while accepted still has rows — gate 2's
    // stored cids would be incomparable with a retrained codebook
    val lostCentroids = scratchDir("lostc") + "/c"
    val sinkLost = GatedIngest.sink(accepted, txtIdx, lostCentroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "speclost2") _
    val ex = intercept[IllegalArgumentException] {
      sinkLost(Seq(
        (3L, "kilo lima mike november oscar", Seq(0.0, 0.0, 1.0, 0.0)))
        .toDF("doc_id", "text", "embedding"), 0L)
    }
    assert(ex.getMessage.contains("refusing to retrain"))
    assert(acceptedIds(accepted) == Set(1L, 2L)) // nothing was admitted
  }

  private def jobs(body: => Unit): Int =
    org.apache.spark.graft.JobCount(spark.sparkContext)(body)._2

  private def docs(rows: (Long, String, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "embedding")
  }

  private def indexIds(dir: String): Set[Long] = {
    import spark.implicits._
    ManifestTable.read(spark, dir)._2.select($"doc_id").as[Long]
      .collect().toSet
  }

  private val fox = "the quick brown fox jumps over the lazy dog"
  private val box = "pack my box with five dozen liquor jugs"
  private val sphinx = "sphinx of black quartz judge my vow today now"

  test("steady-state micro-batch: <= 8 jobs, and 0 in the pre-probe heal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "budget") _
    ManifestTable.create(accepted)
    ManifestTable.create(txtIdx)
    // the jobs of each micro-batch, and of the heal just before it
    val batchJobs = scala.collection.mutable.Map[Long, (Int, Int)]()
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = mem.toDF().toDF("doc_id", "text", "embedding")
      .dropDuplicates("doc_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val heal = jobs(GatedIngest.catchUpIndex(spark, accepted, txtIdx))
        batchJobs(id) = (heal, jobs(sink(batch, id)))
      }
      .start()
    mem.addData((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0)))
    q.processAllAvailable()
    mem.addData((3L, sphinx, Seq(0.0, 0.0, 1.0, 0.0)))
    q.processAllAvailable()
    mem.addData((10L, fox, Seq(0.0, 0.0, 0.0, 1.0)), // exact text dup of 1
      (11L, "how vexingly quick daft zebras jump around today",
        Seq(0.5, 0.5, 0.7, 0.0)))
    q.processAllAvailable()
    q.stop()
    assert(acceptedIds(accepted) == Set(1L, 2L, 3L, 11L))
    assert(indexIds(txtIdx) == Set(1L, 2L, 3L, 11L))
    val (heal, n) = batchJobs(2L)
    assert(heal == 0)
    assert(n <= 8, s"a steady-state micro-batch ran $n jobs")
  }

  private object Plan extends AdaptiveSparkPlanHelper

  test("gate 2 streams the accepted corpus past the broadcast batch: the " +
      "commit runs no shuffled join and shuffles no accepted row") {
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "shape") _
    sink(docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0))), 0L)
    // 4 is a near-parallel vector of accepted doc 2 under a novel text
    val execs = QueryCapture(spark)(sink(docs(
      (3L, sphinx, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, "how vexingly quick daft zebras jump around today",
        Seq(0.01, 0.999, 0.0, 0.0))), 1L))._2
    assert(acceptedIds(accepted) == Set(1L, 2L, 3L))
    def writesTo(p: SparkPlan, dir: String): Boolean = Plan.collect(p) {
      case w: DataWritingCommandExec => w.cmd
    }.exists {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString.contains(dir)
      case _ => false
    }
    def scans(p: SparkPlan, dir: String): Int = Plan.collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
    }.size
    val plans = execs.map(_.qe.executedPlan)
    // the commit writes the local batch: it scans no file at all
    val commits = plans.filter(writesTo(_, accepted))
    assert(commits.size == 1, execs.map(_.action))
    assert(Plan.collect(commits.head) { case s: FileSourceScanExec => s }.isEmpty,
      s"the commit scans files:\n${commits.head}")
    // the two loser-id probes: gate 1 reads accepted's texts and the text
    // index, gate 2 accepted's vectors; each reads a table once
    val probes = plans.filter(p => scans(p, accepted) > 0 && !writesTo(p, txtIdx))
    assert(probes.size == 2, execs.map(_.action))
    probes.foreach(p => assert(scans(p, accepted) == 1, s"\n$p"))
    assert(probes.map(scans(_, txtIdx)).sorted == Seq(0, 1), probes)
    probes.foreach { plan =>
      val shuffledJoins = Plan.collect(plan) {
        case j: ShuffledHashJoinExec => j
        case j: SortMergeJoinExec => j
      }
      assert(shuffledJoins.isEmpty, s"\n$plan")
      // no corpus row is shuffled: the probes are map-only and the
      // loser ids go straight to the driver
      val corpusShuffles = Plan.collect(plan) {
        case e: ShuffleExchangeExec
            if scans(e.child, accepted) + scans(e.child, txtIdx) > 0 => e
      }
      assert(corpusShuffles.isEmpty, s"\n$plan")
    }
  }

  test("a daily AvailableNow run's data micro-batch compiles within budget") {
    val (accepted, txtIdx, centroids) = dirs()
    val base = scratchDir("gatedcompile")
    val drop = new java.io.File(s"$base/drop"); drop.mkdirs()
    def land(f: String): Unit =
      Files.copy(java.nio.file.Paths.get(s"$fixtures/$f.json"),
        java.nio.file.Paths.get(s"${drop.getPath}/$f.json")): Unit
    def gate(streamId: String)(batch: DataFrame, id: Long): Unit =
      GatedIngest.sink(accepted, txtIdx, centroids,
        k = 2, textThreshold = 0.8, cosThreshold = 0.999, streamId)(batch, id)
    // a non-empty accepted corpus, so both days' batches run both probes
    gate("seed")(docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0))), 0L)
    // compiles of each micro-batch that committed to accepted
    val compiles = scala.collection.mutable.Buffer[Long]()
    val sink: (DataFrame, Long) => Unit = { (batch, id) =>
      val (v, n) = (ManifestTable.currentVersion(accepted),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      gate("daily")(batch, id)
      if (ManifestTable.currentVersion(accepted) != v)
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n: Unit
    }
    // two days, each one AvailableNow run of its own; the second day
    // repeats two known days (text-gate losers) and adds one new one
    Seq("AAPL_d1", "GOOG_d1").foreach(land)
    runJob(drop.getPath, s"$base/ckpt", sink)
    land("AAPL_overlap")
    runJob(drop.getPath, s"$base/ckpt", sink)
    assert(acceptedIds(accepted).size == 2 + 9)
    assert(compiles.size == 2, compiles)
    // measured 20. Each run plans in a fresh clone of the session, with
    // a class loader of its own, and Spark keys its codegen cache on the
    // loader too: a day compiles again what the day before compiled, so
    // the count tracks how many plans a micro-batch runs
    assert(compiles(1) <= 20, s"the second day's micro-batch compiled " +
      s"${compiles(1)} classes")
  }

  test("accepted committed but its index append skipped: the next batch " +
      "heals the index before probing and admits no near-duplicate") {
    import spark.implicits._
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "crash") _
    sink(docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0))), 0L)
    // batch 1's accepted commit lands; the crash comes before its catch-up
    val schema = ManifestTable.read(spark, accepted)._2.schema
    ManifestTable.appendWithRetry(spark, accepted,
      Seq((5L, "how vexingly quick daft zebras jump around today",
        Seq(0.0, 0.0, 1.0, 0.0), 0L)).toDF("doc_id", "text", "embedding", "cid")
        .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*),
      txn = Some("crash-1"))
    assert(indexIds(txtIdx) == Set(1L, 2L))
    // batch 2: a near text dup of the unindexed doc 5 with an unrelated
    // vector — only the healed text index can catch it
    sink(docs((6L, "how vexingly quick daft zebras jump around tonight",
      Seq(0.0, 0.0, 0.0, 1.0))), 2L)
    assert(acceptedIds(accepted) == Set(1L, 2L, 5L))
    assert(indexIds(txtIdx) == Set(1L, 2L, 5L))
  }

  test("a compacted accepted table sends the catch-up to the full " +
      "anti-join, which leaves the index content unchanged") {
    import spark.implicits._
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "compact") _
    sink(docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0))), 0L)
    sink(docs((2L, box, Seq(0.0, 1.0, 0.0, 0.0))), 1L)
    def index = ManifestTable.read(spark, txtIdx)._2
      .select($"doc_id", $"n_sh").as[(Long, Int)].collect().sorted.toSeq
    val before = index
    ManifestTable.compact(spark, accepted, nFiles = 1)
    // the compaction rewrote accepted's files: no added-files shortcut
    assert(jobs(GatedIngest.catchUpIndex(spark, accepted, txtIdx)) > 0)
    assert(index == before)
    // ... and its marker commit makes the next catch-up free again
    assert(jobs(GatedIngest.catchUpIndex(spark, accepted, txtIdx)) == 0)
    assert(index == before)
  }

  test("a replayed batch leaves the index version unchanged and runs no job") {
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "replay") _
    val b0 = docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0)))
    sink(b0, 0L)
    val (av, iv) = (ManifestTable.currentVersion(accepted),
      ManifestTable.currentVersion(txtIdx))
    assert(jobs(sink(b0, 0L)) == 0)
    assert(ManifestTable.currentVersion(accepted) == av)
    assert(ManifestTable.currentVersion(txtIdx) == iv)
    // a replay after the text index was wiped still owes, and runs, the
    // catch-up; accepted stays untouched
    ManifestTable.overwrite(spark, txtIdx,
      ManifestTable.read(spark, txtIdx)._2.limit(0), iv)
    assert(ManifestTable.readIfAny(spark, txtIdx)._2.forall(_.isEmpty))
    sink(b0, 0L)
    assert(ManifestTable.currentVersion(accepted) == av)
    assert(acceptedIds(accepted) == Set(1L, 2L))
    assert(indexIds(txtIdx) == Set(1L, 2L))
  }

  test("a data micro-batch leaves none of its RDDs persisted") {
    val (accepted, txtIdx, centroids) = dirs()
    val sink = GatedIngest.sink(accepted, txtIdx, centroids,
      k = 2, textThreshold = 0.5, cosThreshold = 0.99, "pins") _
    sink(docs((1L, fox, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, box, Seq(0.0, 1.0, 0.0, 0.0))), 0L)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // accepted is non-empty, so gate 1 probes it
    sink(docs((3L, sphinx, Seq(0.0, 0.0, 1.0, 0.0)),
      (10L, fox, Seq(0.0, 0.0, 0.0, 1.0))), 1L)
    assert(acceptedIds(accepted) == Set(1L, 2L, 3L))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, left.values.mkString("; "))
  }

  test("a scope that closes leaves another thread's open-scope pin alone") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    def persisted(df: DataFrame): Boolean =
      ColumnBridge.persistedRdd(df).exists(r =>
        spark.sparkContext.getPersistentRDDs.contains(r.id))
    val (pinned, closing) = (new CountDownLatch(1), new CountDownLatch(1))
    @volatile var theirs: DataFrame = null
    // a stream thread's sink: a pin inside its own scope, held open
    val stream = new Thread(() => {
      Pin.scope {
        theirs = Pin(spark.range(10).toDF("id"))
        pinned.countDown()
        closing.await()
        spark.range(1).toDF("id")
      }: Unit
    })
    stream.setDaemon(true)
    stream.start()
    try {
      assert(pinned.await(1, TimeUnit.MINUTES))
      var mine: DataFrame = null
      Pin.scope {
        mine = Pin(spark.range(5).toDF("id"))
        spark.range(1).toDF("id")
      }
      assert(!persisted(mine))
      assert(persisted(theirs))
    } finally closing.countDown()
    stream.join()
    assert(!persisted(theirs))
  }
}
