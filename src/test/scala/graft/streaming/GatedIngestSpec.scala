package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
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
    val base = Files.createTempDirectory("gated").toString
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
    sink(Seq(
      (10L, "the quick brown fox jumps over the lazy dog",
        Seq(0.0, 0.0, 1.0, 0.0)),
      (11L, "pack my box with five dozen liquor cups",
        Seq(0.0, 0.0, 0.0, 1.0)),
      (12L, "completely different words about completely different things",
        Seq(0.01, 0.999, 0.0, 0.0)),
      (13L, "sphinx of black quartz judge my vow today now",
        Seq(0.5, 0.5, 0.7, 0.0)))
      .toDF("doc_id", "text", "embedding"), 1L)
    assert(acceptedIds(accepted) == Set(1L, 2L, 13L))

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
    val base = Files.createTempDirectory("gatede2e").toString
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
    val lostCentroids = Files.createTempDirectory("lostc").toString + "/c"
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

  test("a steady-state data micro-batch stays within 12 jobs; the " +
      "pre-probe heal runs none") {
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
        val heal = jobs(StreamingDedup.catchUpIndex(spark, accepted, txtIdx))
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
    assert(n <= 12, s"a steady-state micro-batch ran $n jobs")
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
    assert(jobs(StreamingDedup.catchUpIndex(spark, accepted, txtIdx)) > 0)
    assert(index == before)
    // ... and its marker commit makes the next catch-up free again
    assert(jobs(StreamingDedup.catchUpIndex(spark, accepted, txtIdx)) == 0)
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
  }
}
