package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.sources.ManifestTable

/** The streaming incremental-dedup loop (X7): micro-batches through
  * `foreachBatch` → probe the persisted shingle index → commit survivors
  * → catch the index up. Covers exactly-once replay and the crash-heal
  * (corpus-ahead-of-index) path the scaladoc promises. */
class StreamingDedupSpec extends SparkSpec {

  private def dirs(): (String, String) = {
    val base = Files.createTempDirectory("sdedup").toString
    (s"$base/corpus", s"$base/index")
  }

  test("micro-batches dedup against the growing corpus; replayed batch " +
      "is a no-op; in-batch exact dups collapse") {
    import spark.implicits._
    val (corpusDir, indexDir) = dirs()
    val sink = StreamingDedup.dedupSink(corpusDir, indexDir, 0.5, "spec") _

    // batch 0: novel docs + one in-batch exact dup (id 3 copies id 1)
    sink(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 0L)
    val c0 = ManifestTable.read(spark, corpusDir)._2
    assert(c0.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(ManifestTable.read(spark, indexDir)._2.count() == 2)

    // replay of batch 0 (same batchId): txn marker makes it a no-op
    sink(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 0L)
    assert(ManifestTable.read(spark, corpusDir)._2.count() == 2)

    // batch 1: exact dup of corpus (10), near-dup of corpus (11), novel (12)
    sink(Seq(
      (10L, "pack my box with five dozen liquor jugs"),
      (11L, "the quick brown fox jumps over the lazy cat"),
      (12L, "sphinx of black quartz judge my vow today now"))
      .toDF("doc_id", "text"), 1L)
    val c1 = ManifestTable.read(spark, corpusDir)._2
    assert(c1.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 12L))

    // batch 2: near-dup of BATCH 1's survivor — the index grew, so it is
    // caught; proves the loop dedups against the corpus AS OF now
    sink(Seq((20L, "sphinx of black quartz judge my vow today not"))
      .toDF("doc_id", "text"), 2L)
    assert(ManifestTable.read(spark, corpusDir)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 12L))
    assert(ManifestTable.read(spark, indexDir)._2.count() == 3)
  }

  test("sink heals a corpus-ahead-of-NONEMPTY-index gap BEFORE probing " +
      "(crash between the two commits cannot admit near-dups)") {
    import spark.implicits._
    val (corpusDir, indexDir) = dirs()
    ManifestTable.create(corpusDir)
    ManifestTable.create(indexDir)
    // simulate the crash window: TWO corpus docs committed, only the
    // first made it into the index — the index is non-empty AND stale,
    // so a probe without the pre-heal would consult it and admit a
    // near-dup of doc 2 permanently
    val d1 = (1L, "pack my box with five dozen liquor jugs")
    val d2 = (2L, "how vexingly quick daft zebras jump around today")
    ManifestTable.appendWithRetry(spark, corpusDir,
      Seq(d1, d2).toDF("doc_id", "text"))
    ManifestTable.appendWithRetry(spark, indexDir,
      graft.operators.Dedup.shingleArrays(Seq(d1).toDF("doc_id", "text")))
    val sink = StreamingDedup.dedupSink(corpusDir, indexDir, 0.5, "heal") _
    sink(Seq((3L, "how vexingly quick daft zebras jump around tonight"))
      .toDF("doc_id", "text"), 0L)
    // near-dup of the UNINDEXED doc 2: rejected because the sink healed
    // the index before probing
    assert(ManifestTable.read(spark, corpusDir)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(ManifestTable.read(spark, indexDir)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("replayed batch short-circuits on the txn marker (no probe work) " +
      "but still owes the index catch-up") {
    import spark.implicits._
    val (corpusDir, indexDir) = dirs()
    val sink = StreamingDedup.dedupSink(corpusDir, indexDir, 0.5, "rp") _
    sink(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 7L)
    // wipe the index to prove the replay path performs catch-up
    val idxV = ManifestTable.currentVersion(indexDir)
    ManifestTable.overwrite(spark, indexDir,
      ManifestTable.read(spark, indexDir)._2.limit(0), idxV)
    sink(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 7L) // same txn: corpus untouched
    assert(ManifestTable.read(spark, corpusDir)._2.count() == 1)
    assert(ManifestTable.read(spark, indexDir)._2.count() == 1)
  }

  test("wired through a real writeStream.foreachBatch query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (corpusDir, indexDir) = dirs()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingDedup.dedupSink(corpusDir, indexDir, 0.5, "wire") _)
      .start()
    mem.addData((1L, "the quick brown fox jumps over the lazy dog"))
    q.processAllAvailable()
    mem.addData((2L, "the quick brown fox jumps over the lazy cat"), // near-dup
      (3L, "pack my box with five dozen liquor jugs"))               // novel
    q.processAllAvailable()
    q.stop()
    assert(ManifestTable.read(spark, corpusDir)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(ManifestTable.read(spark, indexDir)._2.count() == 2)
  }

  test("a corpus commit whose catch-up never ran is healed from the " +
      "files it added, before the next probe") {
    import spark.implicits._
    val (corpusDir, indexDir) = dirs()
    val sink = StreamingDedup.dedupSink(corpusDir, indexDir, 0.5, "gap") _
    sink(Seq((1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text"), 0L)
    // batch 1's corpus commit lands; the crash comes before its catch-up
    ManifestTable.appendWithRetry(spark, corpusDir,
      Seq((2L, "how vexingly quick daft zebras jump around today"))
        .toDF("doc_id", "text"), txn = Some("gap-1"))
    sink(Seq((3L, "how vexingly quick daft zebras jump around tonight"))
      .toDF("doc_id", "text"), 2L)
    assert(ManifestTable.read(spark, corpusDir)._2
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(ManifestTable.read(spark, indexDir)._2
      .select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
