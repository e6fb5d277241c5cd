package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.sources.ManifestTable

/** The incremental IVF index maintainer (q267's machinery): map-only
  * assignment of arriving vectors against a FROZEN codebook, appended
  * as txn-marked snapshots. Contracts: (1) appended members carry the
  * same assignments a full rebuild against the same codebook would
  * give (the serve-identity premise), (2) a replayed batch is a no-op,
  * (3) an empty batch commits nothing, (4) an empty codebook
  * fail-fasts instead of training mid-stream. */
class IvfIndexStreamSpec extends SparkSpec {

  private def mkCodebook(dir: String): Unit = {
    import spark.implicits._
    ManifestTable.create(dir)
    // two unit cells on the axes
    ManifestTable.appendWithRetry(spark, dir,
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "c"))
  }

  test("streamed appends == full rebuild assignments; replay + empty " +
      "batches are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("ivfidx")
    val centDir = s"$root/centroids"
    val memDir = s"$root/members"
    mkCodebook(centDir)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(IvfIndexStream.sink(memDir, centDir, "ivf") _)
      .start()
    val b1 = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.2, 0.8)))
    val b2 = Seq((3L, Seq(0.6, 0.5)), (4L, Seq(-1.0, 0.0)))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val members = ManifestTable.read(spark, memDir)._2
      .select($"vec_id", $"cid")
      .as[(Long, Long)].collect().toList.sorted
    // rebuild: all four vectors assigned in one pass, same codebook
    val all = (b1 ++ b2).toDF("vec_id", "embedding")
    val cents = Similarity.centroidsOf(
      ManifestTable.read(spark, centDir)._2)
    val rebuilt = Similarity.assignWith(all, cents)
      .as[(Long, Long)].collect().toList.sorted
    assert(members.size == 4 && members == rebuilt)
    // replayed batch: version frozen, members identical
    val v = ManifestTable.currentVersion(memDir)
    IvfIndexStream.sink(memDir, centDir, "ivf")(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(ManifestTable.currentVersion(memDir) == v)
    // empty batch: no snapshot
    IvfIndexStream.sink(memDir, centDir, "ivf")(
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"), 99L)
    assert(ManifestTable.currentVersion(memDir) == v)
  }

  test("q309 serving off the MAINTAINED labeled index == rebuilt from " +
      "the raw corpus (serve identity at the ranking-metric level)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("ivfidx3")
    val centDir = s"$root/centroids"
    val memDir = s"$root/members"
    mkCodebook(centDir)
    // labeled vector stream: the sink keeps the label column, so the
    // maintained member table serves ranking metrics directly
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "label", "embedding")
      .writeStream
      .foreachBatch(IvfIndexStream.sink(memDir, centDir, "ivfl") _)
      .start()
    val b1 = Seq((0L, "a", Seq(0.9, 0.1)), (1L, "b", Seq(0.1, 0.9)),
      (2L, "a", Seq(0.8, 0.3)))
    val b2 = Seq((3L, "b", Seq(0.2, 0.7)), (4L, "a", Seq(0.7, 0.1)),
      (5L, "b", Seq(-0.1, 0.8)))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val cents = Similarity.centroidsOf(
      ManifestTable.read(spark, centDir)._2)
    val maintained = ManifestTable.read(spark, memDir)._2
    val raw = (b1 ++ b2).toDF("vec_id", "label", "embedding")
    // the maintained cells are the ones serving would assign, and the
    // maintained rows serve the same metrics as the raw corpus
    assert(maintained.select($"vec_id", $"cid")
        .as[(Long, Long)].collect().toList.sorted ==
      Similarity.assignWith(raw, cents).as[(Long, Long)].collect().toList.sorted)
    val served = Similarity.ivfRankingMetricsWith(
      maintained.drop("cid"), cents, 1, 2, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    val rebuilt = Similarity.ivfRankingMetricsWith(raw, cents, 1, 2, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(served == rebuilt && served.head._1 == 2L)
  }

  test("ivfRebuild (r16): retrain + reassign + txn-marked double swap " +
      "— rebuild == retrain-from-scratch at the metric level, replay " +
      "is a no-op, the pre-swap snapshot still serves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("ivfreb")
    val centDir = s"$root/centroids"
    val memDir = s"$root/members"
    mkCodebook(centDir) // axis cells the corpus below has drifted from
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "label", "embedding")
      .writeStream
      .foreachBatch(IvfIndexStream.sink(memDir, centDir, "reb") _)
      .start()
    val b1 = Seq((0L, "a", Seq(0.9, 0.9)), (1L, "b", Seq(-0.8, 0.7)),
      (2L, "a", Seq(0.8, 0.8)), (3L, "b", Seq(-0.7, 0.8)))
    val b2 = Seq((4L, "a", Seq(0.85, 0.95)), (5L, "b", Seq(-0.75, 0.75)),
      (6L, "a", Seq(0.95, 0.85)), (7L, "b", Seq(-0.85, 0.65)))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList
    def metricRows(members: org.apache.spark.sql.DataFrame,
        cents: Array[(Long, Array[Double])]) =
      rows(Similarity.ivfRankingMetricsWith(members.drop("cid"), cents,
        2, 2, 3))
    val oldCents = Similarity.centroidsOf(
      ManifestTable.read(spark, centDir)._2)
    val vMemOld = ManifestTable.currentVersion(memDir)
    val preServe = metricRows(
      ManifestTable.read(spark, memDir)._2, oldCents)

    Similarity.ivfRebuild(spark, memDir, centDir, 2, 3, "rebuild-1")

    // retrain-from-scratch identity: codebook AND assignments match a
    // one-shot train+assign over the raw corpus
    val all = (b1 ++ b2).toDF("vec_id", "label", "embedding")
    val scratch = Similarity.kmeansCentroids(
      all.select($"vec_id", $"embedding"), 2, 3)
    val newCents = Similarity.centroidsOf(
      ManifestTable.read(spark, centDir)._2)
    assert(newCents.map(c => (c._1, c._2.toSeq)).toSeq ==
      scratch.map(c => (c._1, c._2.toSeq)).toSeq)
    val maintained = ManifestTable.read(spark, memDir)._2
    assert(maintained.select($"vec_id", $"cid")
        .as[(Long, Long)].collect().toList.sorted ==
      Similarity.assignWith(all, scratch)
        .as[(Long, Long)].collect().toList.sorted)
    // the rebuilt cells actually split the drifted corpus (the axis
    // codebook put everything in one serving regime)
    assert(maintained.select($"cid").distinct().count() == 2L)
    // serve-from-rebuilt-index == serve-from-scratch (q267's invariant
    // through the rebuild)
    assert(metricRows(maintained, newCents) ==
      rows(Similarity.ivfRankingMetricsWith(all, scratch, 2, 2, 3)))
    // replay: both tables' versions frozen
    val vm = ManifestTable.currentVersion(memDir)
    val vc = ManifestTable.currentVersion(centDir)
    Similarity.ivfRebuild(spark, memDir, centDir, 2, 3, "rebuild-1")
    assert(ManifestTable.currentVersion(memDir) == vm &&
      ManifestTable.currentVersion(centDir) == vc)
    // serve-continuity: a reader pinned to the pre-swap member
    // snapshot (+ its codebook) reads the exact pre-rebuild answer
    assert(metricRows(ManifestTable.readVersion(spark, memDir, vMemOld),
      oldCents) == preServe)
  }

  test("fail-fasts on an empty codebook (train offline first)") {
    import spark.implicits._
    val root = scratchDir("ivfidx2")
    ManifestTable.create(s"$root/centroids")
    val e = intercept[IllegalArgumentException] {
      IvfIndexStream.sink(s"$root/members", s"$root/centroids", "ivf")(
        Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"), 0L)
    }
    assert(e.getMessage.contains("no frozen codebook"))
  }
}
