package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Labeling
import graft.sources.ManifestTable

/** The q254/q264 label-quality readouts maintained FROM A STREAM: per-
  * batch per-LF sufficient stats → exact merge → one txn-marked
  * snapshot. Contracts: (1) readouts over the streamed state are
  * VALUE-IDENTICAL to the full-log majorityVote/weightedVote (the vote
  * is row-local, so batch states sum exactly — no approximation), (2)
  * a replayed batch is a no-op (exactly-once across restart), (3) an
  * empty micro-batch commits nothing. */
class LabelStateStreamSpec extends SparkSpec {

  // the three LFs of the hand-traced LabelingSpec fixture
  private val lfs = Seq("a" -> col("a"), "b" -> col("b"),
    "c" -> col("c"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("lf")).collect().map(_.toSeq).toList

  test("streamed state readouts == full-log majorityVote/weightedVote;" +
      " replay + empty batches are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("labelstate") + "/t"
    val mem = MemoryStream[(Int, Int, Int)]
    val q = mem.toDF().toDF("a", "b", "c")
      .writeStream
      .foreachBatch(LabelStateStream.sink(dir, lfs, "labels") _)
      .start()
    // the LabelingSpec fixture split across two batches
    val b1 = Seq((1, 1, 1), (1, 1, 0))
    val b2 = Seq((1, 0, 0), (0, 0, 0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).toDF("a", "b", "c")
    val state = ManifestTable.read(spark, dir)._2
    // state == full-log sufficient stats, row for row
    assert(rows(state) == rows(Labeling.labelState(all, lfs)))
    // audit readout from state == the full-log q254 form
    assert(rows(Labeling.majorityVoteFromState(state)) ==
      rows(Labeling.majorityVote(all, lfs)))
    // weighted revote with state-sourced pass-1 weights == the
    // full-log q264 form (state covers exactly `all` here)
    assert(rows(Labeling.weightedVoteFromState(all, lfs, state)) ==
      rows(Labeling.weightedVote(all, lfs)))
    // replayed batch: version frozen, state identical
    val v = ManifestTable.currentVersion(dir)
    LabelStateStream.sink(dir, lfs, "labels")(
      b1.toDF("a", "b", "c"), 0L)
    assert(ManifestTable.currentVersion(dir) == v)
    assert(rows(ManifestTable.read(spark, dir)._2) == rows(state))
    // empty batch: no snapshot
    LabelStateStream.sink(dir, lfs, "labels")(
      Seq.empty[(Int, Int, Int)].toDF("a", "b", "c"), 99L)
    assert(ManifestTable.currentVersion(dir) == v)
  }

  test("split-batch mergeLabelState == full rebuild") {
    import spark.implicits._
    val df = Seq((1, 1, 1), (1, 1, 0), (1, 0, 0), (0, 0, 0))
      .toDF("a", "b", "c")
    val full = rows(Labeling.labelState(df, lfs))
    val merged = rows(Labeling.mergeLabelState(
      Labeling.labelState(df.limit(2), lfs),
      Labeling.labelState(df.except(df.limit(2)), lfs)))
    assert(full.nonEmpty && merged == full)
  }

  test("weightedVoteFromState fail-fasts when an LF is missing from " +
      "the state") {
    import spark.implicits._
    val df = Seq((1, 1, 1), (0, 0, 0)).toDF("a", "b", "c")
    val partial = Labeling.labelState(df,
      Seq("a" -> col("a"), "b" -> col("b")))
    val e = intercept[IllegalArgumentException] {
      Labeling.weightedVoteFromState(df, lfs, partial)
    }
    assert(e.getMessage.contains("missing from the label state"))
  }
}
