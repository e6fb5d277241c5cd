package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Behavior
import graft.sources.ManifestTable

/** The q210/q241 experiment readouts maintained FROM A STREAM: per-
  * batch (variant, user) sufficient stats → exact merge → one
  * txn-marked snapshot. Contracts: (1) readouts over the streamed
  * state are VALUE-IDENTICAL to the full-log abTest/welchT (the state
  * is exact, not a sketch — and users spanning batches prove the
  * merge), (2) a replayed batch is a no-op (exactly-once across
  * restart), (3) an empty micro-batch commits nothing. */
class ExperimentStateStreamSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toList

  test("streamed state readouts == full-log abTest/welchT; replay + " +
      "empty batches are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("expstate") + "/t"
    val mem = MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("user_id", "event_type", "value")
      .writeStream
      .foreachBatch(ExperimentStateStream.sink(dir, "purchase", "exp") _)
      .start()
    // users 0/2 are arm 0, users 1/3 arm 1; user 2 and 3 span batches
    val b1 = Seq((0L, "view", 1.0), (2L, "purchase", 3.0),
      (1L, "view", 2.0), (3L, "view", 4.0))
    val b2 = Seq((2L, "view", 1.5), (3L, "purchase", 0.5),
      (1L, "purchase", 2.5))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).toDF("user_id", "event_type", "value")
    val state = ManifestTable.read(spark, dir)._2
    val arm = pmod($"user_id", lit(2L))
    assert(rows(Behavior.abTestFromState(state)) ==
      rows(Behavior.abTest(all, "user_id", "event_type", "purchase",
        arm)))
    assert(rows(Behavior.welchTFromState(state)) ==
      rows(Behavior.welchT(all, "user_id", round($"value" * 100, 0),
        arm)))
    // replayed batch: version frozen, state identical
    val v = ManifestTable.currentVersion(dir)
    ExperimentStateStream.sink(dir, "purchase", "exp")(
      b1.toDF("user_id", "event_type", "value"), 0L)
    assert(ManifestTable.currentVersion(dir) == v)
    // empty batch: no snapshot
    ExperimentStateStream.sink(dir, "purchase", "exp")(
      Seq.empty[(Long, String, Double)]
        .toDF("user_id", "event_type", "value"), 99L)
    assert(ManifestTable.currentVersion(dir) == v)
  }

  test("split-batch mergeExperimentState == full rebuild") {
    import spark.implicits._
    val ev = Seq((0L, "view", 1.0), (2L, "purchase", 3.0),
      (1L, "view", 2.0), (2L, "view", 1.5), (1L, "purchase", 2.5))
      .toDF("user_id", "event_type", "value")
    val arm = pmod($"user_id", lit(2L))
    def st(df: org.apache.spark.sql.DataFrame) =
      Behavior.experimentState(df, "user_id", round($"value" * 100, 0),
        "event_type", "purchase", arm)
    val full = st(ev).orderBy($"v", $"u")
      .as[(Long, Long, Long, Int)].collect().toList
    val merged = Behavior.mergeExperimentState(
        st(ev.limit(2)), st(ev.except(ev.limit(2))))
      .orderBy($"v", $"u")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(full.nonEmpty && merged == full)
  }
}
