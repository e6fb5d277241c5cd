package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Behavior
import graft.sources.ManifestTable

/** The q196 DAU state maintained FROM A STREAM: per-batch sketch →
  * union-merge → one txn-marked snapshot. Checks the two contracts that
  * make it production-shaped: (1) the streamed state equals the
  * batch rebuild over all data (merge algebra), (2) a replayed batch is
  * a no-op (exactly-once across restart). */
class DauStateStreamSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def estimates(dir: String): Map[Long, Long] = {
    import spark.implicits._
    ManifestTable.read(spark, dir)._2
      .select(col("d"), expr("hll_sketch_estimate(sk)").as("n"))
      .as[(Long, Long)].collect().toMap
  }

  test("streamed per-batch sketches merge to the full-data state; " +
      "a replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("daustate") + "/t"
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("user_id", "ts")
      .writeStream
      .foreachBatch(DauStateStream.sink(dir, 12, "dau") _)
      .start()
    val b1 = Seq((1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 11:00:00")), (1L, ts("2024-01-02 10:00:00")))
    val b2 = Seq((3L, ts("2024-01-01 12:00:00")), // same day, new user
      (2L, ts("2024-01-02 09:00:00")), (4L, ts("2024-01-03 08:00:00")))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).toDF("user_id", "ts")
    val want = Behavior.dauState(all, "user_id", "ts", 12)
      .select(col("d"), expr("hll_sketch_estimate(sk)").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(estimates(dir) == want)
    assert(want.values.toList.sorted == List(1L, 2L, 3L)) // exact (sparse)
    // replay batch 1 (restart re-delivery): version must not advance
    val vBefore = ManifestTable.currentVersion(dir)
    DauStateStream.sink(dir, 12, "dau")(b1.toDF("user_id", "ts"), 0L)
    assert(ManifestTable.currentVersion(dir) == vBefore)
    assert(estimates(dir) == want)
    // rolling window over the persisted state matches the exact baseline
    val rolled = Behavior.rollingDistinctFromState(
        ManifestTable.read(spark, dir)._2, 2)
      .as[(Long, Long)].collect().toMap
    val exact = Behavior.rollingDistinct(all, "user_id", "ts", 2)
      .as[(Long, Long)].collect().toMap
    assert(rolled == exact) // sparse-mode HLL is exact at these counts
  }

  test("an EMPTY micro-batch is a no-op: no snapshot committed, state " +
      "unchanged, later batches still read it (ADVICE r8)") {
    import spark.implicits._
    val dir = scratchDir("daustate_empty") + "/t"
    val empty = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    // empty FIRST batch: must not create an empty snapshot that would
    // wedge every later read
    DauStateStream.sink(dir, 12, "dau")(empty, 0L)
    val b1 = Seq((1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 11:00:00"))).toDF("user_id", "ts")
    DauStateStream.sink(dir, 12, "dau")(b1, 1L)
    assert(estimates(dir) == Map(19723L -> 2L))
    // empty MID-STREAM batch: version frozen, state intact
    val v = ManifestTable.currentVersion(dir)
    DauStateStream.sink(dir, 12, "dau")(empty, 2L)
    assert(ManifestTable.currentVersion(dir) == v)
    assert(estimates(dir) == Map(19723L -> 2L))
    // and the stream continues normally after it
    val b3 = Seq((3L, ts("2024-01-02 09:00:00"))).toDF("user_id", "ts")
    DauStateStream.sink(dir, 12, "dau")(b3, 3L)
    assert(estimates(dir) == Map(19723L -> 2L, 19724L -> 1L))
  }
}
