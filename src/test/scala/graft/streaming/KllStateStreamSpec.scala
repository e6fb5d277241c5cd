package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QuantileState
import graft.plans.KllExpressions
import graft.sources.ManifestTable

/** [[KllStateStream]] contracts (the [[DauStateStream]] triple on the
  * quantile axis): (1) the streamed state matches the full-log rebuild
  * on the exact axis (per-day n) and exactly on quantiles in the
  * no-compaction regime, (2) a replayed batch is a no-op, (3) an empty
  * batch commits nothing. */
class KllStateStreamSpec extends SparkSpec {

  test("streamed day-state == full rebuild (n exact, quantiles exact " +
      "below capacity); replay + empty batches are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("kllstate") + "/t"
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
      .writeStream
      .foreachBatch(KllStateStream.sink(dir, "ts", col("v"), 200, "kll") _)
      .start()
    val b1 = for (d <- 0L to 1L; i <- 1L to 15L) yield (d, i * 10 + d)
    val b2 = for (d <- 1L to 2L; i <- 16L to 30L) yield (d, i * 10 + d)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def readout(st: org.apache.spark.sql.DataFrame) =
      st.select($"d", KllExpressions.kll_n($"sk").as("n"),
          KllExpressions.kll_quantile($"sk", lit(500L)).as("p50"))
        .as[(Long, Long, Long)].collect().toList.sortBy(_._1)
    val state = ManifestTable.read(spark, dir)._2
    val all = (b1 ++ b2).toDF("day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
    val rebuilt = QuantileState.kllDayState(all, "ts", $"v", 200)
    assert(readout(state) == readout(rebuilt))
    // replayed batch: version frozen, readout identical
    val v = ManifestTable.currentVersion(dir)
    KllStateStream.sink(dir, "ts", col("v"), 200, "kll")(
      b1.toDF("day", "v")
        .withColumn("ts", timestamp_seconds($"day" * 86400L)), 0L)
    assert(ManifestTable.currentVersion(dir) == v)
    assert(readout(ManifestTable.read(spark, dir)._2) == readout(state))
    // empty batch: no snapshot
    KllStateStream.sink(dir, "ts", col("v"), 200, "kll")(
      Seq.empty[(Long, Long)].toDF("day", "v")
        .withColumn("ts", timestamp_seconds($"day" * 86400L)), 99L)
    assert(ManifestTable.currentVersion(dir) == v)
  }

  test("maintained-monitor composition: the rolling-quantile readout " +
      "over the STREAMED state == the batch rebuild (q309's " +
      "serve-from-maintained pattern on the quantile axis)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("kllmon") + "/t"
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
      .writeStream
      .foreachBatch(KllStateStream.sink(dir, "ts", col("v"), 200, "m") _)
      .start()
    // three batches straddling days, below compaction capacity so the
    // readout is exact and the comparison is equality, not envelope
    val bs = Seq(
      for (d <- 0L to 2L; i <- 1L to 20L) yield (d, i * 7 + d),
      for (d <- 1L to 3L; i <- 21L to 35L) yield (d, i * 7 + d),
      for (d <- 3L to 4L; i <- 1L to 10L) yield (d, i * 3 + d))
    bs.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList.sortBy(_.mkString("|"))
    val maintained = QuantileState.rollingQuantileFromState(
      ManifestTable.read(spark, dir)._2, 2, 500, 200)
    val all = bs.flatten.toDF("day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
    val rebuilt = QuantileState.rollingQuantileFromState(
      QuantileState.kllDayState(all, "ts", $"v", 200), 2, 500, 200)
    assert(rows(maintained) == rows(rebuilt))
    // and the exact axis holds against a plain SQL count per window
    val nW = maintained.select($"end_day", $"n_window")
      .as[(Long, Long)].collect().toMap
    val exact = all
      .select((unix_timestamp($"ts") / 86400).cast("long").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    nW.foreach { case (end, n) =>
      assert(n == (end - 1 to end).map(exact.getOrElse(_, 0L)).sum)
    }
  }

  test("PER-KEY state (r16): streamed (key, day) state == full " +
      "rebuild; replay is a no-op; per-key rolling readout == batch " +
      "rebuild; merge(split) == rebuild(full)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("kllkey") + "/t"
    val mem = MemoryStream[(String, Long, Long)]
    val q = mem.toDF().toDF("et", "day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
      .writeStream
      .foreachBatch(
        KllStateStream.sinkByKey(dir, "et", "ts", col("v"), 200, "kk") _)
      .start()
    val b1 = for (k <- Seq("a", "b"); d <- 0L to 2L; i <- 1L to 12L)
      yield (k, d, i * 10 + d + k.length)
    val b2 = for (k <- Seq("b", "c"); d <- 2L to 4L; i <- 13L to 25L)
      yield (k, d, i * 5 + d)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def readout(st: org.apache.spark.sql.DataFrame) =
      st.select($"key", $"d", KllExpressions.kll_n($"sk").as("n"),
          KllExpressions.kll_quantile($"sk", lit(500L)).as("p50"))
        .as[(String, Long, Long, Long)].collect().toList.sorted
    val all = (b1 ++ b2).toDF("et", "day", "v")
      .withColumn("ts", timestamp_seconds($"day" * 86400L))
    val state = ManifestTable.read(spark, dir)._2
    val rebuilt = QuantileState.kllKeyDayState(all, "et", "ts", $"v", 200)
    assert(readout(state) == readout(rebuilt))
    // replayed batch: version frozen, readout identical
    val ver = ManifestTable.currentVersion(dir)
    KllStateStream.sinkByKey(dir, "et", "ts", col("v"), 200, "kk")(
      b1.toDF("et", "day", "v")
        .withColumn("ts", timestamp_seconds($"day" * 86400L)), 0L)
    assert(ManifestTable.currentVersion(dir) == ver)
    assert(readout(ManifestTable.read(spark, dir)._2) == readout(state))
    // per-key rolling readout: maintained == rebuilt, and each key's
    // end-day frame is ITS OWN observed days only
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList.sortBy(_.mkString("|"))
    val maintained = QuantileState.rollingQuantileByKeyFromState(
      ManifestTable.read(spark, dir)._2, 2, 500, 200)
    assert(rows(maintained) ==
      rows(QuantileState.rollingQuantileByKeyFromState(rebuilt, 2, 500, 200)))
    val keyDays = maintained.select($"key", $"end_day")
      .as[(String, Long)].collect().toSet
    assert(keyDays == (b1 ++ b2).map(t => (t._1, t._2)).toSet)
    // merge(split) == rebuild(full) on the exact axis
    val m = QuantileState.mergeKllKeyDayState(
      QuantileState.kllKeyDayState(b1.toDF("et", "day", "v")
        .withColumn("ts", timestamp_seconds($"day" * 86400L)),
        "et", "ts", $"v", 200),
      QuantileState.kllKeyDayState(b2.toDF("et", "day", "v")
        .withColumn("ts", timestamp_seconds($"day" * 86400L)),
        "et", "ts", $"v", 200), 200)
    assert(readout(m) == readout(rebuilt))
  }
}
