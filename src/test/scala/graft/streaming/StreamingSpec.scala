package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.sources.ParquetWarehouse

class StreamingSpec extends SparkSpec {
  private val fixtures = getClass.getResource("/raw_data").getPath

  test("file-stream ingest drains the drop dir exactly once per run") {
    val tmp = scratchDir("stream")
    val whPath = s"$tmp/warehouse"
    val wh = new ParquetWarehouse(spark, whPath)

    // stage the valid fixtures in a drop dir (the reference's data lake)
    val drop = new java.io.File(s"$tmp/drop"); drop.mkdirs()
    Seq("AAPL_d1", "AAPL_d2", "GOOG_d1", "MSFT_d1").foreach { f =>
      Files.copy(java.nio.file.Paths.get(s"$fixtures/$f.json"),
        java.nio.file.Paths.get(s"${drop.getPath}/$f.json"))
    }

    StreamingIngest.runOnce(spark, drop.getPath, s"$tmp/ckpt", wh)
    // 5 AAPL (d2 deduped) + 3 GOOG + 2 MSFT
    assert(spark.read.parquet(whPath).count() == 10)

    // second scheduled run with nothing new: checkpoint skips all files
    StreamingIngest.runOnce(spark, drop.getPath, s"$tmp/ckpt", wh)
    assert(spark.read.parquet(whPath).count() == 10)

    // late restated-history delivery → only the new day lands (T5)
    Files.copy(java.nio.file.Paths.get(s"$fixtures/AAPL_overlap.json"),
      java.nio.file.Paths.get(s"${drop.getPath}/AAPL_overlap.json"))
    StreamingIngest.runOnce(spark, drop.getPath, s"$tmp/ckpt", wh)
    assert(spark.read.parquet(whPath).count() == 11)
  }

  test("maxFilesPerTrigger throttles the file stream but drains fully (T4)") {
    import spark.implicits._
    val tmp = scratchDir("throttle")
    val drop = new java.io.File(s"$tmp/drop"); drop.mkdirs()
    Seq("AAPL_d1", "GOOG_d1", "MSFT_d1").foreach { f =>
      Files.copy(java.nio.file.Paths.get(s"$fixtures/$f.json"),
        java.nio.file.Paths.get(s"${drop.getPath}/$f.json"))
    }
    val q = StreamingIngest
      .stockStream(spark, drop.getPath, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("throttled").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(spark.table("throttled").count() == 10) // 5 + 3 + 2 rows
    assert(batches >= 3, s"expected >=3 one-file micro-batches, got $batches")
  }

  test("watermarked hourly window agg matches the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val q = StreamingIngest.hourlyCounts(events)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hourly").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0),
      (Timestamp.valueOf("2024-01-01 10:30:00"), "view", 8.0))
    q.processAllAvailable()
    val got = spark.table("hourly")
      .select($"hour_start".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    q.stop()
    assert(got == Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 10:00:00", "view", 1L, 8.0),
      ("2024-01-01 11:00:00", "click", 1L, 4.0)))
  }

  test("stream-static enrichment join attaches dimension columns per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("user_id", "value")
    val q = StreamingIngest.enrich(stream, dim, "user_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enriched").start()
    mem.addData((1L, 5.0), (2L, 7.0), (3L, 9.0)) // 3 has no dim row
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched")
      .select($"user_id", $"tier", $"value").as[(Long, String, Double)]
      .collect().toSet
    assert(got == Set((1L, "gold", 5.0), (2L, "basic", 7.0)))
  }

  test("stream-stream interval join pairs keys within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val left = impressions.toDF().toDF("key", "l_ts")
    val right = clicks.toDF().toDF("r_key", "r_ts")
    val q = StreamingIngest.intervalJoin(left, right)
      .select($"key", $"l_ts".cast("string"), $"r_ts".cast("string"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attributed").start()
    impressions.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")), // within 30 min → joins
      (2L, Timestamp.valueOf("2024-01-01 11:10:00")), // too late → dropped
      (3L, Timestamp.valueOf("2024-01-01 10:05:00"))) // no impression
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attributed").as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00")))
  }

  test("dropDuplicatesWithinWatermark drops timestamp-skewed re-deliveries, " +
    "re-admits the key after the watermark expires its state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingIngest.dedupWithinWatermark(
      mem.toDF().toDF("key", "ts"), "key", "ts", "10 minutes")
      .select($"key", $"ts".cast("string"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_dedup").start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: key 1 delivered twice with SKEWED timestamps (an exact
    // (key, ts) dedup would keep both) + an unrelated key
    mem.addData((1L, t("2024-01-01 10:00:00")),
      (1L, t("2024-01-01 10:03:00")), (2L, t("2024-01-01 10:01:00")))
    q.processAllAvailable()
    // batch 2: a much later event advances the watermark to 10:50,
    // expiring key 1's state (kept only to first-seen + 10 min = 10:10)
    mem.addData((3L, t("2024-01-01 11:00:00")))
    q.processAllAvailable()
    // batch 3: key 1 again, AFTER expiry → re-admitted (the documented
    // watermark-vs-UNIQUE divergence: the sink anti-join, not this
    // operator, restores never-expires semantics)
    mem.addData((1L, t("2024-01-01 11:05:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_dedup").as[(Long, String)].collect().toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:01:00"),
      (3L, "2024-01-01 11:00:00"), (1L, "2024-01-01 11:05:00")))
  }

  test("streaming as-of enrichment carries the latest reference across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAsOf._
    val mem = MemoryStream[Tick]
    val q = StreamAsOf.enrich(mem.toDS())
      .select($"key", $"ts".cast("string"), $"asof_value")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_stream").start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: price for key 1, then a query at and after it; key 2 query
    // with no price yet
    mem.addData(
      Tick(1L, t("2024-01-01 10:00:00"), 0, 100.0),
      Tick(1L, t("2024-01-01 10:00:00"), 1, 0),   // tie → sees 100.0
      Tick(1L, t("2024-01-01 10:05:00"), 1, 0),
      Tick(2L, t("2024-01-01 10:01:00"), 1, 0))   // no reference yet → null
    q.processAllAvailable()
    // batch 2: key 1 query in a later batch still sees the carried 100.0,
    // then a newer price takes over
    mem.addData(
      Tick(1L, t("2024-01-01 10:10:00"), 1, 0),
      Tick(1L, t("2024-01-01 10:15:00"), 0, 150.0),
      Tick(1L, t("2024-01-01 10:20:00"), 1, 0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_stream")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00", Some(100.0)),
      (1L, "2024-01-01 10:05:00", Some(100.0)),
      (2L, "2024-01-01 10:01:00", None),
      (1L, "2024-01-01 10:10:00", Some(100.0)),
      (1L, "2024-01-01 10:20:00", Some(150.0))))
  }

  test("flatMapGroupsWithState sessionizer closes sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionizer.Evt]
    val q = Sessionizer.sessionize(mem.toDS(), gapSeconds = 1800)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()

    mem.addData(
      Sessionizer.Evt(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      Sessionizer.Evt(1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0))
    q.processAllAvailable()
    assert(spark.table("sessions").isEmpty) // session still open

    // next batch: a gap > 30 min closes the first session
    mem.addData(Sessionizer.Evt(1L, Timestamp.valueOf("2024-01-01 11:00:00"), 5.0))
    q.processAllAvailable()
    val closed = spark.table("sessions")
      .select($"user_id", $"start_ts".cast("string"), $"end_ts".cast("string"),
        $"n_events", $"sum_value")
      .as[(Long, String, String, Int, Double)].collect().toSet
    q.stop()
    assert(closed == Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2, 3.0)))
  }

  test("ManifestTable streaming sink: one snapshot per micro-batch, " +
    "exactly-once across checkpoint restart") {
    import graft.sources.ManifestTable
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("manifest_stream_")
    ManifestTable.create(dir)
    val ckpt = scratchDir("manifest_ckpt_")
    def start(mem: MemoryStream[(Long, Double)]) =
      mem.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(ManifestTable.streamingSink(dir, "ingest1") _)
        .outputMode(OutputMode.Append).start()

    val mem = MemoryStream[(Long, Double)]
    val q1 = start(mem)
    mem.addData((1L, 1.0), (2L, 2.0))
    q1.processAllAvailable()
    mem.addData((3L, 3.0))
    q1.processAllAvailable()
    q1.stop()
    assert(ManifestTable.read(spark, dir)._2.count() == 3)
    val vAfter = ManifestTable.currentVersion(dir)

    // restart from the same checkpoint: committed batches must NOT replay
    // into new snapshots; a fresh batch lands normally
    val q2 = start(mem)
    mem.addData((4L, 4.0))
    q2.processAllAvailable()
    q2.stop()
    assert(ManifestTable.currentVersion(dir) == vAfter + 1)
    assert(ManifestTable.read(spark, dir)._2
      .select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }
}
