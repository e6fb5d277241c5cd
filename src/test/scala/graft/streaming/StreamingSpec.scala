package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  private val fixtures = getClass.getResource("/raw_data").getPath

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
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          ManifestTable.appendWithRetry(batch.sparkSession, dir, batch,
            txn = Some(s"ingest1-$id"))
          ()
        }
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
