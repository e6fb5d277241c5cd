package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Reference Morton interleave: naive bit-by-bit loop. */
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until 16)
      z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    z
  }

  test("morton2 matches the bit-by-bit reference on edge and random values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (1L, 2L), (0x8000L, 0x8000L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = cases.toDF("x", "y")
      .select($"x", $"y", Layout.morton2($"x", $"y").as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) == mortonRef(x, y), s"morton2($x, $y)")
    }
  }

  test("morton2 masks inputs to their low 16 bits") {
    import spark.implicits._
    val df = Seq((65536L + 3L, (1L << 20) + 5L)).toDF("x", "y")
      .select(Layout.morton2($"x", $"y").as("z"))
    assert(df.head().getLong(0) == mortonRef(3L, 5L))
  }

  test("z-ordered layout prunes a 2-D box predicate better than natural order") {
    import spark.implicits._
    val tmp = scratchDir("layout")
    val li = graft.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey")
    val numFiles = 16

    // natural order = as scanned (orderkey-clustered; partkey/suppkey
    // uncorrelated with file placement)
    li.repartitionByRange(numFiles, $"l_orderkey")
      .write.mode("overwrite").parquet(s"$tmp/natural")
    Layout.zorderWrite(li, $"l_partkey", $"l_suppkey", numFiles,
      s"$tmp/zorder")

    // same rows survive the relayout
    assert(spark.read.parquet(s"$tmp/zorder").count() == li.count())

    val Array(xMin, xMax, yMin, yMax) =
      li.agg(min($"l_partkey"), max($"l_partkey"),
        min($"l_suppkey"), max($"l_suppkey"))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
    // a ~1/4 x 1/4 box => ~1/16 of the plane; a perfect tiling reads ~2-3
    // of 16 files, the natural layout reads ~all (keys are row-uniform)
    val (xLo, xHi) = (xMin, xMin + (xMax - xMin) / 4)
    val (yLo, yHi) = (yMin, yMin + (yMax - yMin) / 4)
    val natural = Layout.filesOverlapping(
      Layout.fileBoxes(spark, s"$tmp/natural", "l_partkey", "l_suppkey"),
      xLo, xHi, yLo, yHi)
    val zordered = Layout.filesOverlapping(
      Layout.fileBoxes(spark, s"$tmp/zorder", "l_partkey", "l_suppkey"),
      xLo, xHi, yLo, yHi)
    assert(zordered * 2 <= natural,
      s"z-order read $zordered of $numFiles files, natural $natural — " +
        "expected at least a 2x pruning win")
  }

  test("hive-partitioned write prunes non-matching directories at plan time") {
    import spark.implicits._
    val tmp = scratchDir("part")
    graft.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .write.partitionBy("l_returnflag").mode("overwrite")
      .parquet(s"$tmp/li")
    val q = spark.read.parquet(s"$tmp/li").filter($"l_returnflag" === "R")
    q.collect()
    // NOTE: q.inputFiles can't witness pruning — it lists the whole
    // relation. The scan node's numFiles metric counts what was READ.
    val executed = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(executed.toString.contains("PartitionFilters"), executed.toString)
    val scan = executed.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val total = spark.read.parquet(s"$tmp/li").inputFiles.length
    assert(total >= 3, s"expected >=3 partition dirs, got $total files")
    assert(scan.metrics("numFiles").value == 1,
      s"read ${scan.metrics("numFiles").value} of $total files")
  }
}
