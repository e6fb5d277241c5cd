package graft.operators

import java.io.File

import graft.SparkSpec

class MaintenanceSpec extends SparkSpec {

  test("ManifestTable.optimizeZorder: one snapshot swap rewrites to " +
      "Morton-clustered files; rows preserved; a box read prunes more " +
      "files than the row-order layout") {
    import spark.implicits._
    import graft.sources.ManifestTable
    // 64×64 grid in ROW-MAJOR order: an x-box slices through every
    // row-order file, so pre-optimize pruning on x keeps ~all files
    val dir = scratchDir("zopt") + "/t"
    val grid = spark.range(64L * 64)
      .selectExpr("id", "id % 64 AS x", "id DIV 64 AS y")
    ManifestTable.create(dir, Seq("x", "y"))
    ManifestTable.overwriteWithRetry(spark, dir,
      grid.repartitionByRange(8, $"y")) // row-major layout, 8 files
    val (_, _, keptBefore, totBefore) =
      ManifestTable.readWhereBetween(spark, dir, "x", 0L, 7L)
    assert(keptBefore == totBefore, "x slices cross every row-major file")
    val before = ManifestTable.read(spark, dir)._2
      .as[(Long, Long, Long)].collect().toSet
    val v = ManifestTable.optimizeZorder(spark, dir, "x", "y", 8)
    assert(v == ManifestTable.currentVersion(dir))
    // one snapshot: rows identical, nothing lost or duplicated
    assert(ManifestTable.read(spark, dir)._2
      .as[(Long, Long, Long)].collect().toSet == before)
    // the SAME box now skips files: Z-tiles bound x on every file
    val (_, boxDf, keptAfter, totAfter) =
      ManifestTable.readWhereBetween(spark, dir, "x", 0L, 7L)
    assert(keptAfter < totAfter,
      s"z-order must prune the x box: kept $keptAfter of $totAfter")
    assert(boxDf.filter($"x".between(0, 7)).count() == 8L * 64)
  }

  test("zorderOptimize demo is steady-state on disk: the retention " +
      "vacuum bounds the maintenance dir across consecutive runs") {
    import graft.queries.NorthStar
    val sfDir = "/root/testdata/sf0.001"
    def dataFiles = {
      val d = new File(NorthStar.maintDir(sfDir, "zopt") + "/data")
      Option(d.listFiles()).getOrElse(Array.empty[File]).filter(_.isFile)
    }
    NorthStar.zorderOptimize(spark, sfDir).count()
    val afterFirst = (dataFiles.length, dataFiles.map(_.length()).sum)
    NorthStar.zorderOptimize(spark, sfDir).count()
    val afterSecond = (dataFiles.length, dataFiles.map(_.length()).sum)
    // identical inputs → identical retained snapshots: the dir must not
    // grow run-over-run (pre-fix it gained one full table copy per run)
    assert(afterSecond._1 == afterFirst._1,
      s"file count grew: $afterFirst -> $afterSecond")
    assert(afterSecond._2 <= (afterFirst._2 * 1.05).toLong,
      s"bytes grew: $afterFirst -> $afterSecond")
  }
}
