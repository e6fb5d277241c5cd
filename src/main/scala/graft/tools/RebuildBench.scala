package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.ManifestTable

/** Scaling-evidence harness for [[graft.operators.Similarity.ivfRebuild]]
  * (VERDICT r15 #8's SCALING row): at each given data dir, build a
  * maintained member index from the embeddings table (frozen 8-cell
  * codebook trained on the corpus, one map-only assignment — the
  * steady-state index a deployment would already have), then time the
  * REBUILD (retrain k=8, iters=2 + full reassignment + two txn-marked
  * snapshot swaps). Prints one line per (dir, phase). Not part of the
  * driver contract.
  *
  *   sbt "runMain graft.tools.RebuildBench /root/testdata/sf0.1 scaledata/x10"
  */
object RebuildBench {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "scaledata/x10")
    val spark = graft.GraftSession()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"REBUILD $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    dirs.foreach { d =>
      val root = java.nio.file.Files
        .createTempDirectory("rebuildbench").toString
      val centDir = s"$root/centroids"
      val memDir = s"$root/members"
      val emb = graft.Tables.embeddings(spark, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      val n = emb.count()
      time(s"$d  index build (n=$n, setup, untimed phase)") {
        val cents = Similarity.kmeansCentroids(emb, 8, 2)
        ManifestTable.create(centDir)
        ManifestTable.appendWithRetry(spark, centDir,
          Similarity.centroidsDF(spark, cents), txn = Some("seed"))
        ManifestTable.create(memDir)
        ManifestTable.appendWithRetry(spark, memDir,
          Similarity.assignWithVec(emb, cents, Seq("label")),
          txn = Some("members-0"))
      }
      (1 to 2).foreach { run =>
        time(s"$d  ivfRebuild run $run (k=8, iters=2)") {
          Similarity.ivfRebuild(spark, memDir, centDir, 8, 2,
            s"rebuild-$run")
        }
      }
    }
    spark.stop()
  }
}
