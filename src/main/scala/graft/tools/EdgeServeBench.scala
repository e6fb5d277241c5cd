package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.streaming.EdgeStateStream

/** Scaling-evidence harness for the maintained-edge-table serving form
  * (round 16, STATUS r15 #4): at each given data dir, derive the q326
  * supplier graph from the raw orders⋈lineitem log, build the
  * [[EdgeStateStream]] state once (the cost the STREAM pays
  * incrementally in production — reported as setup), then time
  * refined-HITS serving from the maintained table vs from the raw log,
  * asserting value identity. Prints one line per (dir, phase). Not
  * part of the driver contract.
  *
  *   sbt "runMain graft.tools.EdgeServeBench /root/testdata/sf0.1 scaledata/x100"
  */
object EdgeServeBench {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "scaledata/x100")
    val spark = graft.GraftSession()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"EDGESERVE $label%-52s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    dirs.foreach { d =>
      val raw = graft.Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(graft.Tables.lineitem(spark, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("edgeserve").toString + "/state"
      time(s"$d  edge-state build (stream-amortized, setup)") {
        EdgeStateStream.edgeState(raw, "src", "dst")
          .write.mode("overwrite").parquet(stateDir)
      }
      val es = spark.read.parquet(stateDir)
      println(s"EDGESERVE $d  distinct edges: ${es.count()}")
      var fromState: List[Any] = Nil
      (1 to 2).foreach { run =>
        fromState = time(s"$d  serve FROM maintained edges, run $run") {
          Graph.hitsAuthoritiesRefinedFromEdges(es, 10, 4)
            .collect().map(_.toSeq).toList
        }
      }
      var fromLog: List[Any] = Nil
      (1 to 2).foreach { run =>
        fromLog = time(s"$d  serve from raw log (q326 form), run $run") {
          Graph.hitsAuthoritiesRefined(raw, 10, 4)
            .collect().map(_.toSeq).toList
        }
      }
      println(s"EDGESERVE $d  identical: ${fromState == fromLog}")
    }
    spark.stop()
  }
}
