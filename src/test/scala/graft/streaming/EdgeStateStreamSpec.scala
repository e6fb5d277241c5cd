package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Graph
import graft.sources.ManifestTable

/** The maintained distinct-edge table (round 16): per-batch (src, dst)
  * count aggregates merged by additive sum into a persisted key-sized
  * graph, so serving starts from the graph instead of re-deriving
  * distinct pairs from the fact log. Contracts: (1) streamed state ==
  * full-log rebuild (distinct set AND multiplicities), (2) a replayed
  * batch is a no-op, (3) refined-HITS served FROM the maintained table
  * is value-identical to the raw-log form. */
class EdgeStateStreamSpec extends SparkSpec {

  test("streamed edge state == full-log rebuild; replay is a no-op; " +
      "refined HITS from the state == from the raw log") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("edgestate") + "/t"
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("u", "s")
      .writeStream
      .foreachBatch(EdgeStateStream.sink(dir, "u", "s", "eg") _)
      .start()
    // a small bipartite log with repeats: hubs 1..4 -> authorities
    // 10..13, edge (2,11) asserted three times across batches
    val b1 = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 11L), (3L, 10L))
    val b2 = Seq((2L, 11L), (2L, 12L), (3L, 12L), (4L, 13L), (4L, 10L),
      (1L, 13L))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).toDF("u", "s")
    val state = ManifestTable.read(spark, dir)._2
    val got = state.select($"src", $"dst", $"n")
      .as[(Long, Long, Long)].collect().toList.sorted
    val rebuilt = EdgeStateStream.edgeState(all, "u", "s")
      .as[(Long, Long, Long)].collect().toList.sorted
    assert(got == rebuilt)
    assert(got.find(e => e._1 == 2L && e._2 == 11L).map(_._3) == Some(3L))
    // replayed batch: version frozen
    val v = ManifestTable.currentVersion(dir)
    EdgeStateStream.sink(dir, "u", "s", "eg")(b1.toDF("u", "s"), 0L)
    assert(ManifestTable.currentVersion(dir) == v)
    // serving identity: the maintained distinct set feeds the refined
    // authority form unchanged (the q326 readout)
    val fromState = Graph.hitsAuthoritiesRefinedFromEdges(
        ManifestTable.read(spark, dir)._2, 3, 2)
      .as[(Long, Long)].collect().toList
    val fromLog = Graph.hitsAuthoritiesRefined(all, 3, 2, "u", "s")
      .as[(Long, Long)].collect().toList
    assert(fromState == fromLog && fromState.nonEmpty)
  }
}
