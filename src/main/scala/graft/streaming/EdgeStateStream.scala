package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MAINTAINED DISTINCT-EDGE TABLE — the graph-serving index (round 16,
  * STATUS r15 candidate #4): a persisted (src, dst, n) table of
  * distinct edge pairs with their observation counts, maintained
  * incrementally so graph serving ([[graft.operators.Graph
  * .hitsAuthoritiesRefinedFromEdges]], and any operator that starts
  * from "the distinct edge set") reads a KEY-SIZED parquet table
  * instead of re-deriving distinct pairs from the raw event/fact log
  * on every call. Round 15 measured exactly why this matters: the
  * refined-HITS serving form (q326) spends its 18.3 s at 100× in two
  * distinct-pair shuffles over the raw join log, and the full HITS's
  * in-query edge materialization was ~70 of its 78.6 s — an index the
  * STREAM pays for incrementally (O(batch) per micro-batch) removes
  * that cost from every serving call, the [[IvfIndexStream]] economics
  * on the graph axis.
  *
  * State shape: (src, dst, n) where n = how many raw rows asserted the
  * edge — the distinct set for HITS/CC/LPA-style consumers (they read
  * src/dst and ignore n), the multiplicity for weighted variants and
  * embeddedness-style audits. Merge = per-(src, dst) count sum, an
  * additive sufficient statistic: merge(split) == rebuild(full) exactly
  * (spec-pinned), and every commit is txn-marked exactly-once via
  * [[StateCommit.mergeCommit]] — a replayed micro-batch is a no-op.
  *
  * Scale shape: per batch, one (src, dst) count aggregate over the
  * batch alone (map-side partials), then the key-sized merge with the
  * persisted state; at rest the state is |distinct edges| rows — the
  * graph, not the log. */
object EdgeStateStream {

  /** Per-batch (src, dst, n) sufficient statistics; NULL endpoints
    * drop (an edge needs both ends — the family null contract). */
  def edgeState(batch: DataFrame, srcCol: String, dstCol: String)
      : DataFrame =
    batch
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))

  /** Exact merge: per-edge count sum (additive). */
  def mergeEdgeState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("src"), col("dst"))
      .agg(sum(col("n")).as("n"))

  /** `writeStream.foreachBatch` sink over edge-assertion rows. An empty
    * micro-batch (or one of null endpoints only) has an empty state and
    * commits nothing — the [[StateCommit]] empty-snapshot rule. */
  def sink(stateDir: String, srcCol: String, dstCol: String,
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    StateCommit.mergeCommit(stateDir,
      edgeState(batch, srcCol, dstCol),
      mergeEdgeState, s"$streamId-$batchId")
  }
}
