package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.ManifestTable

/** INCREMENTAL IVF INDEX APPEND — the maintenance path that lets ANN
  * serving (q138/q156 shape) reflect a GROWING corpus without
  * retraining: new vectors are assigned to their cell by a MAP-ONLY
  * probe of the frozen codebook (the assignment of [[GatedIngest]]'s
  * semantic gate, broadcast state, no shuffle) and appended to the
  * persisted member table (vec_id, embedding, cid) as ONE txn-marked
  * manifest snapshot — a replayed micro-batch is a no-op, so the index
  * is exactly-once. Because assignment against a FIXED codebook is a
  * pure per-row function, serve-over-appended is value-identical to
  * serve-over-rebuilt (re-assigning the whole corpus against the same
  * codebook) — the invariant the q267 oracle pins. The codebook is
  * deliberately NOT retrained in-stream: moving centroids would
  * re-partition old members' cells silently; the [[graft.queries
  * .NorthStar.codebookDrift]] monitor (q186) is the offline rebuild
  * trigger, exactly as in a production IVF deployment (train offline,
  * append online, rebuild on drift).
  *
  * Scale shape: per batch, one map-only assignment over the batch
  * (k·d broadcast floats) + one append commit; the member table is
  * the corpus, partitioned by cell at scale — serving probes nProbe
  * cells of it, never the whole table. */
object IvfIndexStream {

  /** `writeStream.foreachBatch` sink over vector rows (vec_id,
    * embedding). `centroidDir` must hold the frozen codebook (cid, c)
    * — train it offline first ([[graft.operators.Similarity
    * .kmeansCentroids]] or per-label [[graft.operators.Similarity
    * .ivfCells]] committed via [[graft.sources.ManifestTable]]); the
    * sink fail-fasts on an empty codebook rather than training one
    * mid-stream. Empty micro-batches are short-circuited. */
  def sink(memberDir: String, centroidDir: String, streamId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    ManifestTable.create(memberDir)
    if (ManifestTable.hasCommittedTxn(memberDir, s"$streamId-$batchId"))
      return // replayed micro-batch: nothing owed
    require(ManifestTable.files(centroidDir,
        ManifestTable.currentVersion(centroidDir)).nonEmpty,
      s"IvfIndexStream: no frozen codebook at $centroidDir — train and " +
        "commit (cid, c) centroids before appending members")
    val cents = Similarity.centroidsOf(
      ManifestTable.read(spark, centroidDir)._2)
    // map-only: the vector rides along in the same projection as its
    // cell — no join-back (assignWithVec's scaladoc has the measured
    // cost of getting this wrong). A label column, when the stream
    // carries one, rides along too.
    val keep = if (batch.columns.contains("label")) Seq("label") else Nil
    val assigned = Similarity.assignWithVec(batch, cents, keep)
    ManifestTable.appendWithRetry(spark, memberDir, assigned,
      txn = Some(s"$streamId-$batchId"))
  }
}
