package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.ManifestTable

/** X7 capstone — the full gated-ingest pipeline as ONE `foreachBatch`
  * sink: a (stream-side watermark-deduped) micro-batch of documents
  * carrying (doc_id, text, embedding) passes, in order,
  *
  *   1. the TEXT gate — in-batch exact collapse to the lowest doc_id,
  *      then [[graft.operators.Dedup.dropIncomingDuplicatesIndexed]]
  *      probing the persisted shingle index (batch-proportional; the
  *      accepted corpus is never re-shingled);
  *   2. the SEMANTIC gate — cell assignment against the train-once
  *      FROZEN codebook, then
  *      [[graft.operators.Similarity.semDedupIncoming]] against the
  *      accepted corpus pruned to the batch's touched cells;
  *
  * and the final survivors commit ONCE to the accepted table under a
  * `#txn=<streamId>-<batchId>` marker — one atomic admission decision
  * per batch, exactly-once under replay and restart.
  *
  * State (all [[graft.sources.ManifestTable]]s):
  *   - `acceptedDir`: accepted documents (doc_id, text, embedding, cid)
  *     — the ONLY txn-marked table; the other two are derived from it;
  *   - `textIndexDir`: shingle arrays of the accepted docs, maintained
  *     by [[StreamingDedup.catchUpIndex]]'s idempotent catch-up, healed
  *     BEFORE every probe so a crash between the accepted commit and
  *     the index append can never admit a near-dup of an unindexed doc;
  *   - `centroidDir`: the k×d codebook, trained once on the first
  *     data-carrying batch and FROZEN ([[SemanticStreamingDedup]]'s
  *     stability argument: retraining moves cell boundaries and
  *     silently changes which dups are catchable).
  *
  * Catch-up watermark: each index commit of the catch-up records the
  * accepted version it brought the index up to (a `catchup-<version>`
  * txn, see [[StreamingDedup]]). In steady state the pre-probe heal
  * finds the marker at the current accepted version and returns after
  * one manifest read, with no Spark job; the post-commit pass finds it
  * one version behind and shingles only the file this batch appended.
  * Any other state (a crash between the two commits, a compaction, a
  * vacuumed manifest, an external append) falls back to the full doc_id
  * anti-join of accepted against the index.
  *
  * Replay: the txn check short-circuits before any probe work; the only
  * thing a replayed batch may still owe is the index catch-up (free when
  * the watermark is current). This is the
  * bronze→silver→gold admission shape of a training-data lakehouse —
  * the reference's duplicate payload (raw_data/AAPL_2025-10-05.json ==
  * AAPL_2025-10-06.json, same bytes cached under two days) must land
  * exactly once no matter which job, run, or replay delivers it —
  * generalized to any corpus with ids, text, and embeddings.
  *
  * Scale shape per batch: the micro-batch is cached once, so the
  * emptiness probe and both gates read the stream's stateful stage
  * once; accepted and the text index are each resolved once, pinned to
  * one version, and shared by the heal and both gates; the frozen
  * codebook is collected once per snapshot and kept on the driver. The
  * text gate is the indexed incremental-dedup plan: the batch's texts
  * and prefix shingles are broadcast, and the accepted texts and the
  * text index are read once in a map-only stage that matches them and
  * verifies each pair exactly, so only the batch's loser ids are
  * shuffled; no accepted or index row is shuffled or broadcast. The
  * semantic gate is map-only assignment + cell-equi-joins
  * with the corpus side pruned to touched cells; that join still
  * shuffles the pruned corpus vectors (they are its hash build side).
  * The commit is one append. Usage:
  * {{{
  * docsWithVectors.writeStream
  *   .foreachBatch(GatedIngest.sink(accepted, txtIdx, centroids,
  *     k = 64, textThreshold = 0.8, cosThreshold = 0.95, "ingest") _)
  *   .trigger(Trigger.AvailableNow()).start()
  * }}}
  */
object GatedIngest {

  def sink(acceptedDir: String, textIndexDir: String, centroidDir: String,
      k: Int, textThreshold: Double, cosThreshold: Double,
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ManifestTable.create(acceptedDir)
    ManifestTable.create(textIndexDir)
    ManifestTable.create(centroidDir)
    if (ManifestTable.hasCommittedTxn(acceptedDir, s"$streamId-$batchId")) {
      StreamingDedup.catchUpIndex(spark, acceptedDir, textIndexDir)
      return // replayed micro-batch: nothing owed but the catch-up
    }
    // one materialization of the micro-batch: the emptiness probe fills
    // the cache the in-batch collapse then reads, so the stream's
    // stateful stage runs once (an empty batch costs what isEmpty did)
    val batchP = batch.persist()
    // set as each stage materializes; released in the finally
    var inBatch: DataFrame = null
    var assigned: DataFrame = null
    try {
      if (batchP.isEmpty) return
      // accepted resolved once, pinned to one version, shared by the
      // heal and both gates; heal the text index BEFORE probing (see the
      // crash-window argument)
      val (acceptedV, accepted) = ManifestTable.readIfAny(spark, acceptedDir)
      StreamingDedup.catchUp(spark, acceptedDir, acceptedV, accepted, textIndexDir)
      inBatch = StreamingDedup.collapseExact(batchP).persist()
      // ---- gate 1: exact + near text dedup against the accepted corpus
      val textSurvivors = StreamingDedup.textGate(accepted, textIndexDir,
        inBatch, textThreshold)
      // ---- gate 2: semantic dedup in frozen-codebook cells
      val centroids = codebook(centroidDir, accepted.isEmpty, acceptedDir,
        inBatch, k)
      // map-only cell assignment that keeps the row's text, so the gate-2
      // survivors are the final rows (no join back onto gate 1's output);
      // persist: assigned feeds semDedupIncoming (which references the
      // incoming side twice) plus the touched-cell distinct
      assigned = Similarity.assignWithVec(
        textSurvivors.withColumnRenamed("doc_id", "vec_id"), centroids,
        keep = Seq("text")).persist()
      val vecSurvivors = accepted match {
        case None =>
          Similarity.semDedupIncoming(
            assigned.limit(0), assigned, "cid", cosThreshold)
        case Some(acc) =>
          val corpusVecs = acc.select(col("doc_id").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding"),
            col("cid"))
          // corpus probe pruned to the batch's touched cells
          val touched = assigned.select(col("cid")).distinct()
          Similarity.semDedupIncoming(
            corpusVecs.join(broadcast(touched), "cid"),
            assigned, "cid", cosThreshold)
      }
      // ---- single txn-marked commit, then index catch-up
      val finalRows = vecSurvivors.select(col("vec_id").as("doc_id"),
        col("text"), col("embedding"), col("cid"))
      ManifestTable.appendWithRetry(spark, acceptedDir, finalRows,
        txn = Some(s"$streamId-$batchId"))
      StreamingDedup.catchUpIndex(spark, acceptedDir, textIndexDir)
    } finally {
      if (assigned != null) assigned.unpersist(false)
      if (inBatch != null) inBatch.unpersist(false)
      batchP.unpersist(false)
    }
  }

  /** Frozen codebooks collected on the driver, per centroid dir, with
    * the (immutable, uniquely named) files they were read from. */
  private val codebooks =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[String], Array[(Long, Array[Double])])]()

  /** The frozen codebook at `centroidDir`: trained once on `inBatch`'s
    * embeddings when the table is empty (and so is accepted), otherwise
    * read back — collected once per snapshot and cached. */
  private def codebook(centroidDir: String, acceptedEmpty: Boolean,
      acceptedDir: String, inBatch: DataFrame,
      k: Int): Array[(Long, Array[Double])] = {
    val spark = inBatch.sparkSession
    import spark.implicits._
    val fs = ManifestTable.files(centroidDir, ManifestTable.currentVersion(centroidDir))
    // A lost codebook with a NON-empty accepted corpus is fatal, not
    // recoverable: retraining here would produce cids incomparable
    // with the cid column stored on accepted rows, so gate 2 would
    // silently admit near-duplicates (the text index has a safe
    // inline-rebuild fallback; cell ids do not — the whole frozen-
    // codebook contract rests on never re-deriving them).
    require(!(fs.isEmpty && !acceptedEmpty),
      s"centroid table $centroidDir is empty but accepted corpus " +
        s"$acceptedDir is not — refusing to retrain a codebook whose " +
        "cids would not match the accepted rows' stored cid column; " +
        "restore the centroid table or rebuild accepted from scratch")
    if (fs.isEmpty) {
      // train-once on the first data-carrying batch, then frozen
      val trained = Similarity.kmeansCentroids(
        inBatch.select(col("doc_id").as("vec_id"), col("embedding")),
        k, 2)
      ManifestTable.appendWithRetry(spark, centroidDir,
        trained.toSeq.map { case (cid, c) => (cid, c.toSeq) }
          .toDF("cid", "c"))
      trained
    } else {
      val cached = codebooks.get(centroidDir)
      if (cached != null && cached._1 == fs) cached._2
      else {
        val read = ManifestTable.read(spark, centroidDir)._2
          .select(col("cid"), col("c")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        codebooks.put(centroidDir, (fs, read))
        read
      }
    }
  }
}
