package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, Similarity}
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
  *      accepted corpus;
  *
  * and the final survivors commit ONCE to the accepted table under a
  * `#txn=<streamId>-<batchId>` marker — one atomic admission decision
  * per batch, exactly-once under replay and restart.
  *
  * State (all [[graft.sources.ManifestTable]]s):
  *   - `acceptedDir`: accepted documents (doc_id, text, embedding, cid)
  *     — the ONLY txn-marked table; the other two are derived from it;
  *   - `textIndexDir`: [[graft.operators.Dedup.shingleArrays]] rows
  *     (doc_id, arr, n_sh) of the accepted docs, maintained by
  *     [[catchUpIndex]]'s idempotent catch-up, not by a paired commit
  *     (plain manifests cannot make two tables' commits atomic). It
  *     runs BEFORE every probe, healing any accepted-ahead-of-index gap
  *     a crash or an external append left, so the probe never consults
  *     a stale index and cannot admit a near-dup of an unindexed doc;
  *     and again after the commit, indexing this batch's survivors;
  *   - `centroidDir`: the k×d codebook, trained once on the first
  *     data-carrying batch and FROZEN: retraining moves cell boundaries,
  *     so a vector pair that once shared a cell could later not, and
  *     the cids stored on accepted rows would stop matching.
  *
  * Catch-up watermark: every index commit the catch-up makes carries the
  * txn `catchup-<accepted version>` — "the index holds exactly the
  * accepted docs of that version" — through the manifest high-water
  * mechanism; with nothing to index it commits the marker alone. The
  * marker counts only while it sits in the index's CURRENT manifest,
  * i.e. no other commit touched the index since. Then:
  *   - marker = accepted's current version: nothing to do, after one
  *     manifest read and no Spark job (the pre-probe pass in steady
  *     state, and every replay);
  *   - marker = an older version m whose file set the current one still
  *     contains (only appends since): shingle just the files added after
  *     m (the post-commit pass: this batch's survivors);
  *   - anything else — no marker, an index rewritten or appended by
  *     someone else, accepted compacted, merged or vacuumed past m: the
  *     full doc_id anti-join of accepted against the index. A crash
  *     between the accepted commit and the index append leaves the
  *     marker one version behind, which the added-files case heals.
  *
  * In-batch duplicates: exact text dups inside one micro-batch collapse
  * to the lowest doc_id before gate 1 (a batch must not admit two copies
  * just because neither is accepted yet). Near text dups WITHIN one
  * batch are not removed (that is the batch-global
  * [[graft.operators.Dedup.dropNearDuplicates]]' job); near-parallel
  * vectors within one batch are, by gate 2.
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
  * Scale shape per batch: the micro-batch is collected to the driver
  * once, which runs the stream's stateful stage once and is the
  * emptiness probe; the in-batch collapse runs there, and both gates
  * and the commit read the result as a local relation, whose
  * projections and filters planning folds in and whose broadcast runs
  * no job. Accepted and the text index are each resolved once, pinned
  * to one version, and shared by the heal and both gates; the frozen
  * codebook is collected once per snapshot and kept on the driver. The
  * text gate is the indexed incremental-dedup plan: the batch's texts
  * and prefix shingles are broadcast, and the accepted texts and the
  * text index are read once in a map-only stage that matches them and
  * verifies each pair exactly, so only the batch's loser ids come back
  * to the driver; no accepted or index row is shuffled or broadcast.
  * The semantic gate has the same shape: map-only cell assignment, then
  * the batch's vectors are broadcast and the accepted vectors stream
  * past them in one map-only cell-keyed probe that emits loser ids
  * only. Each gate returns the batch minus its losers as a filter, so
  * nothing is persisted or pinned. The batch, its broadcasts and its
  * loser ids all pass through the driver, so a batch too large for the
  * driver must be split: the stream's `maxFilesPerTrigger` bounds it.
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
      catchUpIndex(spark, acceptedDir, textIndexDir)
      return // replayed micro-batch: nothing owed but the catch-up
    }
    // the micro-batch, collected once: both gates broadcast it, so it is
    // bounded, and as a local relation it runs the stream's stateful
    // stage once and costs later plans no job or stage of its own
    val rows = batch.collect()
    if (rows.isEmpty) return
    // accepted resolved once, pinned to one version, shared by the heal
    // and both gates; heal the text index BEFORE probing (see the
    // crash-window argument)
    val (acceptedV, accepted) = ManifestTable.readIfAny(spark, acceptedDir)
    catchUp(spark, acceptedDir, acceptedV, accepted, textIndexDir)
    val inBatch = spark.createDataFrame(
      collapseExact(rows, batch.schema).asJava, batch.schema)
    // ---- gate 1: exact + near text dedup against the accepted corpus
    val textSurvivors = textGate(accepted, textIndexDir, inBatch,
      textThreshold)
    // ---- gate 2: semantic dedup in frozen-codebook cells
    val centroids = codebook(centroidDir, accepted.isEmpty, acceptedDir,
      inBatch, k)
    // map-only cell assignment that keeps the row's text, so the gate-2
    // survivors are the final rows (no join back onto gate 1's output)
    val assigned = Similarity.assignWithVec(
      textSurvivors.withColumnRenamed("doc_id", "vec_id"), centroids,
      keep = Seq("text"))
    val corpusVecs = accepted.fold(assigned.limit(0))(
      _.withColumnRenamed("doc_id", "vec_id"))
    val vecSurvivors = Similarity.semDedupIncoming(
      corpusVecs, assigned, "cid", cosThreshold)
    // ---- single txn-marked commit, then index catch-up
    val finalRows = vecSurvivors.select(col("vec_id").as("doc_id"),
      col("text"), col("embedding"), col("cid"))
    ManifestTable.appendWithRetry(spark, acceptedDir, finalRows,
      txn = Some(s"$streamId-$batchId"))
    catchUpIndex(spark, acceptedDir, textIndexDir)
  }

  /** In-batch exact text collapse: one row per text, null texts counting
    * as one, with the lowest doc_id (a null id lowest, as an ascending
    * sort orders it). */
  private def collapseExact(rows: Array[Row], schema: StructType): Seq[Row] = {
    val (id, text) = (schema.fieldIndex("doc_id"), schema.fieldIndex("text"))
    rows.toSeq.groupBy(r => Option(r.get(text))).values
      .map(_.minBy(r => if (r.isNullAt(id)) None else Some(r.getLong(id))))
      .toSeq
  }

  /** Exact + near text dedup of `inBatch` against the corpus (None when
    * empty): probes the persisted shingle index at `indexDir`, or — index
    * lost or never built — builds against the corpus in-line. */
  private def textGate(corpus: Option[DataFrame], indexDir: String,
      inBatch: DataFrame, threshold: Double): DataFrame =
    corpus.fold(inBatch) { c =>
      ManifestTable.readIfAny(inBatch.sparkSession, indexDir)._2 match {
        case Some(idx) =>
          Dedup.dropIncomingDuplicatesIndexed(idx, c, inBatch, threshold)
        case None => Dedup.dropIncomingDuplicates(c, inBatch, threshold)
      }
    }

  /** Txn stream id of the catch-up's index commits; the batch id is the
    * corpus version the commit brought the index up to. */
  private val CatchUpId = "catchup"

  /** Append [[graft.operators.Dedup.shingleArrays]] rows for every corpus
    * doc missing from the index. Idempotent and self-healing: safe after
    * any crash point. With a current watermark (see the object doc) it
    * reads one manifest and runs no Spark job. */
  def catchUpIndex(spark: SparkSession, corpusDir: String,
      indexDir: String): Unit = {
    val v = ManifestTable.currentVersion(corpusDir)
    catchUp(spark, corpusDir, v, ManifestTable.readVersionIfAny(spark, corpusDir, v),
      indexDir)
  }

  /** [[catchUpIndex]] against corpus version `v` and its rows (None when
    * empty), which only the full anti-join path resolves and scans. */
  private def catchUp(spark: SparkSession, corpusDir: String,
      v: Long, corpus: => Option[DataFrame], indexDir: String): Unit = {
    val marker = ManifestTable
      .txnOf(indexDir, ManifestTable.currentVersion(indexDir))
      .filter(_.startsWith(s"$CatchUpId-"))
      .flatMap(_.stripPrefix(s"$CatchUpId-").toLongOption)
    if (marker.contains(v)) return
    // the index holds exactly corpus@m: the missing docs are the rows of
    // the files added since m
    val added = marker.filter(_ < v)
      .flatMap(ManifestTable.filesAddedSince(corpusDir, _, v))
    val rows: Option[DataFrame] = added match {
      case Some(fs) =>
        if (ManifestTable.rowCount(fs) == 0) None
        else Some(Dedup.shingleArrays(ManifestTable.readFiles(spark, corpusDir, v, fs)))
      case None => corpus match {
        case None => return // empty corpus: nothing to index
        case Some(c) =>
          val missing = ManifestTable.readIfAny(spark, indexDir)._2.fold(c)(idx =>
            c.join(idx.select(col("doc_id")), Seq("doc_id"), "left_anti"))
          // docs under 3 tokens have no trigram shingles (shingleArrays
          // drops them); they stay "missing" harmlessly
          Some(Dedup.shingleArrays(missing)).filterNot(_.isEmpty)
      }
    }
    // a txn the high water already covers (an index rewrite carried it
    // forward) cannot be recorded again: commit unmarked, and the next
    // corpus version restores the marker
    val txn = Some(s"$CatchUpId-$v").filterNot(ManifestTable.hasCommittedTxn(indexDir, _))
    rows match {
      case Some(r) => ManifestTable.appendWithRetry(spark, indexDir, r, txn = txn)
      case None => txn.foreach(ManifestTable.markTxn(indexDir, _))
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
