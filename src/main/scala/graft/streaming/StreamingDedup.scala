package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

import graft.operators.Dedup
import graft.sources.ManifestTable

/** X7 — the incremental-dedup maintenance loop as a STREAMING sink: each
  * micro-batch of documents is deduplicated against the persisted corpus
  * (exact text + cross-set near-dup probing the corpus shingle index),
  * survivors are committed to the corpus table, and the index is brought
  * up to date — `Dedup.dropIncomingDuplicatesIndexed`'s batch API wired
  * into `foreachBatch` the way a production ingest runs it forever.
  *
  * Two ManifestTables:
  *   - `corpusDir`: the accepted documents (doc_id, text, …);
  *   - `indexDir`: their [[Dedup.shingleArrays]] rows (doc_id, arr, n_sh).
  *
  * Exactly-once + crash convergence: the CORPUS commit carries the
  * `#txn=<streamId>-<batchId>` marker ([[ManifestTable.streamingSink]]'s
  * primitive), so a replayed batch is a no-op on the corpus (detected
  * up-front, before any probe work is spent). The INDEX is maintained by
  * CATCH-UP, not by a paired commit — deliberately chosen over a
  * two-table transactional dance, which plain manifests cannot make
  * atomic. The catch-up runs BEFORE the probe (healing any
  * corpus-ahead-of-index gap a crash or external append left, so the
  * probe never consults a stale index) and again after the commit
  * (indexing this batch's survivors).
  *
  * Catch-up watermark: every index commit the catch-up makes carries the
  * txn `catchup-<corpus version>` — "the index holds exactly the corpus
  * docs of that version" — through the manifest high-water mechanism;
  * with nothing to index it commits the marker alone. The marker counts
  * only while it sits in the index's CURRENT manifest, i.e. no other
  * commit touched the index since. Then:
  *   - marker = the corpus's current version: nothing to do, after one
  *     manifest read and no Spark job (the pre-probe pass in steady
  *     state, and every replay);
  *   - marker = an older version m whose file set the current one still
  *     contains (only appends since): shingle just the files added after
  *     m (the post-commit pass: this batch's survivors);
  *   - anything else — no marker, an index rewritten or appended by
  *     someone else, a corpus compacted, merged or vacuumed past m: the
  *     full doc_id anti-join of corpus against index, as before the
  *     watermark existed. A crash between the corpus commit and the
  *     index append leaves the marker one version behind, which the
  *     added-files case heals.
  *
  * In-batch duplicates: exact text dups inside one micro-batch collapse to
  * the lowest doc_id before the cross-set pass (a batch must not admit
  * two copies just because neither is in the corpus yet). Near-dup pairs
  * WITHIN one batch are intentionally not removed here — that is the
  * batch-global [[Dedup.dropNearDuplicates]]' job and its cost profile;
  * at micro-batch sizes the cross-set gate dominates.
  *
  * Usage:
  * {{{
  * docsStream.writeStream
  *   .foreachBatch(StreamingDedup.dedupSink(corpusDir, indexDir, 0.8, "ingest") _)
  *   .start()
  * }}}
  */
object StreamingDedup {

  def dedupSink(corpusDir: String, indexDir: String, threshold: Double,
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ManifestTable.create(corpusDir)
    ManifestTable.create(indexDir)
    // Replay short-circuit: the corpus commit below would no-op on the
    // txn marker anyway, but only after paying the full (eager) dedup
    // probe for a result guaranteed to be discarded — skip straight to
    // the index catch-up, which is what a replayed batch may still owe.
    if (ManifestTable.hasCommittedTxn(corpusDir, s"$streamId-$batchId")) {
      catchUpIndex(spark, corpusDir, indexDir)
      return
    }
    // the corpus resolved once, pinned to one version, for the heal and
    // the probe; heal FIRST — probing a stale index would admit near-dups
    // of the unindexed docs permanently
    val (v, corpus) = ManifestTable.readIfAny(spark, corpusDir)
    catchUp(spark, corpusDir, v, corpus, indexDir)
    val survivors = textGate(corpus, indexDir, collapseExact(batch), threshold)
    ManifestTable.appendWithRetry(spark, corpusDir, survivors,
      txn = Some(s"$streamId-$batchId"))
    catchUpIndex(spark, corpusDir, indexDir)
  }

  /** In-batch exact text collapse to the lowest doc_id. */
  private[streaming] def collapseExact(batch: DataFrame): DataFrame =
    batch
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("__rk") === 1).drop("__rk")

  /** Exact + near text dedup of `inBatch` against the corpus (None when
    * empty): probes the persisted shingle index at `indexDir`, or — index
    * lost or never built — builds against the corpus in-line. */
  private[streaming] def textGate(corpus: Option[DataFrame], indexDir: String,
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

  /** Append [[Dedup.shingleArrays]] rows for every corpus doc missing from
    * the index. Idempotent and self-healing: safe after any crash point.
    * With a current watermark (see the object doc) it reads one manifest
    * and runs no Spark job. */
  def catchUpIndex(spark: SparkSession, corpusDir: String,
      indexDir: String): Unit = {
    val v = ManifestTable.currentVersion(corpusDir)
    catchUp(spark, corpusDir, v, ManifestTable.readVersionIfAny(spark, corpusDir, v),
      indexDir)
  }

  /** [[catchUpIndex]] against corpus version `v` and its rows (None when
    * empty), which only the full anti-join path resolves and scans. */
  private[streaming] def catchUp(spark: SparkSession, corpusDir: String,
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
}
