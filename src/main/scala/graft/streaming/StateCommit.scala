package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.operators.Pin
import graft.sources.ManifestTable

/** Shared commit protocol for the incremental state maintainers
  * ([[DauStateStream]], [[ExperimentStateStream]], [[LabelStateStream]]):
  * read-merge-overwrite pinned to the version that was read, retried as
  * a WHOLE on a concurrent commit. The overwrite CASes against the read
  * version, so a writer that lands between the read and the commit makes
  * the commit throw [[ManifestTable.ConcurrentCommitException]] — this
  * loop then RE-READS the fresh snapshot and re-merges before retrying,
  * so the concurrent writer's rows are absorbed, never lost and never
  * double-counted (a blind overwrite retry at the new version would
  * silently drop them — the reason [[ManifestTable.overwriteWithRetry]]
  * is NOT usable here). The txn marker rides every attempt and is
  * re-checked inside the commit's critical section, so a replayed batch
  * racing its own retry is still exactly-once. The batch state is
  * pinned ([[Pin]]) before the loop: attempts re-merge
  * the |keys|-row state, never re-scan the micro-batch.
  *
  * An empty batch state commits nothing (ADVICE r8): a zero-row
  * snapshot can mean zero part files, and every later read of the state
  * would fail its "snapshot is empty" require, wedging the stream.
  * Skipping is exactly-once too, since replaying an empty batch is a
  * no-op by definition. The check reads the pin, so a sink passes its
  * micro-batch straight in and runs it once, with no emptiness probe of
  * its own. */
object StateCommit {

  /** Merge `bState` (this batch's sufficient statistics) into the
    * persisted state at `stateDir` as one atomic snapshot carrying
    * `txn`; an empty `bState` commits nothing. `merge(persisted, batch)` must be the state
    * family's exact merge (state is a sufficient statistic, so
    * merge(split) == rebuild(full) — spec-pinned per family). */
  def mergeCommit(stateDir: String, bState: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame, txn: String,
      maxRetries: Int = 10): Unit = {
    val spark = bState.sparkSession
    ManifestTable.create(stateDir)
    if (ManifestTable.hasCommittedTxn(stateDir, txn)) return
    // the pin's own job counts its rows
    val rows = Observation()
    val pinned = Pin(bState.observe(rows, count(lit(1)).as("n")))
    try {
      if (rows.get("n") == 0L) return
      var attempt = 0
      var done = false
      while (!done) {
        val cur = ManifestTable.currentVersion(stateDir)
        val merged =
          if (cur == 0L) pinned
          else merge(ManifestTable.read(spark, stateDir)._2, pinned)
        try {
          ManifestTable.overwrite(spark, stateDir, merged, cur,
            txn = Some(txn))
          done = true
        } catch {
          case e: ManifestTable.ConcurrentCommitException =>
            attempt += 1
            if (attempt > maxRetries) throw e
        }
      }
    } finally
      // release the pin once the commit loop exits (success or throw):
      // the committed snapshot is on disk, and on a long-lived stream the
      // per-micro-batch pins would otherwise pile up in executor storage
      Pin.release(pinned)
  }
}
