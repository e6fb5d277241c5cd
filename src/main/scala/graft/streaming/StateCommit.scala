package graft.streaming

import org.apache.spark.sql.DataFrame

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
  * the |keys|-row state, never re-scan the micro-batch. */
object StateCommit {

  /** Merge `bState` (this batch's sufficient statistics, non-empty)
    * into the persisted state at `stateDir` as one atomic snapshot
    * carrying `txn`. `merge(persisted, batch)` must be the state
    * family's exact merge (state is a sufficient statistic, so
    * merge(split) == rebuild(full) — spec-pinned per family). */
  def mergeCommit(stateDir: String, bState: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame, txn: String,
      maxRetries: Int = 10): Unit = {
    val spark = bState.sparkSession
    ManifestTable.create(stateDir)
    if (ManifestTable.hasCommittedTxn(stateDir, txn)) return
    val pinned = Pin(bState)
    try {
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
