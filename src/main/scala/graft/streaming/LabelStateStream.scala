package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.operators.Labeling

/** Streaming maintenance of the weak-supervision label-quality state
  * ([[graft.operators.Labeling.labelState]]): each micro-batch of
  * label-log rows reduces to the per-LF sufficient statistics (n,
  * n_covered, n_pos, n_agree — all exact counts; the majority vote is
  * row-local, so batch states SUM to the full-log state), merges into
  * the persisted |LFs|-row state, and commits ONE atomic snapshot
  * carrying the batch's txn marker via [[StateCommit.mergeCommit]]
  * (the [[graft.sources.ManifestTable]] protocol, same as
  * [[ExperimentStateStream]]): a replayed batch after restart is a
  * no-op, so the state is exactly-once, and a CONCURRENT writer
  * landing between the state read and the commit is absorbed by
  * re-read-merge-retry, not lost and not an error. Downstream, the label-quality dashboards read the
  * state, never the log: [[graft.operators.Labeling
  * .majorityVoteFromState]] for the per-LF audit and
  * [[graft.operators.Labeling.weightedVoteFromState]] for the
  * accuracy-weighted revote (pass 1 = the state; only pass 2 scans
  * rows) — both value-identical to their full-log forms
  * (spec-pinned), because the state IS the exact sufficient
  * statistic, not a sketch. This is q254/q264 in always-on form:
  * labeling-function health that updates per batch at O(batch) cost
  * with an |LFs|-row state table. */
object LabelStateStream {

  /** `writeStream.foreachBatch` sink over label-log rows; `lfs` are
    * the named labeling functions evaluated per row (the
    * [[graft.operators.Labeling.majorityVote]] contract); `streamId`
    * scopes txn markers. An empty micro-batch commits nothing — the
    * [[StateCommit]] empty-snapshot rule: its global aggregate still
    * yields one zero-count row per LF, which the `n > 0` filter drops. */
  def sink(stateDir: String, lfs: Seq[(String, Column)],
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    StateCommit.mergeCommit(stateDir,
      Labeling.labelState(batch, lfs).filter(col("n") > 0),
      Labeling.mergeLabelState, s"$streamId-$batchId")
  }
}
