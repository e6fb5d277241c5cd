package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Behavior

/** Streaming maintenance of the A/B experiment state
  * ([[graft.operators.Behavior.experimentState]]): each micro-batch
  * reduces ONLY its own rows to the mergeable (variant, user) grain —
  * metric cents add, converted flags max — merges into the persisted
  * users-sized state, and commits ONE atomic snapshot carrying the
  * batch's txn marker (the [[graft.sources.ManifestTable]] protocol,
  * same as [[DauStateStream]]): a replayed batch after restart is a
  * no-op, so the state is exactly-once. Downstream, the dashboards
  * read the state, never the log: [[graft.operators.Behavior
  * .welchTFromState]] for the continuous metric and
  * [[graft.operators.Behavior.abTestFromState]] for conversion — both
  * value-identical to their full-log forms (spec-pinned), because the
  * state IS the exact per-user sufficient statistic, not a sketch.
  * This is the q210/q241 pair in always-on form: experiment metrics
  * that update per batch at O(batch) cost. */
object ExperimentStateStream {

  /** `writeStream.foreachBatch` sink over event rows with columns
    * (user_id, event_type, value). `streamId` scopes txn markers.
    * An empty micro-batch has an empty state and commits nothing — the
    * [[StateCommit]] empty-snapshot rule. */
  def sink(stateDir: String, convType: String, streamId: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val bState = Behavior.experimentState(batch, "user_id",
      org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.col("value") * 100, 0),
      "event_type", convType,
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.lit(2L)))
    StateCommit.mergeCommit(stateDir, bState,
      Behavior.mergeExperimentState, s"$streamId-$batchId")
  }
}
