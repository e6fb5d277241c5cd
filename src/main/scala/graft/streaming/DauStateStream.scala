package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Behavior

/** Streaming maintenance of the per-day HLL DAU state
  * ([[graft.operators.Behavior.dauState]]): each micro-batch sketches
  * ONLY its own rows (O(batch)), merges into the persisted days-sized
  * state by sketch union ([[graft.operators.Behavior.mergeDauState]]),
  * and commits ONE atomic snapshot carrying the batch's txn marker — a
  * replayed batch after restart is a no-op, so the state is
  * exactly-once (the [[graft.sources.ManifestTable]] txn protocol, same
  * as the warehouse sink). Downstream, any rolling-distinct window
  * reads |days| sketches ([[graft.operators.Behavior
  * .rollingDistinctFromState]]) — the event log is never rescanned.
  * This is the T-family wiring of the q196 state table: the mergeable
  * sketch algebra is exactly what makes distinct counts maintainable
  * from a stream at all (exact distinct would need the full user-day
  * history per batch). */
object DauStateStream {

  /** `writeStream.foreachBatch` sink. `streamId` scopes txn markers —
    * one logical stream per state table. An EMPTY micro-batch has an
    * empty state, which [[StateCommit.mergeCommit]] does not commit
    * (ADVICE r8; the rationale is there), so the micro-batch runs once:
    * in the pin of its state. */
  def sink(stateDir: String, lgK: Int, streamId: String)
      (batch: DataFrame, batchId: Long): Unit = {
    StateCommit.mergeCommit(stateDir,
      Behavior.dauState(batch, "user_id", "ts", lgK),
      Behavior.mergeDauState, s"$streamId-$batchId")
  }
}
