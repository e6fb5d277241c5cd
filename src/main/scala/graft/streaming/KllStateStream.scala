package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.operators.QuantileState

/** Streaming maintenance of the per-day KLL quantile state
  * ([[graft.operators.QuantileState.kllDayState]]) — the percentile
  * twin of [[DauStateStream]]: each micro-batch sketches ONLY its own
  * rows (O(batch), k-bounded partials map-side), merges into the
  * persisted days-sized state by sketch union ([[graft.operators
  * .QuantileState.mergeKllDayState]]), and commits ONE atomic snapshot
  * carrying the batch's txn marker — a replayed batch after restart is
  * a no-op ([[graft.sources.ManifestTable]] protocol via
  * [[StateCommit.mergeCommit]]). Downstream, any rolling p50/p99
  * monitor reads |days| sketch rows ([[graft.operators.QuantileState
  * .rollingQuantileFromState]], q325's readout) — the event log is
  * never rescanned. A quantile has no additive sufficient statistic,
  * so the mergeable sketch is what makes a streaming percentile
  * monitor possible at all (exact quantiles would need the full value
  * history per batch). */
object KllStateStream {

  /** `writeStream.foreachBatch` sink over event rows; `value` is the
    * long-valued metric expression. An empty micro-batch has an empty
    * state and commits nothing (the [[StateCommit]] empty-snapshot
    * rule). */
  def sink(stateDir: String, ts: String, value: Column, k: Int,
      streamId: String)(batch: DataFrame, batchId: Long): Unit = {
    StateCommit.mergeCommit(stateDir,
      QuantileState.kllDayState(batch, ts, value, k),
      (a: DataFrame, b: DataFrame) =>
        QuantileState.mergeKllDayState(a, b, k),
      s"$streamId-$batchId")
  }

  /** PER-KEY variant (VERDICT r15 #2): maintains [[graft.operators
    * .QuantileState.kllKeyDayState]] — one sketch per (key, day), the
    * grain a per-event-type p99 monitor reads. Same exactly-once
    * txn-marker protocol; state stays |keys|·|days| sketch rows. */
  def sinkByKey(stateDir: String, keyCol: String, ts: String,
      value: Column, k: Int, streamId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    StateCommit.mergeCommit(stateDir,
      QuantileState.kllKeyDayState(batch, keyCol, ts, value, k),
      (a: DataFrame, b: DataFrame) =>
        QuantileState.mergeKllKeyDayState(a, b, k),
      s"$streamId-$batchId")
  }
}
