package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shuffles

/** Per-query hygiene for long-lived many-query sessions (Bench, Verify,
  * or any driver-style runner).
  *
  * Operators release their own intermediate pins ([[graft.operators.Pin]]
  * scopes and loops), so what is left here is what no operator can free.
  * Each kind is freed by the cheapest safe mechanism:
  *
  *  - Pins and cached relations that back a query's RESULT (the caller
  *    holds the result until this runs): blocking unpersist of every
  *    persisted RDD, then `clearCache`. Left to the ContextCleaner, their
  *    blocks filled storage memory until a 123-query session stalled
  *    (round 4: 1213 s vs 95 s for identical plans).
  *  - Shuffles: unregistered and their files deleted
  *    ([[org.apache.spark.sql.graft.Shuffles]]). A frame that runs again
  *    recomputes its shuffle.
  *  - Broadcasts, accumulators and the rest the ContextCleaner tracks by
  *    weak reference: left to it. G1's own young collections enqueue
  *    those references. A broadcast is not destroyed here: a retained
  *    frame (a memoized [[Tables]] relation, say) that runs again reads
  *    it, and after `destroy` its value survives only in the driver's
  *    weak-valued broadcast cache, which is no guarantee.
  *
  * No `System.gc()`: that stop-the-world full collection cost a median
  * 0.18–0.21 CPU-s (100–116 ms wall) after each q110 query at sf0.1 on a
  * 4-core box, about 15% of the query's CPU, and no kind above needs it. */
object SessionHygiene {
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    Shuffles.releaseAll(spark)
  }
}
