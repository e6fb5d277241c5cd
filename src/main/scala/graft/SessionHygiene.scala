package graft

import org.apache.spark.sql.SparkSession

/** Per-query hygiene for long-lived many-query sessions (Bench, Verify,
  * or any driver-style runner): blocking-unpersist whatever the last
  * query left pinned, drop cached relations, and FORCE a GC.
  *
  * Operators release their own intermediate pins ([[graft.operators.Pin]]
  * scopes and loops), so what is left here is what no operator can free:
  * the pins and caches that back a query's RESULT (the caller holds the
  * result until this runs), and the broadcasts and shuffle files the
  * query made.
  *
  * The GC is the load-bearing step for the last two: broadcasts and
  * shuffle registrations are reclaimed by ContextCleaner only after
  * their driver references are enqueued BY A GC, and Spark's own
  * periodic full GC (`spark.cleaner.periodicGC.interval`) defaults to
  * 30 minutes — never, within a bench-length run. Without this, state
  * compounds across queries and a 123-query session degrades ~10×
  * (round-4 pathology: 1213 s vs 95 s for identical plans). */
object SessionHygiene {
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}
