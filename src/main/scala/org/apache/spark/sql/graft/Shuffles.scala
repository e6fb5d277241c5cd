package org.apache.spark.sql.graft

import org.apache.spark.MapOutputTrackerMaster
import org.apache.spark.sql.SparkSession

/** The shuffles a session's driver holds, and their explicit release.
  * Left alone, a shuffle (its map statuses on the driver, its files on
  * disk) is freed only after a GC collects its `ShuffleDependency` and
  * the ContextCleaner sees the reference enqueued. The map output
  * tracker and the cleaner are `private[spark]`, hence this package. */
object Shuffles {

  /** Ids of every shuffle the driver's map output tracker holds. */
  def registered(spark: SparkSession): Seq[Int] =
    spark.sparkContext.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .shuffleStatuses.keys.toSeq.sorted

  /** Unregister every shuffle and delete its files, blocking until they
    * are gone. A frame that runs again registers its shuffle anew and
    * recomputes it. Without a ContextCleaner
    * (`spark.cleaner.referenceTracking=false`) this does nothing. */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.cleaner.foreach(c =>
      registered(spark).foreach(c.doCleanupShuffle(_, blocking = true)))
}
