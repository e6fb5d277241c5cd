package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts the Spark jobs, or the stages, a block starts. The listener bus
  * delivers events asynchronously, so the count drains it before and
  * after; the bus is `private[spark]`, hence this package. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) =
    counting(sc, _.isInstanceOf[SparkListenerJobStart])(body)

  /** Stages submitted while `body` runs; a stage whose shuffle output is
    * reused is skipped and never submitted, so it does not count. */
  def stages[T](sc: SparkContext)(body: => T): (T, Int) =
    counting(sc, _.isInstanceOf[SparkListenerStageSubmitted])(body)

  private def counting[T](sc: SparkContext, counts: SparkListenerEvent => Boolean)(
      body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = count(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = count(e)
      private def count(e: SparkListenerEvent): Unit =
        if (counts(e)) n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
