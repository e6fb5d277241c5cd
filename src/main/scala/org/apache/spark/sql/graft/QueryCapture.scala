package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The SQL executions a block of driver code starts, as Spark itself
  * reports them: every action (`collect`, `count`, a pin's
  * `localCheckpoint`, a write) ends with a `QueryExecution` posted to the
  * session's execution listeners, with the plan it ran (for an adaptive
  * plan, the final one). The listener bus delivers those events
  * asynchronously and is `private[spark]`, hence this package. */
object QueryCapture {

  /** One SQL execution: the action that started it (`failed` if it
    * threw) and what it ran. */
  final case class Execution(action: String, qe: QueryExecution)

  /** `body`'s result and the executions it started on `spark`, in the
    * order they ended. The bus is drained before and after, so an
    * earlier action's event is not counted and none of `body`'s is
    * missed. */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Execution]) = {
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    drain(spark)
    val seen = new ConcurrentLinkedQueue[Execution]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(Execution(action, qe)): Unit
      override def onFailure(action: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(Execution(s"$action failed", qe)): Unit
    }
    listeners.register(listener)
    try {
      val out = body
      drain(spark)
      (out, seen.asScala.toSeq)
    } finally listeners.unregister(listener)
  }

  /** Block until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
