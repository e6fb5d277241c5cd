package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 routes Column through ColumnNode (Connect refactor); the
  * classic bridge `ExpressionUtils` is private[sql]. This shim — placed in
  * a subpackage of org.apache.spark.sql, the same pattern libraries like
  * frameless use — re-exports the two conversions the engine needs to
  * register custom Catalyst expressions as Columns. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame, and read a DataFrame's
    * analyzed plan — needed to hand custom logical operators (e.g. the
    * native as-of join) to the planner. `Dataset.ofRows` is private[sql]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The RDD of `df`'s first RDD leaf: for a pinned frame, the RDD that
    * holds the pin's blocks (see [[graft.operators.Pin]]). */
  def persistedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** A pinned frame rewrapped over the same RDD, with the same output
    * partitioning and ordering, and an estimate that is the bytes its
    * blocks hold: the stats rule of [[graft.operators.Pin.loop]]'s
    * generations, explained there. */
  def resetStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.storage.RDDBlockId
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val l = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    // the block manager master learns each block's size before its task
    // ends, so after the pin's eager job every block is counted
    val bytes = org.apache.spark.SparkEnv.get.blockManager.master
      .getStorageStatus.iterator.flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, _), b) if id == l.rdd.id => b.memSize + b.diskSize
      }.sum
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(l.output, l.rdd,
        l.outputPartitioning, l.outputOrdering, l.isStreaming)(spark,
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(bytes)))))
  }
}
