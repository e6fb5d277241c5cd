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

  /** The persisted RDD backing a localCheckpoint'd DataFrame — lets
    * iterative loops unpersist the PREVIOUS generation's blocks
    * explicitly instead of waiting for GC + ContextCleaner. */
  def persistedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Rewrap a (typically checkpointed) DataFrame's physical RDD as a
    * FRESH LogicalRDD with NO inherited statistics. `localCheckpoint`
    * preserves the origin plan's stats estimate — inside an iterative
    * loop each round's joins then compound the carried estimate
    * (sizeInBytes digits GROW ~3x per round; by round ~15 Catalyst's
    * join-size BigInt products have millions of digits and planning
    * grinds to a halt in BigInteger.multiply). Resetting to the default
    * size estimate keeps planning O(1) per round. */
  def resetStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        df.queryExecution.analyzed.output,
        df.queryExecution.toRdd)(spark))
  }
}
