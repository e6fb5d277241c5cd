package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions=graft.plans.GraftExtensions` wiring; on a live
  * session the strategy installs through `spark.experimental.extraStrategies`
  * ([[AsOfJoinNative.asOf]] does it) and the SQL functions via
  * [[GraftFunctions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftFunctions.descriptions.foreach(e.injectFunction)
  }
}

/** The custom Catalyst expressions as NAMED SQL FUNCTIONS (§2.11 surface):
  * `rolling_hash(text)`, `simhash64(text)`, `dot_product(arr, arr)` become
  * callable from `spark.sql(...)` — config-time via `spark.sql.extensions`
  * ([[GraftExtensions]]) or on a live session via [[register]]. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def one(name: String)(b: Expression => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects 1 argument")
        b(args.head)
      })

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    one("rolling_hash")(RollingHash(_)),
    one("simhash64")(SimHash64(_)),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product expects 2 arguments")
        DotProduct(args(0), args(1))
      }))

  /** Idempotent live-session registration (temp functions — the same
    * builders `spark.sql.extensions` would install at session build). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
