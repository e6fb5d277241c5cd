package graft.plans

/** The custom Catalyst expressions as NAMED SQL FUNCTIONS (§2.11 surface):
  * `rolling_hash(text)`, `simhash64(text)`, `dot_product(arr, arr)` become
  * callable from `spark.sql(...)`, and the native as-of join plans through
  * [[AsOfJoinStrategy]] — both put on a live session by [[install]]. */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.Expression

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> unary("rolling_hash")(RollingHash(_)),
    "simhash64" -> unary("simhash64")(SimHash64(_)),
    "dot_product" -> { (args: Seq[Expression]) =>
      require(args.length == 2, "dot_product expects 2 arguments")
      DotProduct(args(0), args(1))
    })

  private def unary(name: String)(b: Expression => Expression) =
    (args: Seq[Expression]) => {
      require(args.length == 1, s"$name expects 1 argument")
      b(args.head)
    }

  /** Idempotent: registers each of the three SQL functions (as a temp
    * function) and appends [[AsOfJoinStrategy]] to the session's extra
    * strategies, each unless the session already has it.
    * [[graft.GraftSession]] calls it on every session it builds; the query
    * paths that use either also call it, so they work on a session built
    * elsewhere. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
