package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns (north-star X3
  * performance path; SURVEY.md §4.2).
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback — every row pays interpreted lambda dispatch and boxing
  * per element. This expression generates a primitive `double` loop inside
  * whole-stage codegen instead. Semantics are EXACTLY the sequential left
  * fold `Σ a(i)*b(i)` in index order — the same double-rounding sequence as
  * the higher-order formulation and DuckDB's `list_dot_product`, so results
  * are bit-identical and oracle checks are unaffected.
  *
  * Null handling — EXACTLY the `zip_with`+`aggregate` formulation: null
  * input array → null; length mismatch → null (zip_with pads the shorter
  * side with null, and the fold's `acc + null` poisons the sum); any null
  * element → null (same poisoning), so it can stand in for the fold
  * (`Similarity.dotHof`) on every input. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  // May produce null beyond input-null propagation (length mismatch /
  // null element), so always nullable.
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def isDoubleArray(t: org.apache.spark.sql.types.DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object VectorExpressions {
  /** Column form; inputs must already be array<double>. */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
