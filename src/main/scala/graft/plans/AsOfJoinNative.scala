package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.ColumnBridge

/** NATIVE as-of join: a whole-operator Catalyst extension (the §4.2
  * preference-ladder tier (c): custom LogicalPlan + SparkStrategy +
  * SparkPlan, installed on the session's extra strategies by
  * [[GraftFunctions.install]]).
  *
  * Semantics (identical to [[graft.operators.AsOfJoin.asOf]], the
  * union+window formulation, and — on null-free keys — to DuckDB
  * `ASOF JOIN ... ON l.key = r.key AND l.ts >= r.ts`): every left row is
  * emitted once, carrying the payload of the LATEST right row with the
  * same key and `rightTs <= leftTs` (null payload when none exists).
  * Null-key divergence, shared with the window formulation: null keys
  * match EACH OTHER here (both group nulls together), where SQL equality
  * in DuckDB's ASOF would match nothing.
  *
  * Why a physical operator: the window formulation unions both inputs and
  * runs a window scan over left+right rows together; this operator instead
  * declares hash distribution + (key, ts) ordering as REQUIREMENTS and
  * does a single streaming merge pass per co-partition — no union
  * materialization, no window-state buffering, and Catalyst elides the
  * exchange/sort whenever a child already satisfies the requirement
  * (e.g. bucketed-sorted tables join with NO shuffle at all, which the
  * union trick can never do).
  *
  * Scale: identical cost shape to a sort-merge join — one exchange per
  * unsorted child, then a forward-only merge holding ONE buffered right
  * row; memory is O(1) per partition regardless of key cardinality or
  * right-side density. */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute])
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ payloadOut
  // payloadOut attrs are MINTED here (fresh exprIds), not consumed from
  // children — without this, checkAnalysis counts them as missing input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(payloadOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfJoinExec]]; everything else falls
  * through to the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.leftKey,
        p.rightKey, p.leftTs, p.rightTs, p.payload, p.payloadOut) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute])
  extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(payloadOut)

  // Both sides hash-clustered on the key → co-partitioned merge; Catalyst
  // inserts exchanges only where a child is not already distributed so.
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  // (key, ts) ascending within partitions → single forward merge pass.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // Left rows pass through in their sorted order, exactly once.
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nPayload = payload.size
    val outTypes = (lOut ++ payload).map(_.dataType).toArray
    val lKeyB = BindReferences.bindReference(leftKey: org.apache.spark.sql.catalyst.expressions.Expression, lOut)
    val lTsB = BindReferences.bindReference(leftTs: org.apache.spark.sql.catalyst.expressions.Expression, lOut)
    val rKeyB = BindReferences.bindReference(rightKey: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
    val rTsB = BindReferences.bindReference(rightTs: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
    val payloadB = payload.map(p =>
      BindReferences.bindReference(p: org.apache.spark.sql.catalyst.expressions.Expression, rOut))

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // null-first comparison, matching the ascending NULLS FIRST sort
      def cmp(ord: Ordering[Any], a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else ord.compare(a, b)

      val payloadProj = UnsafeProjection.create(payloadB.toArray)
      val outProj = UnsafeProjection.create(outTypes)
      val nullPayload = InternalRow.fromSeq(Seq.fill[Any](nPayload)(null))
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rNext: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var held: InternalRow = null // copied payload row
        private var heldKey: Any = null
        private var hasHeld = false

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          // copyValue: for buffer-backed types (UTF8String from a reused
          // UnsafeRow) the raw eval result aliases memory that the NEXT
          // row overwrites — storing it as heldKey would make the
          // key-change check below compare a value that silently mutated
          val k = InternalRow.copyValue(lKeyB.eval(lRow))
          val t = lTsB.eval(lRow)
          if (hasHeld && cmp(keyOrd, heldKey, k) != 0) { hasHeld = false; held = null }
          // consume right rows that can never match a future left row
          // (their key is behind) ...
          while (rNext != null && cmp(keyOrd, rKeyB.eval(rNext), k) < 0) {
            rNext = if (rIter.hasNext) rIter.next() else null
          }
          // ... then absorb same-key rows with ts <= t; the LAST one wins
          while (rNext != null && cmp(keyOrd, rKeyB.eval(rNext), k) == 0 &&
              cmp(tsOrd, rTsB.eval(rNext), t) <= 0) {
            held = payloadProj(rNext).copy()
            heldKey = k
            hasHeld = true
            rNext = if (rIter.hasNext) rIter.next() else null
          }
          outProj(joined(lRow, if (hasHeld) held else nullPayload))
        }
      }
    }
  }
}

/** User-facing entry: build the logical node from two DataFrames. The
  * strategy is installed on the session ([[GraftFunctions.install]]) if
  * it is not there yet. */
object AsOfJoinNative {
  def asOf(leftDf: DataFrame, rightDf: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    val spark: SparkSession = leftDf.sparkSession
    GraftFunctions.install(spark)
    val lPlan = ColumnBridge.analyzedPlan(leftDf)
    val rPlan0 = ColumnBridge.analyzedPlan(rightDf)
    // Self-derived right sides share attribute exprIds with the left (the
    // analyzer's DeduplicateRelations only fixes this for built-in nodes);
    // re-alias every right column so the two branches are disjoint.
    val rPlan: LogicalPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlan0)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    val lTs = attr(lPlan, leftTs)
    val rTs = attr(rPlan, rightTs)
    require(lTs.dataType == rTs.dataType,
      s"as-of ts types differ: ${lTs.dataType} vs ${rTs.dataType}")
    val lKey = attr(lPlan, key)
    val rKey = attr(rPlan, key)
    // Mismatched key types (e.g. int vs bigint) would mis-co-partition the
    // two sides silently and then throw ClassCastException mid-merge from
    // the interpreted ordering; fail at analysis time instead.
    require(lKey.dataType == rKey.dataType,
      s"as-of key types differ: ${lKey.dataType} vs ${rKey.dataType}")
    val payloadAttrs = payload.map(attr(rPlan, _))
    val payloadOut = payloadAttrs.map(a =>
      AttributeReference(prefix + a.name, a.dataType, nullable = true)())
    ColumnBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      lKey, rKey, lTs, rTs, payloadAttrs, payloadOut))
  }
}
