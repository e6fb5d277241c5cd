package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Self-test of the driver harness contract (the conditions the driver
  * checks before any query runs — fail here, not in the round). */
class ContractSpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query, names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracles without queries: ${os -- qs}")
    assert(qs.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")), qs)
    val unoracled = qs -- os
    // Since r6 every query carries an oracle: the four approximate ops
    // (q19 HLL, q40 simhash, q43 LSH-ANN, q53 IVF) emit in-query
    // exactness-bound summaries instead of raw sketch values.
    assert(unoracled.isEmpty, s"unexpected rows-only set: $unoracled")
  }

  /** Ids of the RDDs the result's physical plan reads: its RDD scans and
    * cached-relation scans, and every RDD those depend on. */
  private def readBy(df: DataFrame): Set[Int] = {
    object Plan extends AdaptiveSparkPlanHelper
    val seen = mutable.Set[Int]()
    val todo = mutable.Stack[RDD[_]]()
    def scan(p: SparkPlan): Unit = Plan.collectWithSubqueries(p) {
      case s: RDDScanExec => todo.push(s.rdd)
      case s: InMemoryTableScanExec =>
        val b = s.relation.cacheBuilder
        if (b.isCachedColumnBuffersLoaded) todo.push(b.cachedColumnBuffers)
        scan(b.cachedPlan)
    }: Unit
    scan(df.queryExecution.executedPlan)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
    }
    seen.toSet
  }

  test("every query runs and returns a non-empty result at sf0.001") {
    val sc = spark.sparkContext
    val pinLeaks = mutable.Buffer[String]()
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val before = sc.getPersistentRDDs.keySet
          val df = fn(spark, "/root/testdata/sf0.001")
          val n = df.count()
          // a pin the result does not read is storage nothing can free
          val persisted = sc.getPersistentRDDs
          val left = persisted.keySet -- before -- readBy(df)
          if (left.nonEmpty) pinLeaks += s"$name: " + left.toSeq.sorted
            .map(id => persisted(id).toString).mkString(", ")
          if (n == 0) Some(s"$name: 0 rows") else None
        } catch { case e: Exception => Some(s"$name: ${e.getMessage.take(80)}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
    assert(pinLeaks.isEmpty,
      s"${pinLeaks.size} queries leave pins their result does not read: " +
        pinLeaks.mkString("; "))
  }
}
