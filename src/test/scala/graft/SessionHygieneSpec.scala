package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, sum}
import org.apache.spark.sql.graft.Shuffles
import org.apache.spark.storage.StorageLevel

import graft.operators.Pin

/** [[SessionHygiene.cleanup]] frees what a finished query left (pins,
  * cached relations, shuffles) without a full GC, and a frame that runs
  * again after it still gives its rows. */
class SessionHygieneSpec extends SparkSpec {

  /** An aggregate (an adaptive shuffle) broadcast-joined to a dimension. */
  private def frame(): DataFrame = {
    val facts = spark.range(0, 20000).selectExpr("id % 97 AS k", "id AS v")
    val dims = spark.range(0, 97).selectExpr("id AS k", "concat('d', id) AS name")
    facts.groupBy("k").agg(sum("v") as "s").join(broadcast(dims), "k")
  }

  test("cleanup leaves no persisted RDD, cached relation or shuffle") {
    Pin(frame())
    val cached = frame().cache()
    assert(cached.count() == 97)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(Shuffles.registered(spark).nonEmpty)
    SessionHygiene.cleanup(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(Shuffles.registered(spark).isEmpty)
  }

  test("a frame collected again after cleanup recomputes its removed " +
      "shuffle and gives the same rows") {
    val df = frame()
    val before = df.collect().toSeq
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan") && plan.contains("BroadcastHashJoin"))
    assert(Shuffles.registered(spark).nonEmpty)
    SessionHygiene.cleanup(spark)
    assert(Shuffles.registered(spark).isEmpty)
    val after = df.collect().toSeq
    assert(before.size == 97)
    assert(after.sortBy(_.getLong(0)) == before.sortBy(_.getLong(0)))
  }

  test("cleanup runs no full collection") {
    // on JDK 17's G1 this bean counts full collections only
    val old = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .find(_.getName == "G1 Old Generation")
      .getOrElse(fail("the test JVM does not run G1"))
    val fulls = (1 to 3).map { _ =>
      assert(frame().count() == 97)
      val n = old.getCollectionCount
      SessionHygiene.cleanup(spark)
      old.getCollectionCount - n
    }
    assert(fulls == Seq(0L, 0L, 0L))
  }
}
