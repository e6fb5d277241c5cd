package graft.operators

import org.apache.spark.SparkException
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.{ColumnBridge, QueryCapture}

import graft.SparkSpec

/** [[Pin]]: scopes release what their result does not read, a lost pin
  * fails the read, and the driver loops built on it keep their job
  * counts. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  // two triangles joined by a bridge, a third triangle with a tail
  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L), (8L, 9L), (9L, 7L), (9L, 10L),
    (10L, 11L)).toDF("src", "dst")

  private def persisted(df: DataFrame): Boolean =
    ColumnBridge.persistedRdd(df).exists(r =>
      spark.sparkContext.getPersistentRDDs.contains(r.id))

  test("a scope releases the pins its result does not read, and only those") {
    var (read, unread) = (spark.emptyDataFrame, spark.emptyDataFrame)
    val out = Pin.scope {
      read = Pin(edges.filter($"src" < 5))
      unread = Pin(edges.filter($"src" >= 5))
      read.select($"dst")
    }
    assert(persisted(read) && !persisted(unread))
    assert(out.count() == 5)
    Pin.release(read)
    assert(!persisted(read))
  }

  test("a capture around a pin holds the plan the pin ran; the pinned " +
      "frame's own plan scans its blocks") {
    def plan(qe: QueryExecution) = qe.explainString(FormattedMode)
    val (pinned, execs) = QueryCapture(spark) {
      val p = Pin(edges.groupBy($"src").count())
      p.collect()
      p
    }
    assert(execs.map(_.action) == Seq("localCheckpoint", "collect"))
    assert(plan(execs.head.qe).contains("HashAggregate"), plan(execs.head.qe))
    Seq(execs(1).qe, pinned.queryExecution).map(plan).foreach { p =>
      assert(p.contains("Scan ExistingRDD") && !p.contains("HashAggregate"), p)
    }
    Pin.release(pinned)
  }

  test("a loop releases generation n-1 once generation n is pinned") {
    val gen = Pin.loop()
    val g1 = gen(edges)
    val g2 = gen(g1.filter($"src" > 1))
    assert(!persisted(g1) && persisted(g2))
    Pin.release(g2)
  }

  test("a released loop pin fails the read; it never returns fewer rows") {
    val out = Graph.labelPropagation(edges, 2)
    assert(out.count() == 11)
    Pin.release(out)
    val e = intercept[SparkException](out.collect())
    assert(e.getMessage.contains("unpersisted"), e.getMessage)
  }

  test("the ported driver loops run no more jobs than before the port") {
    val sc = spark.sparkContext
    def jobs(op: => DataFrame): Int = JobCount(sc)(op.collect())._2
    val pairs = edges.select($"src".as("doc_a"), $"dst".as("doc_b"))
    // counts measured on the same graph before the loops moved onto Pin
    val budget = Seq(
      "pageRankMicro" -> (jobs(Graph.pageRankMicro(edges, 3)), 24),
      "labelPropagation" -> (jobs(Graph.labelPropagation(edges, 3)), 24),
      "kCore" -> (jobs(Graph.kCore(edges, 2)), 24),
      "connectedComponents" -> (jobs(Dedup.connectedComponents(pairs)), 36))
    val over = budget.filter { case (_, (n, max)) => n > max }
    assert(over.isEmpty, budget.mkString("; "))
  }
}
