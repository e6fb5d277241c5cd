package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.{SessionHygiene, SparkEntry, Tables}

/** `q_iterative` and `q_oneshot`: fixed lists of `SparkEntry.queries` at
  * the run's scale factor, in a seed-shuffled order. One pass runs every
  * query of the list: build the DataFrame (eager driver-side jobs run
  * here), plan and execute it into the `noop` sink, then
  * `SessionHygiene.cleanup`. The pass's CPU time is `op_cpu_s_p50`.
  *
  * Before the timed passes, each query runs once into parquet under the
  * work dir (run.py compares those results with DuckDB on
  * `SparkEntry.oracleSql`), then `WarmPasses` untimed passes bring the
  * JIT to its plateau: with the C1 compiler run.py selects, the checked
  * run and one pass are enough for flat passes after them. */
final class QueryPasses(o: Opts, tracer: Tracer, names: Seq[String])
    extends Workload {
  val mainKind = "pass"
  val WarmPasses = 1
  private val order = new scala.util.Random(o.seed).shuffle(names)
  private val checkDir = o.work.resolve("check")
  private var inputRows: Map[String, Long] = Map.empty
  private val checked = scala.collection.mutable.ArrayBuffer[String]()

  /** Tables an oracle SQL reads: the query's declared inputs. */
  private def tablesOf(q: String): Seq[String] = {
    val sql = SparkEntry.oracleSql(q).toLowerCase
    QueryPasses.AllTables.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined)
  }

  def setup(spark: SparkSession, rec: Recorder): Unit = {
    order.foreach(q => require(SparkEntry.queries.contains(q), s"no query $q"))
    val tables = order.flatMap(tablesOf).distinct
    val rows = tables.map(t => t -> Tables.table(spark, o.sfDir, t).count()).toMap
    inputRows = order.map(q => q -> tablesOf(q).map(rows).sum).toMap
  }

  def warm(spark: SparkSession, rec: Recorder): Unit = {
    Files.createDirectories(checkDir)
    order.foreach { q =>
      rec.untimed(s"check $q") {
        SparkEntry.queries(q)(spark, o.sfDir).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q).toString)
        checked += q
        None
      }
      SessionHygiene.cleanup(spark)
    }
    rec.unmeasured(r => (1 to WarmPasses).foreach(_ => pass(spark, r, traced = false)))
  }

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcSeconds(): Double = {
    var ms = 0L
    gcBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  def round(spark: SparkSession, rec: Recorder, traced: Boolean): Unit =
    pass(spark, rec, traced)

  private def pass(spark: SparkSession, rec: Recorder, traced: Boolean): Unit = {
    val first = rec.ops.size
    order.foreach { q =>
      rec.op("query", traced, inputRows(q), q) {
        val g0 = gcSeconds()
        val df = tracer.span("query.build")(SparkEntry.queries(q)(spark, o.sfDir))
        tracer.span("query.exec")(df.write.format("noop").mode("overwrite").save())
        if (traced) {
          tracer.add("query.gc_s", gcSeconds() - g0)
          tracer.add("query.pins_left", spark.sparkContext.getPersistentRDDs.size)
        }
        tracer.span("hygiene.cleanup")(SessionHygiene.cleanup(spark))
      }(None)
    }
    val done = rec.ops.drop(first)
    rec.ops += rec.Op("pass", done.map(_.wall).sum, done.map(_.cpu).sum, traced,
      done.map(_.records).sum, derived = true, round = rec.round)
  }

  override def extraJson: String = {
    val checks = checked.toSeq.map { q =>
      s"""{"name":${Json.str(q)},"dir":${Json.str(checkDir.resolve(q).toString)},""" +
        s""""sql":${Json.str(SparkEntry.oracleSql(q))}}"""
    }
    s""","checks":${Json.arr(checks)}"""
  }
}

object QueryPasses {
  val AllTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Build-dominated: the eager driver loop of incremental dedup; over
    * 90% of the query's wall is its build. */
  val Iterative = Seq("q110_incr_dedup")

  /** One action each, no driver loop: under 10% of the wall is build. */
  val OneShot = Seq("q73_salted_join", "q02_agg_groupby", "q100_sql_multi_cte",
    "q05_topk")
}
