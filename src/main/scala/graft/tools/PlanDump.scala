package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `explain("formatted")` for the
  * named queries to individual files (plans/r17/<query>_<tag>.txt), so a
  * before/after plan diff can be committed as evidence alongside bench
  * numbers. EXPLAIN.md stays the canonical full-corpus dump; this tool
  * exists because an optimization round needs the same query's plan at two
  * code states, which a single regenerated corpus cannot show.
  *
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.001 before \
  *     q296_hits,q153_pagerank"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = Paths.get("plans/r17")
    Files.createDirectories(outDir)
    val spark = graft.GraftSession()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(outDir.resolve(s"${n}_$tag.txt"), plan)
      graft.SessionHygiene.cleanup(spark)
      println(s"dumped $n -> plans/r17/${n}_$tag.txt")
    }
    spark.stop()
  }
}
