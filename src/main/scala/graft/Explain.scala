package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.QueryCapture

/** Dumps the plans each query runs, as Spark reports them: for every
  * `SparkEntry.queries` entry, the SQL executions its DataFrame build
  * started (pins, driver-side `collect`s, maintenance writes), each under
  * its action name, then the formatted plan of the frame it returns.
  * Consecutive executions whose plans differ only in expression, plan and
  * RDD ids and in runtime statistics are written once with a `×n` count,
  * so a driver loop shows each distinct round shape once.
  *
  *   sbt "runMain graft.Explain [sfDir] [queries] [out]"
  *
  * `sfDir` defaults to /root/testdata/sf0.001; `queries` is a
  * comma-separated list of query keys, or `all` (the default); `out`
  * defaults to EXPLAIN.md, and a path holding `{query}` gets one file per
  * query, e.g. `plans/r17/{query}_before.txt` for a before/after diff. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).filter(_ != "all")
      .fold(SparkEntry.queries.keys.toSeq
        .sortBy(_.drop(1).takeWhile(_.isDigit).toInt))(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val out = args.lift(2).getOrElse("EXPLAIN.md")
    val spark = GraftSession()
    var (captured, written) = (0, 0)
    val sections = names.map { name =>
      val query = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val body =
        try {
          val (df, execs) = QueryCapture(spark)(query(spark, sfDir))
          val runs = collapse(execs.map(e => (e.action, plan(e.qe))))
          captured += execs.size
          written += runs.size
          runs.map { case ((action, text), n) =>
            val times = if (n > 1) s" ×$n" else ""
            s"### $action$times\n\n```\n$text```\n\n"
          }.mkString + s"### result\n\n```\n${plan(df.queryExecution)}```\n"
        } catch { case e: Exception => s"build failed: $e\n" }
      SessionHygiene.cleanup(spark)
      name -> body
    }
    if (out.contains("{query}")) sections.foreach { case (name, body) =>
      write(Paths.get(out.replace("{query}", name)), body)
    } else write(Paths.get(out), header(sfDir) +
      sections.map { case (name, body) => s"\n## $name\n\n$body" }.mkString)
    println(s"wrote $out (${names.size} queries; $captured build-time " +
      s"executions, written as $written)")
    spark.stop()
  }

  private def header(sfDir: String): String =
    "# EXPLAIN — the plans every query runs\n\n" +
      s"Generated by `graft.Explain` from `$sfDir`, explain format " +
      "`formatted`. One section per `SparkEntry.queries` key, in numeric " +
      "order. Each `###` entry before `result` is one SQL execution that " +
      "ran while the query's DataFrame was built, named by its action " +
      "(`localCheckpoint` is a pin, `collect`/`count`/`head` a driver-side " +
      "read, `command` a write or a SQL command such as a view " +
      "definition), with the plan it ran; for an adaptive plan that is " +
      "the final plan. Consecutive executions whose plans differ only in " +
      "expression, plan and RDD ids and in the runtime statistics of " +
      "adaptive query stages are written once, with `×n`. `result` is the " +
      "plan of the returned frame, before it runs; a pinned frame reads " +
      "as `Scan ExistingRDD` there, and the pin above it shows what it " +
      "holds.\n"

  private def plan(qe: QueryExecution): String = qe.explainString(FormattedMode)

  /** Runs of consecutive (action, plan) pairs with the same action and
    * the same plan up to ids and runtime statistics: the first of each
    * run and its length. */
  private def collapse(execs: Seq[(String, String)])
      : Seq[((String, String), Int)] =
    execs.foldLeft(List.empty[((String, String), Int)]) {
      case (((a, p), n) :: rest, (b, q)) if a == b && shape(p) == shape(q) =>
        ((a, p), n + 1) :: rest
      case (acc, e) => (e, 1) :: acc
    }.reverse

  /** `plan` without what changes between two runs of one plan shape. */
  private def shape(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics()")

  private def write(path: Path, text: String): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.writeString(path, text)
  }
}
