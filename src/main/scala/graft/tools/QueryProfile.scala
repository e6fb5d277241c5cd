package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.QueryCapture

import scala.collection.mutable

/** Per-JOB profiler for declared queries (optimization-round instrumentation;
  * not part of the driver contract). The spark.ui is disabled in this
  * sandbox, so this listener reproduces the one UI view optimization needs:
  * how many jobs a query runs, how long each takes, and what each job's
  * stages did (tasks, input bytes, shuffle read/write bytes). Fixed per-job
  * overhead dominates small-SF timings, so "how many jobs" is the first
  * question for every slow query here.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.QueryProfile \
  *     /root/testdata/sf0.1 q347_quantile_drift,q296_hits"
  *
  * Each query runs twice (first run pays codegen/JIT; second is the steady
  * state the bench approximates) with the same count() action as Bench.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else Seq("q347_quantile_drift")
    val spark = graft.GraftSession()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    case class StageAgg(var tasks: Int = 0, var inputB: Long = 0,
      var srB: Long = 0, var swB: Long = 0, var ms: Long = 0)
    val jobs = mutable.ArrayBuffer[(Int, Long, Long)]() // id, t0, t1
    val jobStages = mutable.Map[Int, Seq[Int]]()
    val stages = mutable.Map[Int, StageAgg]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += ((e.jobId, e.time, -1L))
        jobStages(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val i = jobs.lastIndexWhere(_._1 == e.jobId)
        if (i >= 0) jobs(i) = (e.jobId, jobs(i)._2, e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg())
        s.tasks += e.stageInfo.numTasks
        s.inputB += e.stageInfo.taskMetrics.inputMetrics.bytesRead
        s.srB += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        s.swB += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        s.ms += (for {a <- e.stageInfo.completionTime
                      b <- e.stageInfo.submissionTime} yield a - b)
          .getOrElse(0L)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      (1 to 2).foreach { pass =>
        jobs.clear(); jobStages.clear(); stages.clear()
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        QueryCapture.drain(spark) // deliver every job's end event
        println(f"== $n pass$pass: $sec%.3f s, $rows rows, " +
          f"${jobs.size} jobs ==")
        if (pass == 2) jobs.foreach { case (id, a, b) =>
          val dur = if (b > 0) (b - a) / 1e3 else -1.0
          val ss = jobStages.getOrElse(id, Nil).sorted.flatMap(stages.get)
          val t = ss.map(_.tasks).sum
          val in = ss.map(_.inputB).sum / 1e6
          val sr = ss.map(_.srB).sum / 1e6
          val sw = ss.map(_.swB).sum / 1e6
          println(f"  job $id%3d ${dur}%7.3f s  stages=${ss.size}%2d " +
            f"tasks=$t%4d input=$in%8.2fMB sr=$sr%8.2fMB sw=$sw%8.2fMB")
        }
        graft.SessionHygiene.cleanup(spark)
      }
    }
    spark.stop()
  }
}
