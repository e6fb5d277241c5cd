package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `name` is "<layer>.<call>". */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-span counters for the traced run.
  *
  * While `enabled`, [[span]] records a span around a call and the
  * listeners registered by [[attach]] add their events to the innermost
  * open span. The listener bus is drained at every span boundary, so an
  * event lands in the span whose calls posted it (one driver thread at a
  * time makes calls into the engine). Spans stay in memory; the caller
  * writes them out once at the end. With `enabled` false every call runs
  * bare and nothing is recorded. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private var spark: SparkSession = _
  private val spans = ArrayBuffer[Span]()
  private val open = ArrayBuffer[Span]()
  private val counters = mutable.HashMap[String, Double]()

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  def counter(key: String): Double = synchronized(counters.getOrElse(key, 0.0))

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def set(key: String, v: Double): Unit = synchronized { counters(key) = v }

  /** Sum of a counter over every span name with the given prefix. */
  def sumCounter(spanPrefix: String, metric: String): Double = synchronized {
    counters.collect {
      case (k, v) if k.startsWith(spanPrefix) && k.endsWith("#" + metric) => v
    }.sum
  }

  private def current: String = synchronized {
    open.lastOption.map(_.name).getOrElse("none")
  }

  private def addToCurrent(metric: String, v: Double): Unit = synchronized {
    val k = s"$current#$metric"
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    drain()
    val s = synchronized {
      val sp = Span(spans.size, name, open.lastOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime(), 0L)
      spans += sp
      open += sp
      sp
    }
    try f
    finally {
      drain()
      synchronized {
        s.endNs = System.nanoTime()
        open -= s
      }
    }
  }

  private def drain(): Unit = if (spark != null) BusDrain(spark.sparkContext)

  /** Registers this tracer's listeners on a (new) session. */
  def attach(session: SparkSession): Unit = {
    spark = session
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (enabled) addToCurrent("jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (enabled) addToCurrent("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (enabled && e.taskMetrics != null) {
          val m = e.taskMetrics
          addToCurrent("input_bytes", m.inputMetrics.bytesRead.toDouble)
          addToCurrent("shuffle_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          addToCurrent("spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          addToCurrent("task_gc_s", m.jvmGCTime / 1e3)
        }
    })
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (enabled) {
          val p = e.progress
          def ms(k: String): Double =
            Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
          add("stream.batches", 1)
          add("stream.trigger_s", ms("triggerExecution"))
          add("stream.add_batch_s", ms("addBatch"))
          add("stream.plan_s", ms("queryPlanning"))
          add("stream.wal_commit_s", ms("walCommit"))
          add("stream.rows_in", p.numInputRows.toDouble)
          add("stream.rows_late_dropped",
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
          set("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
          set("stream.state_mem_bytes",
            p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
        }
    })
    session.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = if (enabled) {
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        addToCurrent("plan_s", ms / 1e3)
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
    })
  }
}
