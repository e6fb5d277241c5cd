package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command line of the JVM side of the benchmark (see run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, sfDir: String, work: Path, out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--sf"), Paths.get(need("--work")),
      Paths.get(need("--out")))
  }
}

/** Timed operations of one run: wall and process CPU time per operation,
  * and the failures. An operation is one daily run, one replay or one
  * query. */
final class Recorder(tracer: Tracer) {
  /** `cpu` is the process's CPU seconds, all threads; `derived` marks an
    * aggregate of other operations (a query pass); `round` is the
    * measuring round the operation ran in. */
  final case class Op(kind: String, wall: Double, cpu: Double, traced: Boolean,
      records: Long, derived: Boolean = false, round: Int = 0)
  val ops = ArrayBuffer[Op]()
  /** The measuring round new operations belong to. */
  var round = 0
  val failures = ArrayBuffer[String]()
  var attempted = 0

  /** Times `body`; then runs `check` outside the timed region. A throw in
    * either, or a check message, counts the operation as failed. */
  def op(kind: String, traced: Boolean, records: Long, label: String = "")(body: => Unit)(
      check: => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Main.cpuSeconds()
    val ok =
      try { tracer.span(s"op.$kind")(body); true }
      catch { case e: Throwable => fail(kind, e); false }
    ops += Op(kind, (System.nanoTime() - t0) / 1e9, Main.cpuSeconds() - c0, traced,
      records, round = round)
    Main.note(f"$kind ${ops.last.wall}%.3f s cpu ${ops.last.cpu}%.3f s" +
      s"${if (traced) " traced" else ""} $label")
    if (ok) {
      try check.foreach(msg => failures += s"$kind: $msg")
      catch { case e: Throwable => fail(s"$kind check", e) }
    }
  }

  /** Runs `body` with a scratch recorder: warm-up operations, whose walls
    * are dropped but whose attempts and failures count. */
  def unmeasured(body: Recorder => Unit): Unit = {
    val scratch = new Recorder(tracer)
    body(scratch)
    attempted += scratch.attempted
    failures ++= scratch.failures
  }

  /** An untimed operation, such as a query's checked run. */
  def untimed(kind: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(msg => failures += s"$kind: $msg")
    catch { case e: Throwable => fail(kind, e) }
  }

  def fail(kind: String, e: Throwable): Unit = {
    failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(400)
    e.printStackTrace()
  }
}

/** A workload: a set of inputs made from the seed and the operations run
  * on them. `setup` makes everything the first timed operation needs and
  * is repeated; `warm` runs once, untimed, before the first timed
  * operation; `round` runs a fixed group of timed operations (a day, or a
  * pass over the query list) and may be repeated; `finish` runs once after
  * the last round. */
trait Workload {
  /** The operation kind whose median CPU time is `op_cpu_s_p50`. */
  def mainKind: String
  def setup(spark: SparkSession, rec: Recorder): Unit
  def warm(spark: SparkSession, rec: Recorder): Unit
  def round(spark: SparkSession, rec: Recorder, traced: Boolean): Unit
  def finish(spark: SparkSession, rec: Recorder, traced: Boolean): Unit = ()
  /** Extra result fields for run.py (JSON object members), if any. */
  def extraJson: String = ""
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 7

  def session(o: Opts, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the process has used, all threads. On Linux this is the
    * scheduler's run time of the threads, which leaves out the time a
    * virtual machine's hypervisor gives the CPU to other guests (steal). */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  private val jvmStart = System.nanoTime()
  /** Progress line on stderr (run.py keeps the log of the last run). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${secondsSince(jvmStart)}%7.2f s] $msg")

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(s"${o.workload}-seed${o.seed}")
    val w: Workload = o.workload match {
      case "etl_daily" => new EtlDays(Seq(new BatchPipeline(o, tracer),
        new StreamPipeline(o, tracer)))
      case "etl_batch" => new EtlDays(Seq(new BatchPipeline(o, tracer)))
      case "etl_stream" => new EtlDays(Seq(new StreamPipeline(o, tracer)))
      case "q_iterative" => new QueryPasses(o, tracer, QueryPasses.Iterative)
      case "q_oneshot" => new QueryPasses(o, tracer, QueryPasses.OneShot)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder(tracer)
    val setupWalls = ArrayBuffer[Double]()
    val setupCpus = ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      val c0 = cpuSeconds()
      if (spark != null) spark.stop()
      spark = session(o, cpus)
      tracer.attach(spark)
      w.setup(spark, rec)
      setupWalls += secondsSince(t0)
      setupCpus += cpuSeconds() - c0
      note(f"setup ${setupWalls.last}%.3f s cpu ${setupCpus.last}%.3f s")
    }
    w.warm(spark, rec)
    note("warm done")

    // Measure for o.seconds of operation wall (the untimed restores and
    // output checks between operations do not count), in whole rounds:
    // another round starts if it would end nearer to o.seconds than the
    // last one did, judged by the last round's operation wall (the first
    // round always runs). The traced run alternates untraced and traced
    // rounds, so it measures its own overhead.
    def measured: Double = rec.ops.iterator.filterNot(_.derived).map(_.wall).sum
    val m0 = measured
    var i = 0
    var last = 0.0
    while (i == 0 || (o.trace && i < 2) || measured - m0 + last / 2 <= o.seconds) {
      val traced = o.trace && i % 2 == 1
      val r0 = measured
      tracer.enabled = traced
      rec.round = i
      w.round(spark, rec, traced)
      tracer.enabled = false
      last = measured - r0
      i += 1
    }
    tracer.enabled = o.trace
    rec.round = -1
    w.finish(spark, rec, o.trace)
    tracer.enabled = false

    val metrics = ArrayBuffer[(String, Double, String)]()
    def mainOps(traced: Boolean) =
      rec.ops.filter(op => op.kind == w.mainKind && op.traced == traced)
    if (!o.trace) {
      // records per CPU second of a round's operations, median over rounds
      val throughputs = rec.ops.filter(op => !op.traced && !op.derived && op.round >= 0)
        .groupBy(_.round).values.map(ops => ops.map(_.records).sum / ops.map(_.cpu).sum)
      metrics += (("setup_s", median(setupCpus.toSeq), "s"))
      metrics += (("op_cpu_s_p50", median(mainOps(false).map(_.cpu).toSeq), "s"))
      metrics += (("records_per_cpu_s", median(throughputs.toSeq), "rec/cpu_s"))
    } else {
      val tracedOps = rec.ops.count(op => op.traced && op.kind != "query")
      metrics ++= Layers.metrics(tracer, tracedOps)
      metrics += (("op.wall_s_p50", median(mainOps(false).map(_.wall).toSeq), "s"))
      metrics += (("setup.wall_s", median(setupWalls.toSeq), "s"))
      metrics += (("trace.op_s_p50", median(mainOps(true).map(_.wall).toSeq), "s"))
      metrics += (("trace.overhead", median(mainOps(true).map(_.cpu).toSeq) /
        median(mainOps(false).map(_.cpu).toSeq) - 1, "ratio"))
      metrics += (("jvm.rss_peak_mb", peakRssMb(), "MB"))
      writeSpans(o, tracer)
    }
    spark.stop()

    val nOps = rec.ops.groupBy(_.kind).map { case (k, v) => s""""$k":${v.size}""" }
    val json =
      s"""{"attempted":${rec.attempted},"failed":${rec.failures.size},""" +
        s""""failures":${Json.arr(rec.failures.toSeq.map(Json.str))},""" +
        s""""ops":{${nOps.mkString(",")}},""" +
        s""""setup_walls":${Json.arr(setupWalls.toSeq.map(Json.num))},""" +
        s""""metrics":${Json.obj(metrics.toSeq.map { case (n, v, u) =>
          n -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })}""" +
        w.extraJson + "}"
    Files.write(o.out, json.getBytes(StandardCharsets.UTF_8))
  }

  private def writeSpans(o: Opts, tracer: Tracer): Unit = {
    val lines = tracer.allSpans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run":${Json.str(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(o.out.resolveSibling("spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
