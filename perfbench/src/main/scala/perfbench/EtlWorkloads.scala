package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.{AlphaVantage, ManifestTable, ParquetWarehouse, RawCache}
import graft.streaming.{DauStateStream, GatedIngest, StreamingIngest}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.delete)
  }

  /** Copies a tree, keeping file times (the stream source compares them). */
  def copy(from: Path, to: Path): Unit = {
    val all = Files.walk(from).iterator().asScala.toSeq
    all.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** The output check after a day: a failure, if any, and the check of a
  * replay of that day, which compares against the state seen here. */
final case class Check(failure: Option[String], afterReplay: () => Option[String])

/** One ETL pipeline over the seeded payloads. Its state lives in `live`;
  * `snap` keeps a copy taken right after the history bootstrap. */
abstract class Pipeline(o: Opts, protected val tracer: Tracer, val name: String) {
  val NSymbols: Int
  protected val live: Path = o.work.resolve(name).resolve("live")
  private val snap = o.work.resolve(name).resolve("snap")
  protected var payloads: Payloads = _

  /** Payload records the deliveries of day `i` carry. */
  def records(i: Int): Long = payloads.records(i)

  def setup(nDays: Int): Unit = {
    payloads = new Payloads(o.seed, NSymbols, nDays)
    Dirs.delete(live.getParent)
    Files.createDirectories(live)
  }

  /** Lands days `0 until days` and ingests them in one run, then takes the
    * snapshot. */
  def bootstrap(spark: SparkSession, days: Int): Unit = {
    val t0 = System.nanoTime()
    history(spark, days)
    checkDay(spark, days - 1).failure.foreach(m => throw new IllegalStateException(m))
    Dirs.copy(live, snap)
    Main.note(f"$name bootstrap ${Main.secondsSince(t0)}%.3f s")
  }

  def restore(): Unit = {
    Dirs.delete(live)
    Dirs.copy(snap, live)
  }

  protected def history(spark: SparkSession, days: Int): Unit
  /** Runs scheduled day `i` against `live`. */
  def day(spark: SparkSession, i: Int, traced: Boolean): Unit
  def checkDay(spark: SparkSession, i: Int): Check
  /** Re-runs committed day `i`. */
  def replay(spark: SparkSession, i: Int, traced: Boolean): Unit
}

/** The ETL workloads: a scheduled day through one or more pipelines.
  *
  * After `BootDays` days of history are bootstrapped (untimed), each round
  * restores the post-bootstrap snapshot (untimed) and runs scheduled day
  * `BootDays` (one timed operation, every pipeline in turn). Every round
  * does the same work on the same state, so its costs are samples of one
  * distribution. After the last round the day is replayed once (one timed
  * operation, checked like the days; its cost is in the traced run's
  * per-layer metrics only, which keeps the rounds short). One untimed
  * round after the bootstrap warms the day's code paths: without it the
  * first timed days cost some 10% more CPU than the later ones. */
final class EtlDays(parts: Seq[Pipeline]) extends Workload {
  /** Collects the garbage earlier work (bootstrap, checks) left before an
    * operation is timed, so no operation pays for another's heap. */
  private def quiesce(): Unit = System.gc()

  /** History days; with [[Payloads.Start]] the timed day is a Monday. */
  val BootDays = 5
  val mainKind = "day"
  private val Day = BootDays

  def setup(spark: SparkSession, rec: Recorder): Unit =
    parts.foreach(_.setup(BootDays + 1))

  def warm(spark: SparkSession, rec: Recorder): Unit = {
    parts.foreach(_.bootstrap(spark, BootDays))
    rec.unmeasured(round(spark, _, traced = false))
  }

  def round(spark: SparkSession, rec: Recorder, traced: Boolean): Unit = {
    parts.foreach(_.restore())
    quiesce()
    checks = Nil
    rec.op("day", traced, parts.map(_.records(Day)).sum)(
      parts.foreach(_.day(spark, Day, traced))) {
      checks = parts.map(_.checkDay(spark, Day))
      checks.iterator.flatMap(_.failure).nextOption()
    }
  }

  /** The checks of the last day; the replay compares against them. */
  private var checks = Seq.empty[Check]

  override def finish(spark: SparkSession, rec: Recorder, traced: Boolean): Unit = {
    quiesce()
    rec.op("replay", traced, 0L)(parts.foreach(_.replay(spark, Day, traced)))(
      checks.iterator.map(_.afterReplay()).collectFirst { case Some(m) => m })
  }
}

/** The reference's daily batch job, the calls `DemoPipeline.runBatch`
  * makes — `RawCache` land, `AlphaVantage` read → validate → tabularize,
  * `ParquetWarehouse.append` — on one lake and one table. Each day's
  * payloads repeat 99 of their 100 rows, so the lake re-read, the anti-join
  * and the whole-table rewrite do the work. */
final class BatchPipeline(o: Opts, tracer: Tracer)
    extends Pipeline(o, tracer, "batch") {
  val NSymbols = 30

  private def lake = live.resolve("raw_data").toString
  private def table = live.resolve("warehouse/stock_daily_data").toString

  private def land(i: Int, traced: Boolean): Unit = {
    val date = payloads.days(i).toString
    val cache = new RawCache(lake)
    payloads.symbols.indices.foreach { s =>
      val sym = payloads.symbols(s)
      if (traced)
        tracer.add(if (cache.contains(sym, date)) "rawcache.hits" else "rawcache.misses", 1)
      cache.getOrFetch(sym, date)(_ => Some(payloads.body(s, i)))
    }
  }

  private def ingest(spark: SparkSession): Unit = {
    val (valid, _) = AlphaVantage.validate(AlphaVantage.readRaw(spark, lake))
    new ParquetWarehouse(spark, table)
      .append(AlphaVantage.tabularize(valid).toDF())
  }

  protected def history(spark: SparkSession, days: Int): Unit = {
    (0 until days).foreach(land(_, traced = false))
    ingest(spark)
  }

  def day(spark: SparkSession, i: Int, traced: Boolean): Unit = {
    tracer.span("rawcache.land")(land(i, traced))
    if (!traced) ingest(spark)
    else {
      // the lazy layers, each forced by an action of its own
      val raw = tracer.span("alphavantage.read") {
        val r = AlphaVantage.readRaw(spark, lake)
        r.write.format("noop").mode("overwrite").save()
        r
      }
      tracer.add("alphavantage.files_scanned", raw.inputFiles.length)
      val valid = tracer.span("alphavantage.validate") {
        val (v, q) = AlphaVantage.validate(raw)
        v.write.format("noop").mode("overwrite").save()
        tracer.add("alphavantage.payloads_quarantined", q.count().toDouble)
        v
      }
      val rows = tracer.span("alphavantage.tabularize") {
        val seen = Observation()
        val t = AlphaVantage.tabularize(valid)
        t.observe(seen, count(lit(1)).as("n")).write.format("noop")
          .mode("overwrite").save()
        tracer.add("alphavantage.rows_out", seen.get("n").asInstanceOf[Long].toDouble)
        t
      }
      val before = tracer.span("trace.count")(tableRows(spark))
      tracer.span("warehouse.append") {
        new ParquetWarehouse(spark, table).append(rows.toDF())
      }
      tracer.span("trace.count") {
        val after = tableRows(spark)
        val bytes = Dirs.size(java.nio.file.Paths.get(table)).toDouble
        val appended = (after - before).toDouble
        tracer.add("warehouse.rows_appended", appended)
        tracer.add("warehouse.bytes_written", bytes)
        tracer.add("warehouse.appended_bytes", appended * bytes / math.max(1L, after))
      }
    }
  }

  private def tableRows(spark: SparkSession): Long = spark.read.parquet(table).count()

  /** Order-independent hash of the whole table, load timestamps included. */
  private def tableHash(spark: SparkSession): (Long, java.math.BigDecimal) = {
    val r = spark.read.parquet(table)
      .agg(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Warehouse rows and quarantined payloads against the generator's
    * counts; a replay must leave the table's rows and hash unchanged. */
  def checkDay(spark: SparkSession, i: Int): Check = {
    val (wantRows, wantQuarantined) = payloads.expected(i)
    val before = tableHash(spark)
    val gotQuarantined =
      AlphaVantage.validate(AlphaVantage.readRaw(spark, lake))._2.count()
    val failure =
      if (before._1 != wantRows)
        Some(s"day $i: warehouse has ${before._1} rows, expected $wantRows")
      else if (gotQuarantined != wantQuarantined)
        Some(s"day $i: $gotQuarantined payloads quarantined, expected $wantQuarantined")
      else None
    Check(failure, () => {
      val after = tableHash(spark)
      if (after != before) Some(s"replay of day $i changed the table: $before -> $after")
      else None
    })
  }

  def replay(spark: SparkSession, i: Int, traced: Boolean): Unit =
    day(spark, i, traced)
}

/** The streaming form of the daily job: the same payloads (the first
  * `NSymbols` symbols) as files in a drop dir, drained by one `AvailableNow`
  * run per day — the calls `DemoPipeline.runStreaming` makes:
  * `StreamingIngest` watermark key-dedup into `GatedIngest.sink` and
  * `DauStateStream.sink`, both committing to `ManifestTable`s. Each
  * micro-batch pays the gate's fixed cost of some 30 jobs, so a day is one
  * micro-batch (`FilesPerTrigger` = the day's file count). */
final class StreamPipeline(o: Opts, tracer: Tracer)
    extends Pipeline(o, tracer, "stream") {
  val NSymbols = 12
  /** `maxFilesPerTrigger` of the daily runs: one micro-batch a day. */
  val FilesPerTrigger = NSymbols

  private def drop = live.resolve("drop")
  private def state(name: String) = live.resolve(name).toString
  private val tables = Seq("accepted", "txtidx", "centroids", "symbol_state")

  private def land(i: Int): Unit = {
    Files.createDirectories(drop)
    val date = payloads.days(i).toString
    payloads.symbols.indices.foreach { s =>
      val f = drop.resolve(s"${payloads.symbols(s)}_$date.json")
      if (!Files.exists(f))
        Files.write(f, payloads.body(s, i).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** One `AvailableNow` run over the drop dir; `perTrigger` files per
    * micro-batch, or all pending files in one batch. */
  private def drain(spark: SparkSession, traced: Boolean,
      perTrigger: Option[Int]): Unit = {
    val sink = { (batch: DataFrame, batchId: Long) =>
      tracer.span("stream.batch") {
        val docs = StreamingIngest.stockDocForm(batch)
        val acceptedBefore =
          if (traced) tracer.span("trace.count") {
            tracer.add("gate.rows_in", docs.count().toDouble)
            acceptedRows(spark)
          } else 0L
        tracer.span("gate.sink") {
          GatedIngest.sink(state("accepted"), state("txtidx"),
            state("centroids"), k = 2, textThreshold = 0.8,
            cosThreshold = 0.999, "bench")(docs, batchId)
        }
        if (traced) tracer.span("trace.count") {
          tracer.add("gate.admitted", (acceptedRows(spark) - acceptedBefore).toDouble)
        }
        tracer.span("dau.sink") {
          DauStateStream.sink(state("symbol_state"), 12, "bench-dau")(
            batch.select(xxhash64(col("symbol")).as("user_id"),
              col("date").cast("timestamp").as("ts")), batchId)
        }
      }
    }
    val q = StreamingIngest.withKeyDedup(
        StreamingIngest.stockStream(spark, drop.toString, perTrigger))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", state("ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
  }

  private def acceptedRows(spark: SparkSession): Long =
    if (ManifestTable.currentVersion(state("accepted")) == 0L) 0L
    else ManifestTable.read(spark, state("accepted"))._2.count()

  private def versions(): Long =
    tables.map { t =>
      if (Files.exists(live.resolve(t))) ManifestTable.currentVersion(state(t)) else 0L
    }.sum

  private def snapshotFiles(): Long = tables.map { t =>
    if (!Files.exists(live.resolve(t))) 0L
    else ManifestTable.files(state(t), ManifestTable.currentVersion(state(t))).size.toLong
  }.sum

  /** The whole history in one micro-batch. */
  protected def history(spark: SparkSession, days: Int): Unit = {
    (0 until days).foreach(land)
    drain(spark, traced = false, perTrigger = None)
  }

  def day(spark: SparkSession, i: Int, traced: Boolean): Unit = {
    val v0 = if (traced) versions() else 0L
    tracer.span("stream.land")(land(i))
    tracer.span("stream.run")(drain(spark, traced, Some(FilesPerTrigger)))
    if (traced) {
      tracer.add("manifest.versions", (versions() - v0).toDouble)
      tracer.set("manifest.files", snapshotFiles().toDouble)
    }
  }

  /** Accepted rows and distinct accepted `doc_id`s. */
  private def acceptedIds(spark: SparkSession): (Long, Long) = {
    val r = ManifestTable.read(spark, state("accepted"))._2
      .agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def unique(i: Int, ids: (Long, Long)): Option[String] =
    if (ids._1 == ids._2) None
    else Some(s"day $i: ${ids._1} accepted rows but ${ids._2} distinct doc_ids")

  /** Accepted `doc_id`s are unique; a replay must leave the accepted row
    * count unchanged. */
  def checkDay(spark: SparkSession, i: Int): Check = {
    val before = acceptedIds(spark)
    Check(unique(i, before), () => {
      val after = acceptedIds(spark)
      if (after._1 != before._1)
        Some(s"replay of day $i changed accepted rows: ${before._1} -> ${after._1}")
      else unique(i, after)
    })
  }

  /** Replays day `i`: the day's first payload is delivered again, byte for
    * byte, under a new file name, and the day's run fires again. */
  def replay(spark: SparkSession, i: Int, traced: Boolean): Unit = {
    val date = payloads.days(i).toString
    val again = drop.resolve(s"${payloads.symbols(0)}_${date}_redelivered.json")
    val v0 = if (traced) versions() else 0L
    tracer.span("stream.land") {
      Files.write(again, payloads.body(0, i).getBytes(StandardCharsets.UTF_8))
    }
    tracer.span("stream.run")(drain(spark, traced, Some(FilesPerTrigger)))
    if (traced) tracer.add("manifest.versions", (versions() - v0).toDouble)
  }
}
