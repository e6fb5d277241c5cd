package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** S4/S5/S6: the warehouse sink contract of the reference (etl.py:110-180)
  * behind one trait. The reference's MySQL `CREATE TABLE IF NOT EXISTS` +
  * row-wise `INSERT IGNORE` + `UNIQUE(symbol, date)` becomes: declared
  * DECIMAL schema at the boundary, set-based anti-join append, engine-level
  * idempotence. A JDBC implementation would swap [[ParquetWarehouse]] for
  * `df.write.format("jdbc")` inside the same trait (no JDBC endpoint exists
  * in this environment).
  */
trait StockWarehouse {
  /** Idempotent append: exactly-once per (symbol, date) (etl.py:127, 142). */
  def append(batch: DataFrame): Unit
  /** S5: inspection read-back — last n rows by key desc (etl.py:174). */
  def readBack(n: Int): DataFrame
  /** S6: catalog inspection — (column, type) rows (etl.py:161-172). */
  def describe(): Seq[(String, String)]
}

object Warehouse {
  /** The at-rest schema of etl.py:115-129: DECIMAL(15,4) prices,
    * DECIMAL(10,4) change, TIMESTAMP load audit column.
    *
    * Documented divergence: the reference's AUTO_INCREMENT `id` surrogate
    * (etl.py:117) is omitted — a distributed engine has no cheap global
    * counter, the natural key is (symbol, date), and a
    * `monotonically_increasing_id()` stand-in would be non-contiguous and
    * non-deterministic across runs. */
  def toWarehouseSchema(df: DataFrame): DataFrame =
    df.select(
      col("symbol").cast("string").as("symbol"),
      col("date").cast("date").as("date"),
      col("open").cast("decimal(15,4)").as("open_price"),
      col("high").cast("decimal(15,4)").as("high_price"),
      col("low").cast("decimal(15,4)").as("low_price"),
      col("close").cast("decimal(15,4)").as("close_price"),
      col("volume").cast("long").as("volume"),
      col("daily_change_percentage").cast("decimal(10,4)")
        .as("daily_change_percentage"),
      current_timestamp().as("extraction_timestamp"))
}

/** Parquet-backed warehouse (the harness stand-in for MySQL).
  *
  * An append writes the merged table to `<path>__staging`, then swaps it
  * in by renames: live → `<path>__previous`, staging → live, delete
  * `__previous`. Every step either completes or leaves a state the next
  * append or read repairs ([[recover]]), so a crash never loses the
  * table: without the live dir, `__previous` means the crash came
  * between the two renames, after the staging write had finished, and
  * the swap rolls forward. */
class ParquetWarehouse(spark: SparkSession, path: String) extends StockWarehouse {

  private val live = new java.io.File(path)
  private val staging = new java.io.File(path + "__staging")
  private val previous = new java.io.File(path + "__previous")

  /** One step of the swap: fails loudly instead of ignoring a refused
    * rename. */
  protected def rename(from: java.io.File, to: java.io.File): Unit =
    if (!from.renameTo(to))
      throw new java.io.IOException(s"could not rename $from to $to")

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  /** Finish a swap a crash interrupted. A leftover `__staging` next to
    * the live table is an unfinished write, which the next append
    * overwrites. Assumes one writer, and no read during an append. */
  private def recover(): Unit = {
    if (!live.exists() && previous.exists())
      rename(if (staging.exists()) staging else previous, live)
    if (previous.exists()) rm(previous)
  }

  private def current(): DataFrame = {
    recover()
    if (live.exists()) spark.read.parquet(path)
    else spark.emptyDataFrame
  }

  override def append(batch: DataFrame): Unit = {
    recover()
    val incoming = Warehouse.toWarehouseSchema(batch)
    val merged =
      if (!live.exists()) incoming.dropDuplicates(Seq("symbol", "date"))
      else Upsert.upsertIgnore(incoming, spark.read.parquet(path),
        Seq("symbol", "date"))
    // write-then-swap so the read inside upsertIgnore never races the write
    merged.write.mode("overwrite").parquet(staging.getPath)
    if (live.exists()) rename(live, previous)
    rename(staging, live)
    rm(previous)
  }

  override def readBack(n: Int): DataFrame =
    current().orderBy(desc("symbol"), desc("date")).limit(n)

  override def describe(): Seq[(String, String)] =
    current().schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
}
