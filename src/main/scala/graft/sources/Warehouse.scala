package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** S4/S5/S6: the warehouse sink contract of the reference (etl.py:110-180)
  * behind one trait. The reference's MySQL `CREATE TABLE IF NOT EXISTS` +
  * row-wise `INSERT IGNORE` + `UNIQUE(symbol, date)` becomes: declared
  * DECIMAL schema at the boundary, set-based anti-join append
  * ([[graft.operators.Upsert.newKeys]]), engine-level idempotence. Two
  * implementations: [[ParquetWarehouse]] and the reference's own JDBC sink,
  * [[JdbcWarehouse]].
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

/** Parquet-backed warehouse (the harness stand-in for MySQL): parquet
  * files directly under `path`.
  *
  * An append writes only the batch's new keys into the live directory
  * (Spark's append mode) and never rewrites an earlier file. Crash safety
  * is the `INSERT IGNORE` key rule itself: the job commit moves whole part
  * files into `path`, so a crash leaves none or some of a day's files,
  * each holding whole rows of keys the table did not have, and the next
  * append anti-joins those keys away and lands the rest. The one leftover
  * that would break this is a crashed write's `_temporary` directory:
  * Hadoop's v1 `FileOutputCommitter` merges every committed task directory
  * under it at the next job commit, so [[append]] deletes it first.
  *
  * Spark commits one row-less file for an empty result; an append with
  * no new key counts its written rows on the write job itself and deletes
  * that file again, so a replay leaves the table's file set unchanged.
  * Assumes one writer. */
class ParquetWarehouse(spark: SparkSession, path: String) extends StockWarehouse {

  private val dir = new Path(path)
  private def fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The files an append has committed; like Spark's reader, this skips
    * `_` and `.` names (`_SUCCESS`, `_temporary`). */
  private def dataFiles: Set[Path] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath).filterNot { p =>
      p.getName.startsWith("_") || p.getName.startsWith(".")
    }.toSet

  private def current(): DataFrame =
    if (dataFiles.nonEmpty) spark.read.parquet(path) else spark.emptyDataFrame

  override def append(batch: DataFrame): Unit = {
    fs.delete(new Path(dir, "_temporary"), true)
    val keys = Seq("symbol", "date")
    val incoming = Warehouse.toWarehouseSchema(batch)
    val before = dataFiles
    val fresh =
      if (before.nonEmpty) Upsert.newKeys(incoming, spark.read.parquet(path), keys)
      else incoming.dropDuplicates(keys)
    // counted by the write job itself: no extra job
    val written = Observation()
    fresh.observe(written, count(lit(1)).as("n")).write.mode("append").parquet(path)
    // the first append keeps its row-less file: it carries the schema
    if (before.nonEmpty && written.get("n") == 0L)
      (dataFiles -- before).foreach(fs.delete(_, false))
  }

  override def readBack(n: Int): DataFrame =
    current().orderBy(desc("symbol"), desc("date")).limit(n)

  override def describe(): Seq[(String, String)] =
    current().schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
}
