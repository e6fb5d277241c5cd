package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ParquetWarehouse.append]] adds files of new keys to the live
  * directory and never rewrites an earlier one; a crashed append is
  * repaired by the next append's key rule. */
class ParquetWarehouseSpec extends SparkSpec {

  private def day(dates: String*): DataFrame = {
    import spark.implicits._
    dates.map(d => ("AAPL", d, 1.0, 2.0, 0.5, 1.5, 100L, 0.1))
      .toDF("symbol", "date", "open", "high", "low", "close", "volume",
        "daily_change_percentage")
  }

  private def table(): String =
    scratchDir("wh") + "/stock"

  private def dates(paths: String*): Seq[String] =
    spark.read.parquet(paths: _*).select("date").collect()
      .map(_.get(0).toString).toSeq.sorted

  /** Name → SHA-256 of the files Spark reads as the table. */
  private def dataFiles(path: String): Map[String, String] =
    new File(path).listFiles()
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => f.getName -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString)
      .toMap

  /** Order-independent hash of the whole table, load timestamps included. */
  private def tableHash(path: String): (Long, java.math.BigDecimal) = {
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def loadTimes(path: String): Map[String, java.sql.Timestamp] =
    spark.read.parquet(path).select("date", "extraction_timestamp").collect()
      .map(r => r.get(0).toString -> r.getTimestamp(1)).toMap

  /** `batch`'s part files in warehouse form, written aside. */
  private def partFiles(batch: DataFrame): Seq[File] = {
    val aside = scratchDir("whaside") + "/t"
    Warehouse.toWarehouseSchema(batch).coalesce(1).write.parquet(aside)
    new File(aside).listFiles().filter(_.getName.startsWith("part-")).toSeq
  }

  test("an append leaves every earlier file byte-identical and adds only " +
      "files of new keys") {
    val path = table()
    val wh = new ParquetWarehouse(spark, path)
    wh.append(day("2025-10-01", "2025-10-02"))
    val before = dataFiles(path)
    wh.append(day("2025-10-02", "2025-10-03"))
    val after = dataFiles(path)
    before.foreach { case (name, sha) =>
      assert(after.get(name).contains(sha), s"$name was rewritten or removed")
    }
    val added = (after.keySet -- before.keySet).toSeq.map(n => s"$path/$n")
    assert(added.nonEmpty)
    assert(dates(added: _*) == Seq("2025-10-03"))
    assert(dates(path) == Seq("2025-10-01", "2025-10-02", "2025-10-03"))
  }

  test("replaying a day adds no row and leaves the table hash unchanged") {
    val path = table()
    val wh = new ParquetWarehouse(spark, path)
    wh.append(day("2025-10-01", "2025-10-02"))
    val before = tableHash(path)
    val files = dataFiles(path)
    wh.append(day("2025-10-01", "2025-10-02", "2025-10-02"))
    assert(tableHash(path) == before)
    assert(before._1 == 2L)
    assert(dataFiles(path) == files)
  }

  test("a crashed append is recovered: its committed part files and its " +
      "committed task directory land each key exactly once") {
    val path = table()
    new ParquetWarehouse(spark, path).append(day("2025-10-01", "2025-10-02"))
    // the crash: one of the day's part files reached the table, and one
    // task's output still sits committed under _temporary/0, where the
    // next job commit would merge it in
    partFiles(day("2025-10-03")).foreach(f =>
      Files.copy(f.toPath, new File(path, f.getName).toPath))
    val task = new File(path, "_temporary/0/task_202510030000_0001_m_000000")
    task.mkdirs()
    partFiles(day("2025-10-04")).foreach(f => Files.copy(f.toPath,
      new File(task, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
    val earlier = loadTimes(path)
    assert(earlier.keySet == Set("2025-10-01", "2025-10-02", "2025-10-03"))

    val wh = new ParquetWarehouse(spark, path)
    wh.append(day("2025-10-03", "2025-10-04", "2025-10-05"))
    assert(dates(path) == Seq("2025-10-01", "2025-10-02", "2025-10-03",
      "2025-10-04", "2025-10-05"))
    val now = loadTimes(path)
    earlier.foreach { case (d, ts) => assert(now(d) == ts, d) }
    assert(!new File(path, "_temporary").exists())
    assert(wh.readBack(10).count() == 5)
    assert(wh.describe().toMap.get("open_price").contains("decimal(15,4)"))
  }
}
