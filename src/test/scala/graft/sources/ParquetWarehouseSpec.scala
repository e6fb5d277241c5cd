package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[ParquetWarehouse.append]] swaps the rewritten table in by renames; a
  * crash between any two steps must leave every committed row readable
  * and appendable. */
class ParquetWarehouseSpec extends SparkSpec {

  private def day(dates: String*): DataFrame = {
    import spark.implicits._
    dates.map(d => ("AAPL", d, 1.0, 2.0, 0.5, 1.5, 100L, 0.1))
      .toDF("symbol", "date", "open", "high", "low", "close", "volume",
        "daily_change_percentage")
  }

  private def dates(path: String): Seq[String] =
    spark.read.parquet(path).select("date").collect().map(_.get(0).toString)
      .toSeq.sorted

  /** A warehouse whose swap stops after its first rename, the way a
    * process killed between the two renames would. */
  private class CrashAfterFirstRename(path: String)
      extends ParquetWarehouse(spark, path) {
    private var renames = 0
    override protected def rename(from: File, to: File): Unit = {
      renames += 1
      if (renames == 2) throw new IllegalStateException("crash")
      super.rename(from, to)
    }
  }

  test("a crash between the swap's renames loses no row: the next append " +
      "rolls the swap forward and keeps every earlier row") {
    val path = Files.createTempDirectory("whcrash").toString + "/stock"
    new ParquetWarehouse(spark, path).append(day("2025-10-01", "2025-10-02"))
    intercept[IllegalStateException] {
      new CrashAfterFirstRename(path).append(day("2025-10-03"))
    }
    // the crash left no live table, only the set-aside previous one and
    // the finished staging write
    assert(!new File(path).exists())
    assert(new File(path + "__previous").exists())
    assert(new File(path + "__staging").exists())
    new ParquetWarehouse(spark, path).append(day("2025-10-03", "2025-10-04"))
    assert(dates(path) == Seq("2025-10-01", "2025-10-02", "2025-10-03",
      "2025-10-04"))
    assert(!new File(path + "__previous").exists())
    assert(!new File(path + "__staging").exists())
  }

  test("a read after the crash sees the rolled-forward table") {
    val path = Files.createTempDirectory("whcrashread").toString + "/stock"
    new ParquetWarehouse(spark, path).append(day("2025-10-01"))
    intercept[IllegalStateException] {
      new CrashAfterFirstRename(path).append(day("2025-10-02"))
    }
    assert(new ParquetWarehouse(spark, path).readBack(10).count() == 2)
  }

  test("a refused rename fails the append instead of passing silently") {
    val path = Files.createTempDirectory("whrefused").toString + "/stock"
    val refusing = new ParquetWarehouse(spark, path) {
      override protected def rename(from: File, to: File): Unit =
        super.rename(from, new File(to, "missing/parent"))
    }
    intercept[java.io.IOException](refusing.append(day("2025-10-01")))
  }
}
