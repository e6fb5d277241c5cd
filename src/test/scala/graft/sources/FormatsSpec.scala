package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** S-ext: the engine's tables round-trip through every bundled columnar /
  * text format (parquet is the native harness format; ORC is the other
  * stats-bearing columnar option; CSV/JSON are the interchange paths).
  * Values — including timestamps — must survive bit-for-bit.
  *
  * 100 TB note: ORC and parquet both carry file/stripe min-max stats, so
  * the Layout/pruning story is format-portable; CSV/JSON carry none and
  * exist only at the ingest/export edge — never as the at-rest format.
  */
class FormatsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def sample: DataFrame =
    graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
      .filter(col("l_orderkey") < 200)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("ORC round-trip preserves rows, schema, and timestamps") {
    val tmp = scratchDir("orc")
    val src = sample
    src.write.mode("overwrite").orc(s"$tmp/li.orc")
    val back = spark.read.orc(s"$tmp/li.orc")
    assert(back.schema == src.schema)
    assert(rows(back) == rows(src))
  }

  test("ORC scan pushes filters and prunes columns like parquet") {
    val tmp = scratchDir("orc_scan")
    sample.write.mode("overwrite").orc(s"$tmp/li.orc")
    val plan = spark.read.orc(s"$tmp/li.orc")
      .filter(col("l_orderkey") === 42)
      .select(col("l_orderkey"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("CSV round-trip with explicit schema preserves values") {
    val tmp = scratchDir("csv")
    val src = sample
    // microsecond format: the default DateTimeFormatter output drops
    // trailing zeros, so pin a lossless round-trip format on both sides
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    src.write.mode("overwrite")
      .option("header", true).option("timestampFormat", fmt)
      .csv(s"$tmp/li.csv")
    val back = spark.read
      .schema(src.schema)
      .option("header", true).option("timestampFormat", fmt)
      .csv(s"$tmp/li.csv")
    assert(back.schema == src.schema)
    assert(rows(back) == rows(src))
  }

  test("JSON round-trip with explicit schema preserves values") {
    val tmp = scratchDir("json")
    val src = sample
    src.write.mode("overwrite").json(s"$tmp/li.json")
    val back = spark.read.schema(src.schema).json(s"$tmp/li.json")
    assert(back.schema == src.schema)
    assert(rows(back) == rows(src))
  }
}
