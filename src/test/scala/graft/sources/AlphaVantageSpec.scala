package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AlphaVantageSpec extends SparkSpec {
  private val fixtures = getClass.getResource("/raw_data").getPath

  test("ingest parses, validates, casts and derives the golden row") {
    import spark.implicits._
    val ds = AlphaVantage.ingest(spark, s"$fixtures/AAPL_d1.json")
    assert(ds.count() == 5)
    val golden = ds.filter($"date" === "2025-10-03").head()
    assert(golden.symbol == "AAPL")
    assert(golden.open == 254.665 && golden.close == 258.02)
    assert(golden.volume == 49155614L)
    // hand-computed from raw_data/AAPL_2025-10-05.json:10-15 via etl.py:98
    val expected = (258.02 - 254.665) / 254.665 * 100.0
    assert(math.abs(golden.daily_change_percentage - expected) < 1e-12)
  }

  test("validate quarantines rate-limit AND cast-dirty payloads (partition)") {
    val raw = AlphaVantage.readRaw(spark,
      s"$fixtures/{AAPL_d1,ERR_ratelimit,ERR_mixed}.json")
    val (ok, quarantined) = AlphaVantage.validate(raw)
    assert(ok.count() == 1) // AAPL_d1 only
    // the split partitions the input: the structurally-broken payload AND
    // the one-bad-record payload are both observable in quarantine
    assert(quarantined.count() == 2)
    assert(ok.count() + quarantined.count() == raw.count())
  }

  test("any non-numeric field rejects the WHOLE payload (etl.py:73-77)") {
    val ds = AlphaVantage.ingest(spark, s"$fixtures/ERR_badnum.json")
    assert(ds.count() == 0) // its only record has a bad open
    // one bad day among good days still quarantines the whole symbol —
    // the reference's Pydantic validation covers the full response object
    val mixed = AlphaVantage.ingest(spark, s"$fixtures/ERR_mixed.json")
    assert(mixed.count() == 0)
    // and a clean payload alongside it is unaffected
    val both = AlphaVantage.ingest(spark, s"$fixtures/{ERR_mixed,GOOG_d1}.json")
    assert(both.count() == 3)
  }

  test("multi-payload ingest unions all symbols") {
    import spark.implicits._
    val ds = AlphaVantage.ingest(spark,
      s"$fixtures/{AAPL_d1,GOOG_d1,MSFT_d1}.json")
    val bySym = ds.groupBy($"symbol").count().as[(String, Long)].collect().toMap
    assert(bySym == Map("AAPL" -> 5L, "GOOG" -> 3L, "MSFT" -> 2L))
  }

  test("candle re-bucketing collapses the daily series (G5 over the domain)") {
    import spark.implicits._
    import graft.functions.{CandleAggregator, PricePoint}
    val ds = AlphaVantage.ingest(spark, s"$fixtures/AAPL_d1.json")
    val points = ds.map(s => PricePoint(1L,
      s.date.toLocalDate.toEpochDay, 0L, s.close))
    val candle = points.groupByKey(_.key)
      .agg(new CandleAggregator().toColumn).collect().head._2
    // fixture closes: 251.5, 252.9, 254.2, 255.1, 258.02
    assert(candle.open == 251.5)   // first trading day's close
    assert(candle.close == 258.02) // last trading day's close
    assert(candle.low == 251.5 && candle.high == 258.02 && candle.n == 5L)
  }

  test("warehouse append is idempotent across duplicate and overlapping deliveries") {
    import spark.implicits._
    val path = scratchDir("wh") + "/stock"
    val wh = new ParquetWarehouse(spark, path)

    wh.append(AlphaVantage.ingest(spark, s"$fixtures/AAPL_d1.json").toDF())
    assert(spark.read.parquet(path).count() == 5)

    // byte-identical re-delivery (AAPL_d2 == AAPL_d1) → no new rows
    wh.append(AlphaVantage.ingest(spark, s"$fixtures/AAPL_d2.json").toDF())
    assert(spark.read.parquet(path).count() == 5)

    // overlapping restated window → only the genuinely new day lands
    wh.append(AlphaVantage.ingest(spark, s"$fixtures/AAPL_overlap.json").toDF())
    val rows = spark.read.parquet(path)
    assert(rows.count() == 6)
    assert(rows.filter($"date" === "2025-10-06").count() == 1)

    // warehouse schema is the declared DECIMAL contract (etl.py:115-129)
    val types = wh.describe().toMap
    assert(types("open_price") == "decimal(15,4)")
    assert(types("daily_change_percentage") == "decimal(10,4)")
    assert(types("extraction_timestamp") == "timestamp")
    // read-back preview (etl.py:174)
    assert(wh.readBack(5).count() == 5)
  }
}
