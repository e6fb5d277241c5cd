package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("RawCache fetches once, replays verbatim, skips on fetcher failure") {
    val dir = scratchDir("cache")
    val cache = new RawCache(dir)
    var fetches = 0
    val fetch = (s: String) => { fetches += 1; Some(s"""{"sym": "$s"}""") }

    assert(!cache.contains("AAPL", "2025-10-05"))
    val first = cache.getOrFetch("AAPL", "2025-10-05")(fetch)
    assert(first.contains("""{"sym": "AAPL"}""") && fetches == 1)
    // cache hit: byte-identical replay, no second fetch (etl.py:42-45)
    val second = cache.getOrFetch("AAPL", "2025-10-05")(fetch)
    assert(second == first && fetches == 1)
    // fetcher failure (rate limit): no cache entry, None, not fatal
    val failed = cache.getOrFetch("GOOG", "2025-10-05")(_ => None)
    assert(failed.isEmpty && !cache.contains("GOOG", "2025-10-05"))
  }

  test("RawCache: a write a crash left behind is invisible, and the next " +
      "run lands the whole payload") {
    val dir = scratchDir("cachecrash")
    val cache = new RawCache(dir)
    cache.getOrFetch("GOOG", "2025-10-05")(s =>
      Some(FakeAlphaVantageServer.fetch(s, "2025-10-05")))
    val payload = FakeAlphaVantageServer.fetch("AAPL", "2025-10-05")
    // a run killed mid-write leaves its truncated temp file behind
    val tmp = cache.pathFor("AAPL", "2025-10-05")
      .resolveSibling(".AAPL_2025-10-05.json.tmp")
    Files.write(tmp, payload.take(40).getBytes(StandardCharsets.UTF_8))

    assert(!cache.contains("AAPL", "2025-10-05"))
    assert(AlphaVantage.readRaw(spark, dir).count() == 1) // GOOG only
    var fetches = 0
    val got = cache.getOrFetch("AAPL", "2025-10-05") { s =>
      fetches += 1; Some(FakeAlphaVantageServer.fetch(s, "2025-10-05"))
    }
    assert(got.contains(payload) && fetches == 1)
    assert(new String(Files.readAllBytes(cache.pathFor("AAPL", "2025-10-05")),
      StandardCharsets.UTF_8) == payload)
    assert(!Files.exists(tmp))
    val (valid, quarantined) =
      AlphaVantage.validate(AlphaVantage.readRaw(spark, dir))
    assert(valid.count() == 2 && quarantined.count() == 0)
  }

  test("RunLog appends one line per run (etl.py:222-223)") {
    val path = scratchDir("log") + "/etl_log.txt"
    val log = new RunLog(path)
    log.append("ETL run at 2026-08-12 10:00:00")
    log.append("ETL run at 2026-08-13 10:00:00")
    assert(log.lines() == Seq(
      "ETL run at 2026-08-12 10:00:00", "ETL run at 2026-08-13 10:00:00"))
  }

  test("catalog inspection surfaces tables and columns (S6)") {
    graft.Tables.nation(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("nation_view")
    val tables = spark.catalog.listTables().collect().map(_.name)
    assert(tables.contains("nation_view"))
    val cols = spark.catalog.listColumns("nation_view").collect().map(_.name)
    assert(cols.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
  }
}
