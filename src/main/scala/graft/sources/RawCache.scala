package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** S2/S3 cache-or-fetch for raw payloads (etl.py:39-70): payloads are keyed
  * `{symbol}_{date}.json`; if today's file exists it is read back VERBATIM
  * (bytes untouched, like the reference's json.load of its own dump),
  * otherwise the fetcher runs and the payload is persisted before use —
  * which is what makes re-runs deterministic and fetch-free (the
  * reference's de-facto fixture mechanism, SURVEY.md §5.1).
  *
  * This is an ingest-side driver utility by design (one small JSON per
  * symbol-day); the data-plane read of the cache dir is the distributed
  * `AlphaVantage.readRaw` / `StreamingIngest.stockStream`. */
class RawCache(dir: String) {
  Files.createDirectories(Paths.get(dir))

  def pathFor(symbol: String, date: String): Path =
    Paths.get(dir, s"${symbol}_$date.json")

  def contains(symbol: String, date: String): Boolean =
    Files.exists(pathFor(symbol, date))

  /** Returns the cached payload, fetching and persisting on miss. The
    * fetcher returning None (rate limit, network down) yields None without
    * caching — the symbol is skipped, never fatal (etl.py:56, 77). */
  def getOrFetch(symbol: String, date: String)(
      fetch: String => Option[String]): Option[String] = {
    val p = pathFor(symbol, date)
    if (Files.exists(p)) {
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    } else {
      fetch(symbol).map { payload =>
        // write aside, then rename into place: a run killed mid-write
        // leaves a `.`-prefixed temp file that readers skip and the next
        // run overwrites, never a truncated `{symbol}_{date}.json`
        val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
        Files.write(tmp, payload.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
        payload
      }
    }
  }
}

/** DETERMINISTIC STUB standing in for `requests.get(ALPHA_VANTAGE_URL)`
  * (etl.py:48-50): same payload shape as raw_data/AAPL_2025-10-05.json,
  * prices derived from a hash of (symbol, date) so replays are exact. */
object FakeAlphaVantageServer {
  def fetch(symbol: String, date: String): String = {
    // mask, not math.abs: abs(Int.MinValue) is still negative, which would
    // produce negative prices/volumes for that (symbol, date)
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$symbol|$date") & 0x7fffffff
    val base = 100.0 + (h % 40000) / 100.0
    val open = base
    val high = base * 1.02
    val low = base * 0.985
    val close = base * (0.99 + (h % 97) / 4850.0)
    val volume = 1000000L + h % 50000000L
    f"""{
       |    "Meta Data": {
       |        "1. Information": "Daily Prices (open, high, low, close) and Volumes",
       |        "2. Symbol": "$symbol",
       |        "3. Last Refreshed": "$date",
       |        "4. Output Size": "Compact",
       |        "5. Time Zone": "US/Eastern"
       |    },
       |    "Time Series (Daily)": {
       |        "$date": {
       |            "1. open": "$open%.4f",
       |            "2. high": "$high%.4f",
       |            "3. low": "$low%.4f",
       |            "4. close": "$close%.4f",
       |            "5. volume": "$volume"
       |        }
       |    }
       |}""".stripMargin
  }
}

/** S7 append-only run log (etl.py:222-223): one line per pipeline run. */
class RunLog(path: String) {
  def append(message: String): Unit = {
    val line = s"$message\n"
    Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  def lines(): Seq[String] =
    if (Files.exists(Paths.get(path)))
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(Paths.get(path))).asScala.toSeq
    else Seq.empty
}
