package perfbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Alpha Vantage payload generator: `nSymbols` symbols, one
  * compact (100 trading days) daily-series payload per symbol per
  * calendar day, for `nDays` calendar days starting at [[Payloads.Start]].
  *
  * A weekend day delivers Friday's window again, byte for byte, so it
  * adds no rows. On each day a seeded choice of symbols gets the planted
  * faults, a fixed number of each kind (the stated fraction of the
  * symbols, rounded, at least one), so every seed delivers the same number
  * of records a day:
  *   - a rate-limit body (no "Meta Data" / "Time Series (Daily)" keys),
  *     [[Payloads.RateLimitFrac]];
  *   - a body where one record carries a non-numeric field,
  *     [[Payloads.NonNumericFrac]];
  *   - a byte-identical re-delivery of the previous day's clean body
  *     (a stale API answer), [[Payloads.RedeliveryFrac]], from the second
  *     day on;
  *   - every other symbol gets the clean body.
  * Both faulty kinds are quarantined whole by `AlphaVantage.validate`.
  *
  * Open, high, low and close vary independently per record (high and low
  * are drawn around max/min of open and close), so the intraday-difference
  * embeddings of `StreamingIngest.stockDocForm` are not collinear.
  *
  * The generator also keeps the expected counts the output checks need:
  * the distinct valid (symbol, date) rows and the quarantined payloads
  * among all deliveries up to a day. */
final class Payloads(seed: Long, val nSymbols: Int, val nDays: Int) {
  import Payloads._

  val symbols: IndexedSeq[String] = (0 until nSymbols).map(i => f"S$i%03d")
  val days: IndexedSeq[LocalDate] = (0 until nDays).map(Start.plusDays(_))

  private def isTrading(d: LocalDate): Boolean =
    d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY

  // trading calendar: WindowSize trading days of history before Start,
  // then every weekday up to the last calendar day
  private val tradingDays: IndexedSeq[LocalDate] = {
    val before = Iterator.iterate(Start.minusDays(1))(_.minusDays(1))
      .filter(isTrading).take(WindowSize).toIndexedSeq.reverse
    before ++ days.filter(isTrading)
  }
  // index of the last trading day on or before calendar day i
  private val lastTrading: IndexedSeq[Int] = days.map { d =>
    tradingDays.lastIndexWhere(t => !t.isAfter(d))
  }

  private final case class Bar(open: Double, high: Double, low: Double,
      close: Double, volume: Long)

  private val bars: IndexedSeq[IndexedSeq[Bar]] = symbols.indices.map { s =>
    val rnd = new SplittableRandom(seed * 1000003L + s)
    var prevClose = 20.0 + rnd.nextDouble() * 480.0
    tradingDays.indices.map { _ =>
      val open = prevClose * math.exp(0.01 * gauss(rnd))
      val close = open * math.exp(0.02 * gauss(rnd))
      val high = math.max(open, close) * (1.0 + 0.015 * rnd.nextDouble())
      val low = math.min(open, close) * (1.0 - 0.015 * rnd.nextDouble())
      val volume = math.exp(16.0 + 0.6 * gauss(rnd)).toLong + 1000L
      prevClose = close
      Bar(open, high, low, close, volume)
    }
  }

  /** Delivery kind per (symbol, day). */
  val kinds: IndexedSeq[IndexedSeq[Kind]] = {
    val rnd = new SplittableRandom(seed * 7919L + 17L)
    val byDay = days.indices.map { i =>
      // a seeded permutation of the symbols; the faults take its head
      val order = Array.range(0, nSymbols)
      (nSymbols - 1 to 1 by -1).foreach { j =>
        val r = rnd.nextInt(j + 1)
        val t = order(j); order(j) = order(r); order(r) = t
      }
      val kind = Array.fill[Kind](nSymbols)(Clean)
      var at = 0
      def plant(k: Kind, frac: Double): Unit = {
        val n = math.max(1, math.round(frac * nSymbols).toInt)
        (at until at + n).foreach(j => kind(order(j)) = k)
        at += n
      }
      plant(RateLimit, RateLimitFrac)
      plant(NonNumeric, NonNumericFrac)
      if (i > 0) plant(Redelivery, RedeliveryFrac)
      kind.toIndexedSeq
    }
    symbols.indices.map(s => days.indices.map(i => byDay(i)(s)))
  }

  private def cleanBody(s: Int, end: Int): String = {
    val sb = new StringBuilder(12000)
    sb.append("{\n    \"Meta Data\": {\n")
    sb.append("        \"1. Information\": \"Daily Prices (open, high, low, close) and Volumes\",\n")
    sb.append("        \"2. Symbol\": \"").append(symbols(s)).append("\",\n")
    sb.append("        \"3. Last Refreshed\": \"").append(tradingDays(end)).append("\",\n")
    sb.append("        \"4. Output Size\": \"Compact\",\n")
    sb.append("        \"5. Time Zone\": \"US/Eastern\"\n    },\n")
    sb.append("    \"Time Series (Daily)\": {\n")
    val lo = end - WindowSize + 1
    (end to lo by -1).foreach { t =>
      val b = bars(s)(t)
      sb.append("        \"").append(tradingDays(t)).append("\": {\n")
      sb.append("            \"1. open\": \"").append(f4(b.open)).append("\",\n")
      sb.append("            \"2. high\": \"").append(f4(b.high)).append("\",\n")
      sb.append("            \"3. low\": \"").append(f4(b.low)).append("\",\n")
      sb.append("            \"4. close\": \"").append(f4(b.close)).append("\",\n")
      sb.append("            \"5. volume\": \"").append(b.volume).append("\"\n")
      sb.append(if (t == lo) "        }\n" else "        },\n")
    }
    sb.append("    }\n}")
    sb.toString
  }

  /** The body delivered for symbol `s` on calendar day `i`. */
  def body(s: Int, i: Int): String = bodies(s)(i)

  private def makeBody(s: Int, i: Int): String = kinds(s)(i) match {
    case Clean => cleanBody(s, lastTrading(i))
    case Redelivery => cleanBody(s, lastTrading(i - 1))
    case RateLimit => RateLimitBody
    case NonNumeric =>
      // one record's field becomes non-numeric; the whole payload must be
      // quarantined
      val rnd = new SplittableRandom(seed ^ (s.toLong << 20) ^ i)
      val field = Fields(rnd.nextInt(Fields.size))
      val clean = cleanBody(s, lastTrading(i))
      val key = s"\"$field\": \""
      val at = Iterator.iterate(clean.indexOf(key))(p => clean.indexOf(key, p + 1))
        .take(1 + rnd.nextInt(WindowSize)).toSeq.last
      val valueEnd = clean.indexOf('"', at + key.length)
      clean.substring(0, at + key.length) + "N/A" + clean.substring(valueEnd)
  }

  private val bodies: Array[Array[String]] = Array.tabulate(nSymbols, nDays)(makeBody)

  /** Time-series records carried by the day's deliveries. */
  def records(i: Int): Long =
    symbols.indices.count(s => kinds(s)(i) != RateLimit).toLong * WindowSize

  /** Distinct valid (symbol, date) rows and quarantined payloads among all
    * deliveries of days 0..i (one file per (symbol, day)). */
  def expected(i: Int): (Long, Long) = {
    var quarantined = 0L
    var rows = 0L
    symbols.indices.foreach { s =>
      val seen = mutable.BitSet()
      (0 to i).foreach { d =>
        kinds(s)(d) match {
          case RateLimit | NonNumeric => quarantined += 1
          case k =>
            val end = if (k == Redelivery) lastTrading(d - 1) else lastTrading(d)
            (end - WindowSize + 1 to end).foreach(seen += _)
        }
      }
      rows += seen.size
    }
    (rows, quarantined)
  }
}

object Payloads {
  sealed trait Kind
  case object Clean extends Kind
  case object RateLimit extends Kind
  case object NonNumeric extends Kind
  case object Redelivery extends Kind

  /** A Wednesday: five history days (Wed..Sun, weekend re-deliveries
    * included) put the timed day on a Monday. */
  val Start: LocalDate = LocalDate.of(2025, 6, 4)
  val WindowSize = 100
  val RateLimitFrac = 0.03
  val NonNumericFrac = 0.03
  val RedeliveryFrac = 0.05

  private val Fields = IndexedSeq("1. open", "2. high", "3. low", "4. close",
    "5. volume")

  val RateLimitBody: String =
    "{\n    \"Information\": \"Thank you for using Alpha Vantage! Our standard " +
      "API rate limit is 25 requests per day.\"\n}"

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def f4(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
}
