package etlbench

import java.time.{DayOfWeek, LocalDate, LocalTime}
import java.util.SplittableRandom

import org.apache.spark.sql.Row

import graft.etl.MarketCalendar
import graft.streaming.RawBarEvent

/** Seeded generator of raw 1-minute bars (the `Schemas.rawBars` layout,
  * `window_start` in epoch ns).
  *
  * Every ticker-day derives from (seed, ticker, date) alone, so two
  * workloads that share a ticker-day see exactly the same bars. The
  * generator plants the edge cases the ETL has to handle:
  *  - 120 s and 180 s gaps inside the session (densified),
  *  - breaks longer than 180 s (new island) and 1-row islands (dropped),
  *    mostly from the illiquid profile,
  *  - an all-NaN row on some illiquid ticker-days and one null-ticker
  *    row per day ([[nullTickerBar]]),
  *  - pre-market (04:00-09:30 ET) and after-hours (16:00-20:00 ET) bars,
  *  - DST-correct timestamps (dates on both sides of 2024-03-10).
  */
object BarGen {

  val Interval = "1m"
  private val MinuteNs = 60L * 1000000000L
  private val PreOpen = 4 * 60          // 04:00 ET, minute of day
  private val RegOpen = 9 * 60 + 30     // 09:30
  private val RegClose = 16 * 60        // 16:00
  private val PostClose = 20 * 60       // 20:00

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def key(seed: Long, ticker: String): Long =
    mix(mix(seed) ^ ticker.hashCode.toLong)

  /** About one ticker in eight is illiquid; SPY and VOO never are. */
  def illiquid(seed: Long, ticker: String): Boolean =
    ticker != "SPY" && ticker != "VOO" && java.lang.Math.floorMod(key(seed, ticker), 8L) == 0L

  /** `n` symbols in `BarsIO.tickerList` order: CSV symbols, then SPY, VOO. */
  def universe(n: Int): Seq[String] =
    (0 until n - 2).map(i => f"T$i%03d") ++ Seq("SPY", "VOO")

  /** The first `n` liquid tickers of the universe (SPY, VOO included). */
  def liquidUniverse(seed: Long, n: Int): Seq[String] =
    (0 until 10000).iterator.map(i => f"T$i%03d")
      .filterNot(illiquid(seed, _)).take(n - 2).toSeq ++ Seq("SPY", "VOO")

  /** Weekdays from `from` on, `n` of them. */
  def weekdays(from: LocalDate, n: Int): Seq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toSeq

  private def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** One ticker-day, sorted by `window_start`. */
  def tickerDay(seed: Long, ticker: String, date: LocalDate): Array[RawBarEvent] = {
    val rnd = new SplittableRandom(mix(key(seed, ticker) ^ date.toEpochDay))
    val thin = illiquid(seed, ticker)
    val (pReg, pPre, pPost, sigma) =
      if (thin) (0.55, 0.01, 0.02, 0.003) else (1.0, 0.04, 0.08, 0.001)
    val base = MarketCalendar.epochNanos(date, LocalTime.MIDNIGHT)
    var px = 20.0 + 480.0 * rnd.nextDouble()
    val adj = 0.97 + 0.03 * rnd.nextDouble()
    val nanAt = if (thin && rnd.nextDouble() < 0.5) RegOpen + 30 + rnd.nextInt(300) else -1
    val out = Array.newBuilder[RawBarEvent]
    var skip = 0
    var m = PreOpen
    while (m < PostClose) {
      val g = rnd.nextGaussian()
      px = math.max(1.0, px * math.exp(sigma * g))
      val regular = m >= RegOpen && m < RegClose
      val present =
        if (!regular) rnd.nextDouble() < (if (m < RegOpen) pPre else pPost)
        else if (skip > 0) { skip -= 1; false }
        else {
          val u = rnd.nextDouble()
          // liquid tickers: rare 120 s / 180 s gaps and rarer breaks
          if (!thin && u < 0.012) { skip = if (u < 0.006) 0 else 1; false }
          else if (!thin && u < 0.013) { skip = 3 + rnd.nextInt(5); false }
          else rnd.nextDouble() < pReg
        }
      if (present) {
        val o = r4(px * (1.0 + 0.0005 * rnd.nextGaussian()))
        val c = r4(px)
        val h = r4(math.max(o, c) * (1.0 + 0.0004 * math.abs(rnd.nextGaussian())))
        val l = r4(math.min(o, c) * (1.0 - 0.0004 * math.abs(rnd.nextGaussian())))
        val v = math.rint(200.0 + 4000.0 * math.exp(rnd.nextGaussian()))
        val ws = base + m * MinuteNs
        out += (if (m == nanAt) RawBarEvent(ticker, Double.NaN, Double.NaN,
            Double.NaN, Double.NaN, Double.NaN, Double.NaN, ws)
          else RawBarEvent(ticker, v, o, c, h, l, r4(c * adj), ws))
      }
      m += 1
    }
    out.result()
  }

  /** The day's one bar with a null ticker (dropped by the pipeline). */
  def nullTickerBar(seed: Long, date: LocalDate): RawBarEvent = {
    val rnd = new SplittableRandom(mix(mix(seed) ^ date.toEpochDay ^ 0x5EEDL))
    val ws = MarketCalendar.epochNanos(date, LocalTime.MIDNIGHT) +
      (RegOpen + rnd.nextInt(RegClose - RegOpen)) * MinuteNs
    RawBarEvent(null, 1000.0, 100.0, 100.0, 100.5, 99.5, 100.0, ws)
  }

  /** All bars of one day over `tickers`, plus the null-ticker row. */
  def day(seed: Long, tickers: Seq[String], date: LocalDate): Array[RawBarEvent] =
    tickers.flatMap(tickerDay(seed, _, date)).toArray :+ nullTickerBar(seed, date)

  def toRow(b: RawBarEvent): Row =
    Row(b.ticker, b.volume, b.open, b.close, b.high, b.low, b.adj_close, b.window_start)

  /** SHA-256 over the canonical text of `bars` (in the given order). */
  def digest(bars: Iterator[RawBarEvent]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bars.foreach(b => md.update(s"$b\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
