package etlbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.MarketCalendar

class BarGenSpec extends AnyFunSuite {

  private val tickers = BarGen.universe(505).take(60) ++ Seq("SPY", "VOO")
  private val dates = Seq(LocalDate.of(2024, 3, 8), LocalDate.of(2024, 3, 11))

  private def digestOf(seed: Long): String =
    BarGen.digest(dates.iterator.flatMap(d => BarGen.day(seed, tickers, d)))

  test("the same seed gives the same digest, another seed another digest") {
    assert(digestOf(7L) == digestOf(7L))
    assert(digestOf(7L) != digestOf(8L))
  }

  test("a ticker-day depends on (seed, ticker, date) alone") {
    val d = dates.head
    assert(BarGen.tickerDay(7L, "SPY", d).toSeq ==
      BarGen.day(7L, Seq("T001", "SPY"), d).filter(_.ticker == "SPY").toSeq)
  }

  test("the planted edge cases are present") {
    val seed = 7L
    val bars = dates.flatMap(d => BarGen.day(seed, tickers, d).map(d -> _))
    val minuteNs = 60L * 1000000000L
    val regular = bars.filter { case (d, b) =>
      val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
      b.window_start >= o && b.window_start < c - 30 * minuteNs
    }
    val gaps = regular.filter(_._2.ticker != null).groupBy(x => (x._1, x._2.ticker)).values
      .flatMap(bs => bs.map(_._2.window_start).sorted.sliding(2).collect {
        case Seq(a, b) => (b - a) / minuteNs })
      .toSet
    assert(Seq(2L, 3L).forall(gaps.contains), "120 s and 180 s gaps")
    assert(gaps.exists(_ > 3L), "breaks longer than 180 s")
    assert(bars.exists(_._2.close.isNaN), "NaN rows")
    assert(dates.forall(d => bars.count(x => x._1 == d && x._2.ticker == null) == 1),
      "one null-ticker row per day")
    val offHours = bars.count { case (d, b) =>
      val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
      b.ticker != null && (b.window_start < o || b.window_start >= c)
    }
    assert(offHours > 0, "pre-market and after-hours bars")
    assert(tickers.exists(BarGen.illiquid(seed, _)) && !BarGen.illiquid(seed, "SPY"),
      "liquid and illiquid profiles")
    // DST: 09:30 ET is 14:30 UTC before the switch, 13:30 UTC after it
    val open = dates.map(d => MarketCalendar.marketOpenCloseNanos(d)._1 / 1000000000L % 86400L)
    assert(open == Seq(14L * 3600 + 1800, 13L * 3600 + 1800))
  }
}
