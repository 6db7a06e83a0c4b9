package graft.ind

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.etl.{Densify, Interpolate, MarketCalendar, Sessionize}
import graft.model.{Doubles, IndicatorConfig, Schemas}

/** The reference's E2 pipeline (its per-ticker loop,
  * data_indicators.py:48-62) as one exchange, one sort and one pass:
  *
  *   raw bars → null and market-hours filters, each bar tagged with its
  *   trading day `ds` → `repartition(defaultParallelism, ticker, ds)` →
  *   `sortWithinPartitions(ticker, ds, window_start)` → one
  *   `mapPartitions` step.
  *
  * That step walks each contiguous (ticker, ds) run of bars, one run at
  * a time, through plain array loops: sessionize ([[Sessionize.islands]])
  * → 60 s grid densify ([[Densify.grid]]) → positional interpolation
  * ([[Interpolate.fill]]) → frame indicators ([[FrameIndicators.series]])
  * → the Wilder/EMA/ADX family ([[RecursiveIndicators.scan]]) → the
  * 18-column projection and the warm-up `na.drop`. This is SURVEY §2's
  * `Array[Bar] => Array[IndicatorRow]` design, one O(n) pass per key
  * (a ticker-day is ≤ ~420 bars, SURVEY §7.4).
  *
  * Each array function evaluates exactly what its DataFrame operator
  * (`Sessionize.apply`, …, `FrameIndicators.addAll`, `graft_ind_w`)
  * evaluates, in the same order and with Spark's null and NaN
  * semantics, so the output is bit-identical to the window chain those
  * operators compose. Their `sqlStages` remain the DuckDB oracle.
  *
  * The repartition has an explicit partition count, so adaptive
  * execution cannot coalesce it to one task: every core gets tickers.
  */
object IndicatorPipeline {

  /** The pipeline for one trading date over raw bars (schema
    * [[Schemas.rawBars]], `window_start` in epoch ns): [[runRange]] over
    * that date, without its `ds` column. */
  def run(raw: DataFrame, date: LocalDate,
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame =
    runRange(raw, Seq(date), cfg).drop("ds")

  /** The pipeline over several trading days in one job: the
    * [[Schemas.indicatorColumns]] plus `ds`, the bar's trading day
    * (`yyyy-MM-dd`, for a date-partitioned sink). A bar belongs to the
    * day whose [09:30, 16:30) ET bounds hold its `window_start`; bars
    * outside every requested day are dropped. This does not depend on
    * the session time zone, and a `ds` column the input carries is
    * replaced. Replaces the reference's one-process-per-day Airflow
    * fan-out (airflow_dag.py:26).
    */
  def runRange(raw: DataFrame, dates: Seq[LocalDate],
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {
    checkConfig(cfg)
    val spark = raw.sparkSession
    val ts = cfg.timeColumn
    val days = dates.distinct.sorted.toArray
    val opens = days.map(d => MarketCalendar.marketOpenCloseNanos(d)._1)
    val closes = days.map(d => MarketCalendar.marketOpenCloseNanos(d)._2)
    val names = days.map(_.toString)
    val dayOf = udf { (t: Long) =>
      val k = java.util.Arrays.binarySearch(opens, t)
      val j = if (k >= 0) k else -k - 2
      if (j >= 0 && t < closes(j)) names(j) else null
    }.withName("market_day")

    val bars = raw
      .filter(col(ts).isNotNull && col("ticker").isNotNull)                // P5
      // the outer bounds as literals, for the scan to prune with
      .filter(col(ts) >= lit(opens.headOption.getOrElse(0L)) &&
        col(ts) < lit(closes.lastOption.getOrElse(0L)))
      .select(col("ticker").cast(StringType).as("ticker"), dayOf(col(ts)).as("ds"),
        col(ts).cast(LongType).as(ts),
        col(cfg.volumeColumn).cast(DoubleType).as("v"),                  // P6
        col(cfg.closeUnadjColumn).cast(DoubleType).as("c"),
        col(cfg.highColumn).cast(DoubleType).as("h"),
        col(cfg.lowColumn).cast(DoubleType).as("l"),
        col(cfg.closeColumn).cast(DoubleType).as("p"))
      .filter(col("ds").isNotNull)                                           // P2
      .repartition(spark.sparkContext.defaultParallelism, col("ticker"), col("ds"))
      .sortWithinPartitions("ticker", "ds", ts)

    bars.mapPartitions(rows => new SeriesIterator(rows, cfg))(Encoders.row(outSchema))
  }

  /** The config errors the pipeline would otherwise report only when an
    * action runs. */
  private[graft] def checkConfig(cfg: IndicatorConfig): Unit = {
    require(cfg.rsiPeriod == cfg.cmoPeriod,
      s"RSI and CMO share one Wilder state: rsiPeriod (${cfg.rsiPeriod}) must equal " +
        s"cmoPeriod (${cfg.cmoPeriod})")
    require(cfg.numPrevRocp >= 6,
      s"the output has rocp_1..rocp_5: numPrevRocp (${cfg.numPrevRocp}) must be at least 6")
  }

  private val outSchema = StructType(Schemas.indicatorColumns.map {
    case "window_start" => StructField("window_start", LongType, nullable = false)
    case "ticker" => StructField("ticker", StringType, nullable = false)
    case c => StructField(c, DoubleType)
  } :+ StructField("ds", StringType, nullable = false))

  /** Input columns after the projection in [[runRange]]. */
  private val Ticker = 0
  private val Ds = 1
  private val Ts = 2
  private val FirstValue = 3 // v, c, h, l, p
  private val Values = 5

  /** Output rows of the sorted bars of one partition, one (ticker, ds)
    * run at a time: only the current run is buffered. */
  private final class SeriesIterator(in: Iterator[Row], cfg: IndicatorConfig)
      extends Iterator[Row] {
    private val gaps = cfg.allowedGapsSec.map(_ * 1000000000L).toArray
    private val step = cfg.gridStepSec * 1000000000L
    private var ts = new Array[Long](512)
    private val vals = Array.fill(Values)(new Doubles(new Array[Double](512),
      new Array[Boolean](512)))
    private var head: Row = if (in.hasNext) in.next() else null
    private var out: ArrayBuffer[Row] = ArrayBuffer.empty
    private var pos = 0

    def hasNext: Boolean = {
      while (pos >= out.length && head != null) { out = nextRun(); pos = 0 }
      pos < out.length
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      pos += 1
      out(pos - 1)
    }

    private def nextRun(): ArrayBuffer[Row] = {
      val ticker = head.getString(Ticker)
      val ds = head.getString(Ds)
      var n = 0
      while (head != null && head.getString(Ticker) == ticker && head.getString(Ds) == ds) {
        if (n == ts.length) grow()
        ts(n) = head.getLong(Ts)
        var k = 0
        while (k < Values) {
          if (head.isNullAt(FirstValue + k)) vals(k).isNull(n) = true
          else vals(k).set(n, head.getDouble(FirstValue + k))
          k += 1
        }
        n += 1
        head = if (in.hasNext) in.next() else null
      }
      emit(ticker, ds, n)
    }

    private def grow(): Unit = {
      val m = ts.length * 2
      ts = java.util.Arrays.copyOf(ts, m)
      (0 until Values).foreach { k =>
        vals(k) = new Doubles(java.util.Arrays.copyOf(vals(k).v, m),
          java.util.Arrays.copyOf(vals(k).isNull, m))
      }
    }

    /** One (ticker, ds) run of `n` sorted bars → its output rows. */
    private def emit(ticker: String, ds: String, n: Int): ArrayBuffer[Row] = {
      val rows = ArrayBuffer.empty[Row]
      val isl = Sessionize.islands(ts, n, gaps)
      var k = 0
      while (k < isl.length / 2) {
        val (grid, src) = Densify.grid(ts, isl(2 * k), isl(2 * k + 1), step)
        val m = grid.length
        val Array(v, c, h, l, p) = vals.map { col =>
          val x = Doubles.nulls(m)
          var i = 0
          while (i < m) {
            if (src(i) >= 0 && !col.isNull(src(i))) x.set(i, col.v(src(i)))
            i += 1
          }
          Interpolate.fill(x)
          x
        }
        val frame = FrameIndicators.series(p, c, h, l, v, cfg)
        // A price column without any value in the island reaches the scan
        // as NaN, where the window chain gave nulls and zeros. Both rows
        // fail the na.drop: close_price or mfi is null there.
        def nanForNull(x: Doubles) =
          Array.tabulate(m)(i => if (x.isNull(i)) Double.NaN else x.v(i))
        val rec = RecursiveIndicators.scan(nanForNull(p), nanForNull(h), nanForNull(l),
          nanForNull(c), cfg)
        val sub = s"$ticker-$k"
        val cells: Seq[Int => Any] = Schemas.indicatorColumns.map {
          case "window_start" => (i: Int) => grid(i)
          case "close_price" => (i: Int) => p.boxed(i)
          case "ticker" => (_: Int) => sub
          case name if frame.contains(name) =>
            val f = frame(name)
            (i: Int) => f.boxed(i)
          case name =>
            val j = RecursiveIndicators.outputColumns.indexOf(name)
            (i: Int) => rec(i)(j)
        } :+ ((_: Int) => ds)
        var i = 0
        while (i < m) {
          val row = cells.map(_(i))
          val na = row.exists {
            case d: Double => d.isNaN
            case x => x == null
          }
          if (!(cfg.skipNa && na)) rows += Row.fromSeq(row)                // P4
          i += 1
        }
        k += 1
      }
      rows
    }
  }
}
