package graft

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.etl.{Densify, Interpolate, MarketCalendar, Sessionize}
import graft.ind.{FrameIndicators, IndicatorPipeline}
import graft.model.{IndicatorConfig, Schemas}

/** The per-series kernel behind `IndicatorPipeline.run`/`runRange`
  * against the window chain its operators compose (`Sessionize` →
  * `Densify` → `Interpolate` → `FrameIndicators.addAll` → `graft_ind_w`
  * → projection and `na.drop`), bit for bit, on one raw input that holds
  * the ETL's edge cases; plus the plan shape, session-time-zone
  * independence and call-time config checks of `runRange`.
  */
class KernelParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dates = Seq(LocalDate.of(2024, 3, 8), LocalDate.of(2024, 3, 11)) // EST, EDT
  private val minNs = 60L * 1000000000L
  private val odd = IndicatorConfig(rsiPeriod = 7, cmoPeriod = 7, adxPeriod = 10)

  private def at(d: LocalDate, h: Int, m: Int): Long =
    MarketCalendar.epochNanos(d, LocalTime.of(h, m))

  /** Raw bars over both dates: 120 s and 180 s gaps, breaks over 180 s,
    * a 1-row island, an all-NaN row, a duplicated bar, null volume and
    * price cells, an island without any volume, pre-market and
    * after-hours bars, the 15:59 ET bar of 2024-03-11 and a null-ticker
    * row. */
  private lazy val rawRows: Seq[Row] = {
    val rnd = new java.util.SplittableRandom(7L)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    def bars(t: String, d: LocalDate, minutes: Seq[Int], px0: Double): Seq[Row] = {
      val open = MarketCalendar.marketOpenCloseNanos(d)._1
      var px = px0
      minutes.map { m =>
        px = px * math.exp(0.002 * rnd.nextGaussian())
        val c = r4(px)
        val o = r4(px * (1 + 0.0005 * rnd.nextGaussian()))
        Row(t, math.rint(100 + 900 * rnd.nextDouble()), o, c,
          r4(math.max(o, c) * 1.0004), r4(math.min(o, c) * 0.9996), r4(c * 0.98),
          open + m * minNs)
      }
    }
    def edit(rows: Seq[Row], m: Int, d: LocalDate)(f: Row => Row): Seq[Row] = {
      val ws = MarketCalendar.marketOpenCloseNanos(d)._1 + m * minNs
      rows.map(r => if (r.getLong(7) == ws) f(r) else r)
    }
    def set(r: Row, i: Int, v: Any): Row = Row.fromSeq(r.toSeq.updated(i, v))
    val session = (0 until 420)
      .filterNot(Set(50, 80, 81))                    // a 120 s and a 180 s gap
      .filterNot(m => m >= 120 && m < 125)           // a 360 s break
      .filterNot(m => (m >= 196 && m < 200) || (m > 200 && m < 205)) // 1-row island at 200
    val Seq(d1, d2) = dates
    var a1 = bars("AAA", d1, session, 180.0)
    a1 = edit(a1, 300, d1)(r => Row("AAA", Double.NaN, Double.NaN, Double.NaN,
      Double.NaN, Double.NaN, Double.NaN, r.getLong(7)))
    a1 = edit(a1, 60, d1)(set(_, 1, null))            // null volume cell
    a1 = edit(a1, 70, d1)(set(_, 6, null))            // null adj_close cell
    val a2 = bars("AAA", d2, session, 181.0)
    val dup = a2.filter(_.getLong(7) == MarketCalendar.marketOpenCloseNanos(d2)._1 + 150 * minNs)
    val b2 = bars("BBB", d2, (0 until 389) ++ (390 until 420 by 2), 42.0)
    val c1 = bars("CCC", d1, 0 until 60, 12.0).map(set(_, 1, null)) // no volume at all
    val offHours = Seq(at(d1, 8, 0), at(d1, 9, 29), at(d2, 16, 30), at(d2, 16, 45),
      at(d2, 18, 0)).map(ws => Row("AAA", 500.0, 10.0, 10.0, 10.5, 9.5, 10.0, ws))
    val nullTicker = Row(null, 1000.0, 100.0, 100.0, 100.5, 99.5, 100.0, at(d2, 10, 0))
    a1 ++ a2 ++ dup ++ b2 ++ c1 ++ offHours :+ nullTicker
  }

  private def raw: DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rawRows: _*), Schemas.rawBars)

  // ---- the window chain the kernel replaces ----

  private def indW(df: DataFrame, keys: Seq[String], cfg: IndicatorConfig): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(cfg.timeColumn)
    df.withColumn("_x", expr(s"graft_ind_w(${cfg.closeColumn}, ${cfg.highColumn}, " +
        s"${cfg.lowColumn}, ${cfg.closeUnadjColumn}, ${cfg.rsiPeriod}, ${cfg.adxPeriod})").over(w))
      .withColumn("rsi", col("_x.rsi")).withColumn("cmo", col("_x.cmo"))
      .withColumn("macd_hist", col("_x.macd_hist")).withColumn("adx", col("_x.adx"))
      .withColumn("adx_hist", col("_x.adx_hist")).drop("_x")
  }

  private def chain(filtered: DataFrame, keys: Seq[String], extra: Seq[String],
      cfg: IndicatorConfig): DataFrame = {
    val ts = cfg.timeColumn
    val fill = Seq(cfg.volumeColumn, "open", cfg.closeUnadjColumn, cfg.highColumn,
      cfg.lowColumn, cfg.closeColumn)
    val sessioned = Sessionize(filtered, keys, "ticker", ts,
      cfg.allowedGapsSec.map(_ * 1000000000L))
    val densified = Densify(sessioned, keys ++ Seq("island", "sub_ticker"), ts,
      cfg.gridStepSec * 1000000000L)
    val filled = Interpolate(densified, keys :+ "island", ts, fill)
    val framed = FrameIndicators.addAll(filled, keys :+ "island", Seq(ts),
      price = cfg.closeColumn, cfg = cfg)
    val out = indW(framed, keys :+ "island", cfg).select(
      Seq(col(ts).as("window_start"), col(cfg.closeColumn).as("close_price")) ++
        Schemas.indicatorColumns.slice(2, 18).map(col) ++
        (col("sub_ticker").as("ticker") +: extra.map(col)): _*)
    if (cfg.skipNa) out.na.drop() else out
  }

  private def chainRun(raw: DataFrame, date: LocalDate, cfg: IndicatorConfig): DataFrame = {
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    val ts = cfg.timeColumn
    chain(raw.filter(col(ts).isNotNull).filter(col("ticker").isNotNull)
      .filter(col(ts) >= lit(mst) && col(ts) < lit(met))
      .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double")),
      Seq("ticker"), Nil, cfg)
  }

  private def chainRange(raw: DataFrame, dates: Seq[LocalDate], cfg: IndicatorConfig): DataFrame = {
    val ts = cfg.timeColumn
    val bounds = spark.createDataFrame(
      java.util.Arrays.asList(dates.map { d =>
        val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
        Row(d.toString, o, c)
      }: _*),
      StructType(Seq(StructField("ds", StringType), StructField("_mst", LongType),
        StructField("_met", LongType))))
    val filtered = raw.filter(col(ts).isNotNull && col("ticker").isNotNull)
      .withColumn("ds", date_format(from_utc_timestamp(
        timestamp_seconds(col(ts) / lit(1000000000d)), MarketCalendar.Eastern.getId),
        "yyyy-MM-dd"))
      .join(broadcast(bounds), Seq("ds"))
      .filter(col(ts) >= col("_mst") && col(ts) < col("_met"))
      .drop("_mst", "_met")
      .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double"))
    chain(filtered, Seq("ticker", "ds"), Seq("ds"), cfg)
  }

  // ---- comparison ----

  /** Rows sorted by (ticker, window_start, ds), doubles as raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).sortBy(r => (r(18).toString, r(0).asInstanceOf[Long], r.lift(19).map(_.toString)))

  private def assertSame(kernel: DataFrame, windows: DataFrame, what: String): Unit =
    assertSame(kernel, (windows.columns.toSeq, bits(windows)), what)

  private def assertSame(kernel: DataFrame, windows: (Seq[String], Seq[Seq[Any]]),
      what: String): Unit = {
    assert(kernel.columns.toSeq == windows._1, what)
    val (k, w) = (bits(kernel), windows._2)
    assert(w.nonEmpty, s"$what: no rows")
    assert(k.length == w.length, s"$what: ${k.length} kernel rows, ${w.length} window rows")
    k.zip(w).foreach { case (a, b) => assert(a == b, s"$what:\nkernel $a\nwindow $b") }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val nproc = Runtime.getRuntime.availableProcessors.toString

  /** The window chain's output per call, computed once. */
  private lazy val windowed: Map[String, (Seq[String], Seq[Seq[Any]])] =
    (for (cfg <- Seq(IndicatorConfig(), odd); call <- "range" +: dates.map(_.toString)) yield {
      val df = if (call == "range") chainRange(raw, dates, cfg)
        else chainRun(raw, LocalDate.parse(call), cfg)
      s"$call $cfg" -> (df.columns.toSeq, bits(df))
    }).toMap

  for (parts <- Seq("1", nproc, "200"); aqe <- Seq("true", "false")) {
    test(s"run and runRange ≡ the window chain, bit for bit " +
        s"(shuffle partitions $parts, AQE $aqe)") {
      val want = windowed
      withConf("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe) {
        for (cfg <- Seq(IndicatorConfig(), odd); call <- "range" +: dates.map(_.toString)) {
          val got = if (call == "range") IndicatorPipeline.runRange(raw, dates, cfg)
            else IndicatorPipeline.run(raw, LocalDate.parse(call), cfg)
          assertSame(got, want(s"$call $cfg"), s"$call $cfg")
        }
      }
    }
  }

  test("skipNa = false: warm-up, NaN and null rows ≡ the window chain, bit for bit") {
    val cfg = odd.copy(skipNa = false)
    assertSame(IndicatorPipeline.runRange(raw, dates, cfg), chainRange(raw, dates, cfg),
      "runRange skipNa=false")
  }

  test("runRange plan: one REPARTITION_BY_NUM exchange over defaultParallelism, no window") {
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val df = IndicatorPipeline.runRange(raw, dates)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val exchanges = collect(plan) { case e: Exchange => e }
      assert(exchanges.length == 1, s"AQE $aqe:\n$plan")
      exchanges.head match {
        case s: ShuffleExchangeExec =>
          assert(s.shuffleOrigin == REPARTITION_BY_NUM, s"AQE $aqe:\n$plan")
          assert(s.outputPartitioning.numPartitions == spark.sparkContext.defaultParallelism)
        case e => fail(s"AQE $aqe: unexpected exchange $e")
      }
      assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"AQE $aqe:\n$plan")
    }
  }

  test("runRange output does not depend on the session time zone") {
    val bell = at(dates(1), 15, 59)
    val utc = bits(IndicatorPipeline.runRange(raw, dates))
    assert(utc.exists(r => r(0) == bell && r(18).toString.startsWith("AAA-")),
      "the 15:59 ET bar of 2024-03-11 must be emitted")
    for (tz <- Seq("Asia/Tokyo", "Pacific/Auckland", "America/Los_Angeles"))
      withConf("spark.sql.session.timeZone" -> tz) {
        assert(bits(IndicatorPipeline.runRange(raw, dates)) == utc, tz)
      }
  }

  test("an input ds column is replaced by the bar's trading day") {
    val tagged = raw.withColumn("ds", lit("1999-01-01"))
    assert(bits(IndicatorPipeline.runRange(tagged, dates)) ==
      bits(IndicatorPipeline.runRange(raw, dates)))
  }

  test("split RSI/CMO periods fail when run or runRange is called, before any action") {
    val bad = IndicatorConfig(rsiPeriod = 14, cmoPeriod = 9)
    // an input that fails if any job ever evaluates it
    val poisoned = raw.withColumn("close",
      udf((x: Double) => { if (x > -1) sys.error("evaluated"); x }).apply(col("close")))
    val e1 = intercept[IllegalArgumentException](IndicatorPipeline.run(poisoned, dates.head, bad))
    val e2 = intercept[IllegalArgumentException](IndicatorPipeline.runRange(poisoned, dates, bad))
    Seq(e1, e2).foreach(e => assert(e.getMessage.contains("cmoPeriod (9)")))
  }
}
