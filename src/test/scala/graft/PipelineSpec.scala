package graft

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.etl.{MarketCalendar, Validate}
import graft.ind.IndicatorPipeline
import graft.io.BarsIO
import graft.model.Schemas

/** E2-faithful pipeline over raw ns-domain bars (SURVEY.md §5.4):
  * market-hours boundaries, island trim, warm-up dropna, output schema;
  * plus partitioned sink roundtrip and P10 validations.
  */
class PipelineSpec extends SparkSpec {

  private val date = LocalDate.of(2024, 3, 5) // EST (pre-DST): open = 14:30 UTC
  private val (openNs, closeNs) = MarketCalendar.marketOpenCloseNanos(date)
  private val minNs = 60L * 1000000000L

  /** 40 consecutive market minutes + pre/at-close/post rows + a 2-row
    * tail island after a 5-minute break. */
  private def rawRows(): Seq[Row] = {
    val inMarket = (0 until 40).map(i => bar("AAPL", openNs + i * minNs, 100.0 + i))
    val tail = Seq(bar("AAPL", openNs + 46 * minNs, 90.0),
      bar("AAPL", openNs + 47 * minNs, 91.0))
    val excluded = Seq(
      bar("AAPL", openNs - 5 * minNs, 1.0),   // pre-market
      bar("AAPL", closeNs, 2.0),              // at close bound (exclusive)
      bar("AAPL", closeNs + minNs, 3.0),      // post-market
      bar(null, openNs + minNs, 4.0))         // null ticker (P5)
    inMarket ++ tail ++ excluded
  }

  private def rawDay() = spark.createDataFrame(
    java.util.Arrays.asList(rawRows(): _*), Schemas.rawBars)

  private def bar(t: String, ws: Long, px: Double): Row =
    Row(t, 1000.0, px, px, px + 0.5, px - 0.5, px, ws)

  test("market-hours filter: [09:30, 16:30) ET, close bound exclusive") {
    val out = IndicatorPipeline.run(rawDay(), date)
    val ws = out.collect().map(_.getLong(0))
    assert(ws.forall(w => w >= openNs && w < closeNs))
  }

  test("full run: 18-col schema, warm-up trimmed, sub-ticker naming") {
    val out = IndicatorPipeline.run(rawDay(), date)
    assert(out.columns.toSeq == Schemas.indicatorColumns)
    val rows = out.collect()
    // island 0 = 40 rows; macd_hist (longest lookback 33) leaves 40-33 = 7.
    // tail island (2 rows) is all-warm-up → fully dropped by P4.
    assert(rows.length == 7)
    assert(rows.forall(_.getString(18) == "AAPL-0"))
    val first = rows.map(_.getLong(0)).min
    assert(first == openNs + 33 * minNs)
    // monotone close ⇒ rsi pinned at 1.0 (scaled)
    assert(rows.forall(_.getDouble(7) == 1.0))
  }

  test("renamed source columns via IndicatorConfig produce identical output") {
    // Regression: FrameIndicators hardcoded close/high/low/volume, so a
    // config with renamed columns was silently ignored.
    val renamed = rawDay()
      .withColumnRenamed("volume", "vol_x")
      .withColumnRenamed("close", "px_close")
      .withColumnRenamed("high", "px_high")
      .withColumnRenamed("low", "px_low")
      .withColumnRenamed("adj_close", "px_adj")
    val cfg = graft.model.IndicatorConfig(
      closeColumn = "px_adj", closeUnadjColumn = "px_close",
      highColumn = "px_high", lowColumn = "px_low", volumeColumn = "vol_x")
    val got = IndicatorPipeline.run(renamed, date, cfg)
      .collect().map(_.toString).sorted
    val want = IndicatorPipeline.run(rawDay(), date)
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("skipNa=false keeps warm-up rows and the short island") {
    val out = IndicatorPipeline.run(rawDay(), date,
      graft.model.IndicatorConfig(skipNa = false))
    // 40 + 2 observed (no grid gaps inside islands)
    assert(out.count() == 42)
    assert(out.filter(out("ticker") === "AAPL-1").count() == 2)
  }

  test("partitioned sink roundtrip prunes to one day partition") {
    val dir = java.nio.file.Files.createTempDirectory("barsio").toString
    BarsIO.writePartitioned(rawDay(), dir, "1m", "2024-03-05")
    BarsIO.writePartitioned(rawDay().withColumn("volume",
      org.apache.spark.sql.functions.lit(9.0)), dir, "1m", "2024-03-06")
    val back = BarsIO.readDay(spark, dir, "1m", "2024-03-05")
    assert(back.columns.sorted.toSeq == Schemas.rawBars.fieldNames.sorted.toSeq)
    assert(back.count() == rawDay().count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "day filter must prune partitions")
  }

  test("runRange over N days == union of per-day runs") {
    val day2 = date.plusDays(1)
    val open2 = MarketCalendar.marketOpenCloseNanos(day2)._1
    val d2Rows = (0 until 38).map(i => bar("MSFT", open2 + i * minNs, 50.0 + i * 0.5))
    val both = spark.createDataFrame(
      java.util.Arrays.asList((rawRows() ++ d2Rows): _*), Schemas.rawBars)
    val ranged = IndicatorPipeline.runRange(both, Seq(date, day2))
      .drop("ds").collect().map(_.toString).sorted
    val d1 = spark.createDataFrame(
      java.util.Arrays.asList(rawRows(): _*), Schemas.rawBars)
    val d2 = spark.createDataFrame(
      java.util.Arrays.asList(d2Rows: _*), Schemas.rawBars)
    val perDay = (IndicatorPipeline.run(d1, date).collect() ++
      IndicatorPipeline.run(d2, day2).collect()).map(_.toString).sorted
    assert(ranged.toSeq == perDay.toSeq)
    assert(ranged.nonEmpty)
  }

  test("fused window kernel ≡ scan at non-default periods (wilder=7, adx=10)") {
    // The graft_ind_w kernel threads BOTH its periods; this pins the
    // non-default config path runRange used to hard-reject: every one
    // of the five outputs must match the reference-faithful scan
    // bit-for-bit at (rsiPeriod=cmoPeriod=7, adxPeriod=10).
    val cfg = graft.model.IndicatorConfig(
      rsiPeriod = 7, cmoPeriod = 7, adxPeriod = 10)
    val n = 80
    val close = Array.tabulate(n)(i => 100.0 + math.sin(i * 0.7) * 3 + (i % 5))
    val high = close.map(_ + 1.5)
    val low = close.map(_ - 1.2)
    val want = graft.ind.RecursiveIndicators.scan(close, high, low, close, cfg)
    graft.functions.GraftFunctions.register(spark)
    val rows = (0 until n).map(i =>
      Row(i.toLong, close(i), high(i), low(i)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("i", LongType),
        StructField("c", DoubleType), StructField("h", DoubleType),
        StructField("l", DoubleType))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.lit(1)).orderBy("i")
    val got = df
      .withColumn("_x", org.apache.spark.sql.functions
        .expr("graft_ind_w(c, h, l, c, 7, 10)").over(w))
      .selectExpr("i", "_x.rsi", "_x.cmo", "_x.macd_hist", "_x.adx", "_x.adx_hist")
      .collect().sortBy(_.getLong(0))
    assert(got.length == n)
    got.foreach { r =>
      val i = r.getLong(0).toInt
      (0 until 5).foreach { j =>
        val exp = want(i)(j)
        val act = if (r.isNullAt(j + 1)) null else r.getDouble(j + 1)
        // all five outputs, macd_hist included, are bit-identical: the
        // scan seeds the fast EMA with (Σ₂₆ − Σ₁₄)/12 like the window
        assert((exp == null && act == null) ||
          (exp != null && act != null &&
            java.lang.Double.doubleToRawLongBits(exp.asInstanceOf[Double]) ==
              java.lang.Double.doubleToRawLongBits(act.asInstanceOf[Double])),
          s"row $i col $j: scan=$exp window=$act")
      }
    }
  }

  test("bucketed tables join without any exchange") {
    import org.apache.spark.sql.functions.lit
    val a = rawDay().filter(org.apache.spark.sql.functions.col("ticker").isNotNull)
    val b = a.withColumn("volume", lit(7.0))
    BarsIO.writeBucketed(a, "bars_a", "ticker", 8)
    BarsIO.writeBucketed(b, "bars_b", "ticker", 8)
    val ta = spark.table("bars_a").select("ticker", "window_start", "close")
    val tb = spark.table("bars_b").select("ticker", "volume").distinct()
    val joined = ta.hint("merge").join(tb, Seq("ticker"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(joined.count() > 0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(2000)}")
  }

  test("P10 validations: 19-digit check real, 60s increments post-densify") {
    val bad = Validate.badTimestampDigits(
      rawDay().withColumn("window_start",
        org.apache.spark.sql.functions.lit(123L)), "window_start")
    assert(bad.count() == rawDay().count())
    assert(Validate.report(rawDay(), "window_start") == 0)
    val out = IndicatorPipeline.run(rawDay(), date,
      graft.model.IndicatorConfig(skipNa = false))
    // per sub-ticker the grid must be exactly 60s-stepped
    val incr = Validate.badIncrements(out, Seq("ticker"), "window_start",
      60L * 1000000000L)
    assert(incr.count() == 0)
  }
}
