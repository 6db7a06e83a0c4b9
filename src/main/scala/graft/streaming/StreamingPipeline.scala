package graft.streaming

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.MarketCalendar
import graft.ind.IndicatorPipeline
import graft.model.{IndicatorConfig, Schemas}

/** One raw bar as a streaming event (same fields as Schemas.rawBars). */
final case class RawBarEvent(
    ticker: String,
    volume: Double,
    open: Double,
    close: Double,
    high: Double,
    low: Double,
    adj_close: Double,
    window_start: Long)

/** A completed (ticker, trading-day) group of bars. */
final case class DayBars(ticker: String, ds: String, bars: Array[RawBarEvent])

/** Structured Streaming variant of the daily pipeline (SURVEY.md §7.5).
  *
  * The reference's "stream" is an Airflow daily cron; the streaming-
  * native equivalent is: file/socket source of raw bars → event-time
  * watermark → stateful assembly of complete (ticker, day) groups via
  * `flatMapGroupsWithState` (exact gap/island semantics need buffering —
  * `session_window` cannot express the 60/120/180 membership rule) →
  * per-micro-batch hand-off to the BATCH [[IndicatorPipeline]] inside
  * `foreachBatch`, so streaming output is bit-identical to batch with
  * zero logic duplication.
  *
  * Scale notes: state per key is one ticker-day (≤ ~420 bars, bounded);
  * watermark + EventTimeTimeout bound state lifetime; late rows beyond
  * the watermark are dropped exactly like the reference (it downloads
  * only completed days). Shuffle key (ticker, ds) matches the batch
  * pipeline's partitioning.
  */
object StreamingPipeline {

  /** Eastern-date string for an epoch-ns bar timestamp. */
  def dsOf(windowStartNs: Long): String =
    LocalDate.ofInstant(Instant.ofEpochSecond(windowStartNs / 1000000000L),
      MarketCalendar.Eastern).toString

  private def closeNsOf(ds: String): Long =
    MarketCalendar.marketOpenCloseNanos(LocalDate.parse(ds))._2

  /** One bar per `window_start` of `held ++ incoming`, the latest
    * delivery winning: a bar from a later micro-batch replaces the held
    * copy, and of the copies within one micro-batch the last one seen is
    * kept. */
  private def latestPerBar(held: List[RawBarEvent],
      incoming: Iterator[RawBarEvent]): List[RawBarEvent] = {
    val byTs = scala.collection.mutable.LinkedHashMap.empty[Long, RawBarEvent]
    (held.iterator ++ incoming).foreach(b => byTs(b.window_start) = b)
    byTs.values.toList
  }

  /** Assemble complete (ticker, day) bar groups. Emits each group once,
    * when the watermark passes the day's market close + `slackMinutes`.
    * A bar delivered again before the watermark passes its day is kept
    * once, as [[latestPerBar]] says.
    */
  def assembleDays(
      bars: Dataset[RawBarEvent],
      watermarkDelay: String = "30 minutes",
      slackMinutes: Long = 35): Dataset[DayBars] = {
    val spark = bars.sparkSession
    import spark.implicits._

    val withTime = bars
      .withColumn("_ts", timestamp_seconds(col("window_start") / 1000000000d))
      .withWatermark("_ts", watermarkDelay)
      .as[(String, Double, Double, Double, Double, Double, Double, Long, java.sql.Timestamp)]

    withTime
      .groupByKey { case (t, _, _, _, _, _, _, ws, _) => (t, dsOf(ws)) }
      .flatMapGroupsWithState[List[RawBarEvent], DayBars](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((ticker, ds), rows, state: GroupState[List[RawBarEvent]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil)
            state.remove()
            if (out.isEmpty) Iterator.empty
            else Iterator.single(DayBars(ticker, ds,
              out.sortBy(_.window_start).toArray))
          } else {
            val incoming = rows.map { case (t, v, o, c, h, l, ac, ws, _) =>
              RawBarEvent(t, v, o, c, h, l, ac, ws)
            }
            state.update(latestPerBar(state.getOption.getOrElse(Nil), incoming))
            // fire once the watermark passes market close + slack; clamp
            // to watermark+1 — an after-hours bar (not watermark-dropped)
            // can arrive after the watermark already passed its day's
            // close+slack, and setTimeoutTimestamp(ts <= watermark) throws
            val target = closeNsOf(ds) / 1000000L + slackMinutes * 60000L
            state.setTimeoutTimestamp(
              math.max(target, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Fixed 8-column raw-bar frame (Schemas.rawBars order) from assembled
    * days — distributed: never funnels bar data through the driver.
    */
  private def barsOf(days: Dataset[DayBars], ds: String): DataFrame = {
    val spark = days.sparkSession
    import spark.implicits._
    days.filter(col("ds") === ds)
      .flatMap(_.bars.toSeq)
      .toDF(Schemas.rawBars.fieldNames.toIndexedSeq: _*)
  }

  /** Full streaming query: assembled days → batch IndicatorPipeline per
    * day inside foreachBatch → `sink(ds, indicatorRows)`. Returns the
    * started query (memory/file sinks are the caller's choice via sink).
    */
  def run(
      bars: Dataset[RawBarEvent],
      cfg: IndicatorConfig = IndicatorConfig())(
      sink: (String, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = bars.sparkSession
    import spark.implicits._
    IndicatorPipeline.checkConfig(cfg)
    assembleDays(bars).writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[DayBars], _: Long) =>
        // Only completed-day STRINGS reach the driver (bounded metadata:
        // one per trading day in the micro-batch). Bar data stays
        // distributed — flatMap back to rows and run the batch pipeline
        // on the executors, instead of collect()+createDataFrame.
        val cached = batch.persist()
        try {
          val days = cached.select(col("ds")).distinct().as[String]
            .collect().sorted
          days.foreach { ds =>
            sink(ds, IndicatorPipeline.run(
              barsOf(cached, ds), LocalDate.parse(ds), cfg))
          }
        } finally { cached.unpersist(); () }
      }
      .start()
  }
}
