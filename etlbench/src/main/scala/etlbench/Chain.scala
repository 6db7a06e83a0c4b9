package etlbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.etl.{Densify, Interpolate, MarketCalendar, Sessionize}
import graft.ind.FrameIndicators
import graft.model.IndicatorConfig

/** The indicator pipeline taken apart at its public calls, for the traced
  * run. [[day]] follows `IndicatorPipeline.run` and [[range]] follows
  * `IndicatorPipeline.runRange` stage by stage; the traced run checks
  * that the chained output has the same digest as the real call, so a
  * change to either pipeline that this chain no longer mirrors shows as
  * a failed op rather than as silently wrong self times. */
object Chain {

  type Stage = (String, DataFrame => DataFrame)

  private val cfg = IndicatorConfig()
  private val ts = cfg.timeColumn
  private val gapsNs = cfg.allowedGapsSec.map(_ * 1000000000L)
  private val stepNs = cfg.gridStepSec * 1000000000L
  private val fill = Seq(cfg.volumeColumn, "open", cfg.closeUnadjColumn, cfg.highColumn,
    cfg.lowColumn, cfg.closeColumn)

  private def indW(keys: Seq[String])(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ts)
    df.withColumn("_x", expr(s"graft_ind_w(${cfg.closeColumn}, ${cfg.highColumn}, " +
        s"${cfg.lowColumn}, ${cfg.closeUnadjColumn}, ${cfg.rsiPeriod}, ${cfg.adxPeriod})").over(w))
      .withColumn("rsi", col("_x.rsi")).withColumn("cmo", col("_x.cmo"))
      .withColumn("macd_hist", col("_x.macd_hist")).withColumn("adx", col("_x.adx"))
      .withColumn("adx_hist", col("_x.adx_hist")).drop("_x")
  }

  private def emit(extra: Seq[String])(df: DataFrame): DataFrame =
    df.select(Seq(col(ts).as("window_start"), col(cfg.closeColumn).as("close_price")) ++
      Seq("rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5", "rsi", "mfi", "ultosc", "cmo",
        "aroonosc", "macd_hist", "ppo", "sok", "sok_hist", "adx", "adx_hist").map(col) ++
      (col("sub_ticker").as("ticker") +: extra.map(col)): _*).na.drop()

  /** Stages of `IndicatorPipeline.run` for one trading date. */
  def day(date: LocalDate): Seq[Stage] = {
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    Seq(
      "etl.calendar" -> (raw => raw
        .filter(col(ts).isNotNull).filter(col("ticker").isNotNull)
        .filter(col(ts) >= lit(mst) && col(ts) < lit(met))
        .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double"))),
      "etl.sessionize" -> (df => Sessionize(df, "ticker", ts, gapsNs)),
      "etl.densify" -> (df => Densify(df, Seq("ticker", "island", "sub_ticker"), ts, stepNs)),
      "etl.interpolate" -> (df => Interpolate(df, Seq("ticker", "island"), ts, fill)),
      "ind.frame" -> (df => FrameIndicators.addAll(df, Seq("ticker", "island"), Seq(ts),
        price = cfg.closeColumn, cfg = cfg)),
      "functions.ind_w" -> indW(Seq("ticker", "island")),
      "ind.emit" -> emit(Nil))
  }

  /** Stages of `IndicatorPipeline.runRange` over `dates`. */
  def range(dates: Seq[LocalDate]): Seq[Stage] = {
    val keys = Seq("ticker", "ds")
    Seq(
      "etl.calendar" -> { raw =>
        val bounds = raw.sparkSession.createDataFrame(
          java.util.Arrays.asList(dates.map { d =>
            val (o, c) = MarketCalendar.marketOpenCloseNanos(d)
            Row(d.toString, o, c)
          }: _*),
          StructType(Seq(StructField("ds", StringType), StructField("_mst", LongType),
            StructField("_met", LongType))))
        raw.filter(col(ts).isNotNull && col("ticker").isNotNull)
          .withColumn("ds", date_format(from_utc_timestamp(
            timestamp_seconds(col(ts) / lit(1000000000d)),
            MarketCalendar.Eastern.getId), "yyyy-MM-dd"))
          .join(broadcast(bounds), Seq("ds"))
          .filter(col(ts) >= col("_mst") && col(ts) < col("_met"))
          .drop("_mst", "_met")
          .withColumn(cfg.volumeColumn, col(cfg.volumeColumn).cast("double"))
      },
      "etl.sessionize" -> (df => Sessionize(df, keys, "ticker", ts, gapsNs)),
      "etl.densify" -> (df => Densify(df, keys ++ Seq("island", "sub_ticker"), ts, stepNs)),
      "etl.interpolate" -> (df => Interpolate(df, keys :+ "island", ts, fill)),
      "ind.frame" -> (df => FrameIndicators.addAll(df, keys :+ "island", Seq(ts),
        price = cfg.closeColumn, cfg = cfg)),
      "functions.ind_w" -> indW(keys :+ "island"),
      "ind.emit" -> emit(Seq("ds")))
  }

  /** Runs `stages` over `input` one at a time, each inside its own span:
    * the stage output is persisted and counted, so the span holds that
    * stage's work alone. Returns the persisted output and the row count
    * after each stage (`io.read` = the input). Islands are counted in a
    * `trace.count` span, outside the stage spans. */
  def materialize(tracer: Tracer, op: String, input: DataFrame, stages: Seq[Stage],
      islandKeys: Seq[String]): (DataFrame, Map[String, Long]) = {
    var cur = input.persist(StorageLevel.MEMORY_AND_DISK)
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    counts("io.read") = tracer("io.read", op)(cur.count())
    stages.foreach { case (name, f) =>
      val next = f(cur).persist(StorageLevel.MEMORY_AND_DISK)
      counts(name) = tracer(name, op)(next.count())
      if (name == "etl.sessionize")
        counts("etl.islands") = tracer("trace.count", op)(
          next.select(islandKeys.map(col): _*).distinct().count())
      cur.unpersist()
      cur = next
    }
    (cur, counts.toMap)
  }
}
