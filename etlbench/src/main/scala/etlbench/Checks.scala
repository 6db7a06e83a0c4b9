package etlbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col

import graft.etl.{Densify, Interpolate, MarketCalendar, Sessionize}
import graft.ind.{FrameIndicators, RecursiveIndicators}
import graft.model.{IndicatorConfig, Schemas}

/** Output checks of the benchmark: schema and row invariants of every
  * feature day, value digests for cross-path agreement, and the DuckDB
  * oracle case files that `oracle.py` evaluates. */
object Checks {

  private val valueCols = Schemas.indicatorColumns.filterNot(c => c == "ticker" || c == "window_start")
  private val SubTicker = "^[A-Z0-9]+-[0-9]+$".r

  /** Feature rows of one day in canonical form: 19 columns in schema
    * order, sorted by (ticker, window_start). */
  def canonical(df: DataFrame): Array[Row] =
    df.select(Schemas.indicatorColumns.map(col): _*).collect()
      .sortBy(r => (r.getString(18), r.getLong(0)))

  /** Problems with one day's feature rows (empty = the day is correct). */
  def validateDay(columns: Seq[String], rows: Array[Row], date: LocalDate): Seq[String] = {
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    val problems = Seq.newBuilder[String]
    if (columns != Schemas.indicatorColumns)
      problems += s"$date: columns ${columns.mkString(",")} != Schemas.indicatorColumns"
    if (rows.isEmpty) problems += s"$date: no feature rows"
    val bad = rows.iterator.filter { r =>
      val ws = r.getLong(0)
      r.anyNull || ws < mst || ws >= met ||
        SubTicker.findFirstIn(r.getString(18)).isEmpty ||
        (1 to 17).exists(i => r.getDouble(i).isNaN)
    }.size
    if (bad > 0) problems += s"$date: $bad rows null/NaN, off-hours or badly named"
    val keys = rows.map(r => (r.getString(18), r.getLong(0)))
    if (keys.distinct.length != keys.length) problems += s"$date: duplicate (ticker, window_start)"
    problems.result()
  }

  private def r6(d: Double): String =
    java.math.BigDecimal.valueOf(math.rint(d * 1e6) / 1e6 + 0.0).toPlainString

  /** Digest of canonical rows with values rounded to 6 dp. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val vals = (1 to 17).map(i => r6(r.getDouble(i)))
      md.update(s"${r.getString(18)}|${r.getLong(0)}|${vals.mkString("|")}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-ticker-day digests (base ticker, not sub-ticker), so paths that
    * cover different universes can be compared on what they share. */
  def tickerDigests(rows: Seq[Row]): Map[String, String] =
    rows.groupBy(r => r.getString(18).takeWhile(_ != '-'))
      .map { case (t, rs) => t -> digest(rs) }

  /** Two paths must produce the same ticker-days with the same digests. */
  def agree(what: String, a: Map[String, String], b: Map[String, String]): Seq[String] = {
    val differ = (a.keySet ++ b.keySet).filter(t => a.get(t) != b.get(t)).toSeq.sorted
    (if (a.isEmpty) Seq(s"$what: no ticker-days") else Nil) ++
      (if (differ.nonEmpty) Seq(s"$what: ticker-days differ: ${differ.take(5).mkString(",")}") else Nil)
  }

  /** DuckDB oracle for one trading day, built from the repo's own SQL
    * mirrors of each ETL stage over the table `raw` (rawBars layout).
    * Two statements: the first stores the interpolated grid as table
    * `ip`, so that the recursive indicator CTE of the second does not
    * re-evaluate the ETL stages on every recursion step. */
  def oracleSql(date: LocalDate, cfg: IndicatorConfig = IndicatorConfig()): (String, String) = {
    val (mst, met) = MarketCalendar.marketOpenCloseNanos(date)
    val ts = cfg.timeColumn
    val gapsNs = cfg.allowedGapsSec.map(_ * 1000000000L)
    val stepNs = cfg.gridStepSec * 1000000000L
    val fill = Seq(cfg.volumeColumn, "open", cfg.closeUnadjColumn, cfg.highColumn,
      cfg.lowColumn, cfg.closeColumn)
    val f = Set("window_start", "close_price", "rocp_1", "rocp_2", "rocp_3", "rocp_4",
      "rocp_5", "mfi", "ultosc", "aroonosc", "ppo", "sok", "sok_hist", "ticker")
    val select = Schemas.indicatorColumns.map {
      case "window_start" => s"f.$ts AS window_start"
      case "close_price" => s"f.${cfg.closeColumn} AS close_price"
      case "ticker" => "f.sub_ticker AS ticker"
      case c if f(c) => s"f.$c AS $c"
      case c => s"r.$c AS $c"
    }
    val keep = Schemas.indicatorColumns.map(c => s"$c IS NOT NULL") ++
      valueCols.map(c => s"NOT isnan($c)")
    val etl =
      s"""CREATE TABLE ip AS WITH src AS (
         |  SELECT ticker, CAST(volume AS DOUBLE) AS volume, open, close, high, low,
         |    adj_close, window_start
         |  FROM raw
         |  WHERE $ts IS NOT NULL AND ticker IS NOT NULL
         |    AND $ts >= $mst AND $ts < $met),
         |${Sessionize.sqlStages("src", "ticker", ts, gapsNs)},
         |${Densify.sqlStages("sz_final", Seq("ticker", "island", "sub_ticker"), ts, stepNs)},
         |${Interpolate.sqlStages("dz_final", Seq("ticker", "island"), ts, fill)}
         |SELECT * FROM ip_final""".stripMargin
    val ind =
      s"""WITH RECURSIVE
         |${FrameIndicators.sqlStages("ip", "ticker, island", ts, price = cfg.closeColumn, cfg = cfg)},
         |${RecursiveIndicators.sqlStages("ip", Seq("ticker", "island"), Seq(ts),
              price = cfg.closeColumn, high = cfg.highColumn, low = cfg.lowColumn,
              close = cfg.closeUnadjColumn, cfg = cfg)},
         |joined AS (
         |  SELECT ${select.mkString(", ")}
         |  FROM fi_final f JOIN ri_final r
         |    ON f.ticker = r.ticker AND f.island = r.island AND f.$ts = r.$ts)
         |SELECT * FROM joined WHERE ${keep.mkString(" AND ")}""".stripMargin
    (etl, ind)
  }

  /** Writes one oracle case: the raw bars a path consumed, the feature
    * rows it produced for them, and the oracle SQL for that day. */
  def writeOracleCase(dir: java.nio.file.Path, name: String, date: LocalDate,
      raw: DataFrame, out: DataFrame): (String, String) = {
    val d = dir.resolve(name)
    raw.select(Schemas.rawBars.fieldNames.toIndexedSeq.map(col): _*).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(d.resolve("raw").toString)
    out.select(Schemas.indicatorColumns.map(col): _*).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(d.resolve("out").toString)
    val (etl, ind) = oracleSql(date)
    java.nio.file.Files.write(d.resolve("oracle_etl.sql"), etl.getBytes("UTF-8"))
    java.nio.file.Files.write(d.resolve("oracle.sql"), ind.getBytes("UTF-8"))
    name -> d.toString
  }
}
