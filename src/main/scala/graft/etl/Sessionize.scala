package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** F1 — gaps-and-islands sessionization ("break_dataframe",
  * reference stockdata/indicators.py:178-194 + helper :41-66).
  *
  * Splits each ticker's time series wherever the consecutive-timestamp
  * gap is not in the allowed set (reference: {60,120,180} seconds,
  * indicators.py:184); drops islands with < 2 rows (indicators.py:58,63);
  * renumbers only the surviving islands consecutively from 0 (the
  * reference's `enumerate` over emitted islands, indicators.py:188) and
  * names them `"{ticker}-{island}"` (indicators.py:190).
  *
  * Scale: one hash exchange on `ticker` feeds every window; the
  * post-filter renumbering reuses the same partitioning (no second
  * shuffle). At 100 TB, partition keys are (ticker[, trading day]) so no
  * single window group is unbounded.
  */
object Sessionize {

  /** @param tsCol    epoch time column (any fixed unit, e.g. ns or us)
    * @param allowedGaps gaps (same unit as tsCol) that do NOT split
    */
  def apply(
      df: DataFrame,
      tickerCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): DataFrame =
    apply(df, Seq(tickerCol), tickerCol, tsCol, allowedGaps)

  /** Composite-key variant: series identity = `partCols` (e.g.
    * (ticker, ds) for multi-day runs); `nameCol` feeds the sub-ticker
    * label exactly like the per-day reference runs do. */
  def apply(
      df: DataFrame,
      partCols: Seq[String],
      nameCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): DataFrame = {
    val parts = partCols.map(col)
    val w = Window.partitionBy(parts: _*).orderBy(tsCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val staged = df
      .withColumn("_gap", col(tsCol) - lag(col(tsCol), 1).over(w))
      .withColumn("_brk",
        when(col("_gap").isNull, lit(0L))
          .when(col("_gap").isin(allowedGaps: _*), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("_isl_raw", sum("_brk").over(cum))
      .withColumn("_isl_n",
        count(lit(1)).over(Window.partitionBy(parts :+ col("_isl_raw"): _*)))
      .filter(col("_isl_n") >= 2)
      .withColumn("island",
        (dense_rank().over(Window.partitionBy(parts: _*).orderBy("_isl_raw")) - 1)
          .cast("long"))
      .withColumn("sub_ticker", concat(col(nameCol), lit("-"), col("island")))
    staged.drop("_gap", "_brk", "_isl_raw", "_isl_n")
  }

  /** Array form of [[apply]] for one series: `ts(0 until n)` sorted
    * ascending. Returns the surviving islands as `[start, end)` row
    * ranges, flattened `(s0, e0, s1, e1, …)`; island `k` is the pair at
    * `2k`, numbered densely in time order like [[apply]]. A gap not in
    * `allowedGaps` (a 0 gap between duplicated timestamps included)
    * starts a new island; islands of one row are dropped. */
  def islands(ts: Array[Long], n: Int, allowedGaps: Array[Long]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var s = 0
    var i = 1
    while (i <= n) {
      if (i == n || !allowedGaps.contains(ts(i) - ts(i - 1))) {
        if (i - s >= 2) { out += s; out += i }
        s = i
      }
      i += 1
    }
    out.result()
  }

  /** DuckDB CTE chain mirroring [[apply]]; exposes `sz_final` =
    * input columns + island + sub_ticker. */
  def sqlStages(
      from: String,
      tickerCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): String =
    sqlStages(from, Seq(tickerCol), tickerCol, tsCol, allowedGaps)

  /** Composite-key mirror of the multi-day [[apply]] overload:
    * series identity = `partCols`, sub-ticker label from `nameCol`. */
  def sqlStages(
      from: String,
      partCols: Seq[String],
      nameCol: String,
      tsCol: String,
      allowedGaps: Seq[Long]): String = {
    val gaps = allowedGaps.mkString(", ")
    val pk = partCols.mkString(", ")
    s"""sz_s1 AS (
       |  SELECT *, $tsCol - lag($tsCol, 1) OVER (PARTITION BY $pk ORDER BY $tsCol) AS _gap
       |  FROM $from),
       |sz_s2 AS (
       |  SELECT *, CASE WHEN _gap IS NULL THEN 0
       |    WHEN _gap IN ($gaps) THEN 0 ELSE 1 END AS _brk
       |  FROM sz_s1),
       |sz_s3 AS (
       |  SELECT *, sum(_brk) OVER (PARTITION BY $pk ORDER BY $tsCol
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _isl_raw
       |  FROM sz_s2),
       |sz_s4 AS (
       |  SELECT *, count(*) OVER (PARTITION BY $pk, _isl_raw) AS _isl_n
       |  FROM sz_s3),
       |sz_final AS (
       |  SELECT * EXCLUDE (_gap, _brk, _isl_raw, _isl_n),
       |    dense_rank() OVER (PARTITION BY $pk ORDER BY _isl_raw) - 1 AS island,
       |    $nameCol || '-' || CAST(dense_rank() OVER (PARTITION BY $pk ORDER BY _isl_raw) - 1 AS VARCHAR) AS sub_ticker
       |  FROM sz_s4 WHERE _isl_n >= 2)""".stripMargin
  }
}
