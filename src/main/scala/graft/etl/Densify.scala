package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** F2 — time-grid densification ("add_missing_timestamps",
  * reference stockdata/indicators.py:196-211, helper :69-94).
  *
  * Per (ticker, island), generates every grid timestamp between the
  * island's min and max at a fixed step and left-joins the observed rows
  * onto it; generated rows carry null OHLCV (interpolated by F3).
  * Because F1 guarantees internal gaps ∈ {1,2,3} steps, each gap inserts
  * at most 2 rows.
  *
  * Scale: the grid is built from a per-island min/max aggregate — both
  * sides of the join are hash-partitioned on the same (ticker, island)
  * key, so AQE plans a co-partitioned join with no extra exchange on the
  * fact side beyond the one F1 already created. Grid cardinality is
  * ≤ 3× the observed rows, never materialized on the driver.
  */
object Densify {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      stepUnits: Long): DataFrame = {
    // Single-pass formulation: each row carries the filler timestamps of
    // the gap PRECEDING it (lag window), packed as structs next to the
    // row itself and exploded once. Equivalent to the min→max grid LEFT
    // JOIN (both island endpoints are observed rows), but the plan is
    // one Window + one Generate over ONE upstream subtree — the join
    // form materializes the entire upstream twice (grid side + fact
    // side), which at 100 TB doubles the most expensive stages.
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tsCol)
    val dataCols = df.columns.filterNot(c => keyCols.contains(c) || c == tsCol)
    val selfStruct = struct(
      col(tsCol).as("_ts") +: dataCols.map(c => col(c).as(c)): _*)
    val prev = lag(col(tsCol), 1).over(w)
    val fillTs = when(prev.isNotNull && (col(tsCol) - prev) > stepUnits,
      sequence(prev + stepUnits, col(tsCol) - stepUnits, lit(stepUnits)))
      .otherwise(array().cast(s"array<${df.schema(tsCol).dataType.sql}>"))
    val fillStructs = transform(fillTs, t => struct(
      t.as("_ts") +: dataCols.map(c =>
        lit(null).cast(df.schema(c).dataType).as(c)): _*))
    df.withColumn("_all", concat(fillStructs, array(selfStruct)))
      .select(keyCols.map(col) :+ explode(col("_all")).as("_r"): _*)
      .select(keyCols.map(col) ++
        (col("_r._ts").as(tsCol) +: dataCols.map(c => col(s"_r.$c"))): _*)
  }

  /** Array form of [[apply]] for one island, rows `[from, until)` of
    * the ascending `ts`: the grid timestamps and, per grid row, the
    * source row it came from (-1 for a fill row, whose data is null).
    * Each gap wider than `stepUnits` gets the fill rows
    * `prev + step, …, ts - step`. */
  def grid(ts: Array[Long], from: Int, until: Int,
      stepUnits: Long): (Array[Long], Array[Int]) = {
    val gts = Array.newBuilder[Long]
    val src = Array.newBuilder[Int]
    var i = from
    while (i < until) {
      if (i > from) {
        var t = ts(i - 1) + stepUnits
        while (t <= ts(i) - stepUnits) { gts += t; src += -1; t += stepUnits }
      }
      gts += ts(i); src += i
      i += 1
    }
    (gts.result(), src.result())
  }

  /** DuckDB CTE chain mirroring [[apply]]; exposes `dz_final`. */
  def sqlStages(
      from: String,
      keyCols: Seq[String],
      tsCol: String,
      stepUnits: Long): String = {
    val keys = keyCols.mkString(", ")
    s"""dz_bounds AS (
       |  SELECT $keys, min($tsCol) AS _mn, max($tsCol) AS _mx
       |  FROM $from GROUP BY $keys),
       |dz_grid AS (
       |  SELECT $keys, unnest(generate_series(_mn, _mx, $stepUnits)) AS $tsCol
       |  FROM dz_bounds),
       |dz_final AS (
       |  SELECT g.*, ${"f.* EXCLUDE (" + keys + ", " + tsCol + ")"}
       |  FROM dz_grid g LEFT JOIN $from f USING ($keys, $tsCol))""".stripMargin
  }
}
