package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.Doubles

/** F3 — positional linear interpolation of nulls ("fill_na",
  * reference stockdata/indicators.py:151-163).
  *
  * pandas `interpolate(limit_direction="both")` semantics: nulls between
  * two observed values get linear interpolation by ROW POSITION; leading
  * nulls clamp to the first observed value, trailing nulls to the last
  * (np.interp edge behavior). Expressed with `last/first ignoreNulls`
  * running windows — two Window nodes over the partitioning F1 already
  * established, no new shuffle.
  */
object Interpolate {

  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      fillCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tsCol)
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    // All auxiliary window columns in ONE select so CollapseWindow merges
    // them into exactly two Window nodes (one per frame direction) over
    // one sort — a per-column withColumn fold interleaves Projects and
    // yields 4×|fillCols| window passes instead.
    val withIdx = df.withColumn("_idx", row_number().over(w))
    val aux = fillCols.flatMap { c =>
      Seq(
        last(col(c), ignoreNulls = true).over(back).as(s"_pv_$c"),
        last(when(col(c).isNotNull, col("_idx")), ignoreNulls = true)
          .over(back).as(s"_pi_$c"),
        first(col(c), ignoreNulls = true).over(fwd).as(s"_nv_$c"),
        first(when(col(c).isNotNull, col("_idx")), ignoreNulls = true)
          .over(fwd).as(s"_ni_$c"))
    }
    val staged = withIdx.select(col("*") +: aux: _*)
    val out = df.columns.map {
      case c if fillCols.contains(c) =>
        coalesce(
          col(c),
          col(s"_pv_$c") + (col(s"_nv_$c") - col(s"_pv_$c"))
            * ((col("_idx") - col(s"_pi_$c")).cast("double")
              / (col(s"_ni_$c") - col(s"_pi_$c")).cast("double")),
          col(s"_pv_$c"), col(s"_nv_$c")).as(c)
      case c => col(c)
    }
    staged.select(out.toIndexedSeq: _*)
  }

  /** Array form of [[apply]] for one column of one island, in place:
    * a null between two values at rows `a < i < b` becomes
    * `x(a) + (x(b) - x(a)) * ((i - a) / (b - a))`, evaluated in that
    * order; leading nulls take the first value, trailing nulls the last.
    * A column with no value stays all null. */
  def fill(x: Doubles): Unit = {
    val n = x.length
    var a = -1 // last value at or before i
    var i = 0
    while (i < n) {
      if (!x.isNull(i)) {
        var j = a + 1
        while (j < i) {
          if (a < 0) x.set(j, x.v(i))
          else x.set(j, x.v(a) + (x.v(i) - x.v(a)) * ((j - a).toDouble / (i - a).toDouble))
          j += 1
        }
        a = i
      }
      i += 1
    }
    if (a >= 0) { var j = a + 1; while (j < n) { x.set(j, x.v(a)); j += 1 } }
  }

  /** DuckDB CTE chain mirroring [[apply]]; exposes `ip_final`. */
  def sqlStages(
      from: String,
      keyCols: Seq[String],
      tsCol: String,
      fillCols: Seq[String]): String = {
    val part = keyCols.mkString(", ")
    val over = s"PARTITION BY $part ORDER BY $tsCol"
    val back = s"OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val fwd = s"OVER ($over ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    val aux = fillCols.map { c =>
      s"""last_value($c IGNORE NULLS) $back AS _pv_$c,
         |    last_value(CASE WHEN $c IS NOT NULL THEN _idx END IGNORE NULLS) $back AS _pi_$c,
         |    first_value($c IGNORE NULLS) $fwd AS _nv_$c,
         |    first_value(CASE WHEN $c IS NOT NULL THEN _idx END IGNORE NULLS) $fwd AS _ni_$c""".stripMargin
    }.mkString(",\n    ")
    val fills = fillCols.map { c =>
      s"""coalesce($c, _pv_$c + (_nv_$c - _pv_$c)
         |      * (CAST(_idx - _pi_$c AS DOUBLE) / CAST(_ni_$c - _pi_$c AS DOUBLE)),
         |      _pv_$c, _nv_$c) AS $c""".stripMargin
    }.mkString(",\n    ")
    val keep = (Seq("_idx") ++ fillCols.flatMap(c =>
      Seq(s"_pv_$c", s"_pi_$c", s"_nv_$c", s"_ni_$c")) ++ fillCols)
      .mkString(", ")
    s"""ip_s1 AS (
       |  SELECT *, row_number() OVER ($over) AS _idx FROM $from),
       |ip_s2 AS (
       |  SELECT *,
       |    $aux
       |  FROM ip_s1),
       |ip_final AS (
       |  SELECT * EXCLUDE ($keep),
       |    $fills
       |  FROM ip_s2)""".stripMargin
  }
}
