package graft.model

/** A nullable double column of one series, the array counterpart of a
  * nullable `DoubleType` column: `v(i)` holds a value only where
  * `!isNull(i)`. The per-series kernels of the ETL stages
  * (`Interpolate.fill`, `FrameIndicators.series`) work on these so that
  * SQL null semantics carry over row for row.
  */
final class Doubles(val v: Array[Double], val isNull: Array[Boolean]) {
  def length: Int = v.length

  def set(i: Int, x: Double): Unit = { v(i) = x; isNull(i) = false }

  /** The value at `i` boxed, or null. */
  def boxed(i: Int): java.lang.Double =
    if (isNull(i)) null else java.lang.Double.valueOf(v(i))
}

object Doubles {
  /** `n` nulls. */
  def nulls(n: Int): Doubles =
    new Doubles(new Array[Double](n), Array.fill(n)(true))
}
