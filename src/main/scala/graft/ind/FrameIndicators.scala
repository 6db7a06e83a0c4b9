package graft.ind

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

import graft.model.{Doubles, IndicatorConfig}

/** Group W-F frame-based indicators (SURVEY.md §2): ROCP, MOM, MFI,
  * ULTOSC, AROONOSC, STOCHF, PPO — all expressible as built-in Spark
  * window functions over one shared
  * `Window.partitionBy(keys).orderBy(time)` spec, so Catalyst collapses
  * them into a handful of Window physical nodes over a single exchange.
  *
  * Semantics re-derive TA-Lib 0.4.32's published kernels (the reference
  * calls them at stockdata/indicators.py:314-457) including warm-up NaN
  * regions (here: nulls) and the reference's /100 scaling
  * (indicators.py:134, applied at each `_get_*`).
  *
  * All formulas are mirrored textually in [[FrameIndicators.sqlStages]]
  * so a DuckDB oracle reproduces them bit-for-bit.
  */
object FrameIndicators {

  /** Adds frame-indicator columns to a bars DataFrame.
    *
    * Input columns required: `part` key cols, `order` time cols, and
    * `high, low, close, volume` plus `price` (the adj-close series used
    * by ROCP/PPO — reference config indicators.py:106-114).
    *
    * Added output columns (null in warm-up region, TA-Lib lookbacks):
    * `rn, rocp_1..rocp_{n-1}, mom, mfi, ultosc, aroonosc, ppo, sok, sok_hist`.
    */
  def addAll(
      df0: DataFrame,
      part: Seq[String],
      order: Seq[String],
      price: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): DataFrame = {

    val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
    def rb(a: Long, b: Long): WindowSpec = w.rowsBetween(a, b)
    val p = col(price)
    // Source columns come from the config (a renamed-column input works
    // end-to-end), not hardcoded names.
    val cl = col(cfg.closeUnadjColumn)
    val hi = col(cfg.highColumn)
    val lo = col(cfg.lowColumn)
    val vol = col(cfg.volumeColumn)

    // Stage 1: row number, lag-derived primitives.
    val df1 = df0
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_c", lag(cl, 1).over(w))
      .withColumn("tp", (hi + lo + cl) / lit(3.0))

    // Stage 2: per-row derived series (money flow, true range, buying pressure).
    val df2 = df1
      .withColumn("dtp", col("tp") - lag(col("tp"), 1).over(w))
      .withColumn("mf", col("tp") * vol)
      .withColumn("bp",
        when(col("prev_c").isNotNull, cl - least(lo, col("prev_c"))))
      .withColumn("tr_",
        when(col("prev_c").isNotNull,
          greatest(hi, col("prev_c")) - least(lo, col("prev_c"))))
      .withColumn("pos_mf",
        when(col("dtp") > 0, col("mf")).when(col("dtp") <= 0, lit(0.0)))
      .withColumn("neg_mf",
        when(col("dtp") < 0, col("mf")).when(col("dtp") >= 0, lit(0.0)))

    // Stage 3: rolling-frame aggregates. One Window node per distinct frame.
    val mfiP = cfg.mfiPeriod
    val (u1, u2, u3) = (cfg.ultoscPeriod1, cfg.ultoscPeriod2, cfg.ultoscPeriod3)
    val ar = cfg.aroonoscPeriod
    val k5 = cfg.stochFastK
    val df3 = df2
      .withColumn("pos_sum", sum("pos_mf").over(rb(-(mfiP - 1), 0)))
      .withColumn("neg_sum", sum("neg_mf").over(rb(-(mfiP - 1), 0)))
      .withColumn("bp1", sum("bp").over(rb(-(u1 - 1), 0)))
      .withColumn("tr1", sum("tr_").over(rb(-(u1 - 1), 0)))
      .withColumn("bp2", sum("bp").over(rb(-(u2 - 1), 0)))
      .withColumn("tr2", sum("tr_").over(rb(-(u2 - 1), 0)))
      .withColumn("bp3", sum("bp").over(rb(-(u3 - 1), 0)))
      .withColumn("tr3", sum("tr_").over(rb(-(u3 - 1), 0)))
      // AROONOSC: index of the extreme in the trailing period+1 bars;
      // TA-Lib ties keep the MOST RECENT extreme (>=/<= update rule), which
      // struct ordering reproduces: ties on value fall through to max rn.
      .withColumn("hi_rn",
        max(struct(hi.as("v"), col("rn").as("rn"))).over(rb(-ar, 0)).getField("rn"))
      .withColumn("lo_rn",
        max(struct((-lo).as("v"), col("rn").as("rn"))).over(rb(-ar, 0)).getField("rn"))
      .withColumn("hh", max(hi).over(rb(-(k5 - 1), 0)))
      .withColumn("ll", min(lo).over(rb(-(k5 - 1), 0)))
      .withColumn("sma_fast", avg(p).over(rb(-(cfg.ppoFast - 1), 0)))
      .withColumn("sma_slow", avg(p).over(rb(-(cfg.ppoSlow - 1), 0)))

    // Stage 4: raw fastK (needed as input to the fastD rolling average).
    // try_divide everywhere a divisor is data-dependent: Spark 4 ANSI
    // mode errors on /0, while the reference (numpy/TA-Lib IEEE) and
    // the DuckDB oracle (NULL on double /0) never do — try_divide's
    // NULL matches the oracle exactly.
    val df4 = df3.withColumn("sok_raw",
      when(col("rn") >= k5,
        try_divide(cl - col("ll"), col("hh") - col("ll"))))

    // Stage 5: fastD + final guarded outputs. Guards reproduce TA-Lib
    // lookbacks: MFI=period, ULTOSC=period3, AROONOSC=period,
    // STOCHF=fastK-1+fastD-1, PPO=slow-1 (first valid 0-based index).
    val sokFrom = k5 + cfg.stochFastD - 1
    val df5 = df4
      .withColumn("sod", avg("sok_raw").over(rb(-(cfg.stochFastD - 1), 0)))

    val rocps = (1 until cfg.numPrevRocp).map { k =>
      try_divide(p - lag(p, k).over(w), lag(p, k).over(w)).as(s"rocp_$k")
    }

    df5.select(col("*") +: (rocps ++ Seq[Column](
      (p - lag(p, 10).over(w)).as("mom"),
      when(col("rn") >= mfiP + 1,
        try_divide(col("pos_sum"), col("pos_sum") + col("neg_sum"))).as("mfi"),
      when(col("rn") >= u3 + 1,
        (lit(4.0) * try_divide(col("bp1"), col("tr1"))
          + lit(2.0) * try_divide(col("bp2"), col("tr2"))
          + try_divide(col("bp3"), col("tr3"))) / lit(7.0)).as("ultosc"),
      when(col("rn") >= ar + 1,
        (col("hi_rn") - col("lo_rn")) / lit(ar.toDouble)).as("aroonosc"),
      when(col("rn") >= cfg.ppoSlow,
        try_divide(col("sma_fast") - col("sma_slow"), col("sma_slow"))).as("ppo"),
      when(col("rn") >= sokFrom, col("sok_raw")).as("sok"),
      when(col("rn") >= sokFrom, col("sok_raw") - col("sod")).as("sok_hist"))): _*)
  }

  /** Array form of [[addAll]] for one series (an island), rows sorted by
    * time: the output columns `rocp_1..rocp_5, mfi, ultosc, aroonosc,
    * ppo, sok, sok_hist` by name, null where [[addAll]] gives null.
    *
    * It evaluates every formula as Spark evaluates [[addAll]], so the
    * results are bit-identical: each sliding frame is re-summed oldest
    * to newest for every row (`SlidingWindowFunctionFrame`), aggregates
    * skip nulls, `avg` is sum / count of the non-null rows, `try_divide`
    * gives null on a zero divisor, and comparisons, `greatest`/`least`
    * and `max`/`min` use Spark's double ordering (NaN above every value,
    * NaN = NaN, -0.0 = 0.0; ties keep the earlier operand).
    */
  def series(price: Doubles, close: Doubles, high: Doubles, low: Doubles,
      volume: Doubles, cfg: IndicatorConfig = IndicatorConfig()): Map[String, Doubles] = {
    val n = price.length
    val prevC = lagged(close, 1)
    val tp = mapped(zipped(zipped(high, low)(_ + _), close)(_ + _))(_ / 3.0)
    val dtp = zipped(tp, lagged(tp, 1))(_ - _)
    val mf = zipped(tp, volume)(_ * _)
    val bp = Doubles.nulls(n)
    val tr = Doubles.nulls(n)
    val posMf = Doubles.nulls(n)
    val negMf = Doubles.nulls(n)
    var i = 0
    while (i < n) {
      if (!prevC.isNull(i)) {
        val pc = prevC.v(i)
        val least = if (low.isNull(i) || cmp(pc, low.v(i)) < 0) pc else low.v(i)
        if (!close.isNull(i)) bp.set(i, close.v(i) - least)
        val greatest = if (high.isNull(i) || cmp(pc, high.v(i)) > 0) pc else high.v(i)
        tr.set(i, greatest - least)
      }
      if (!dtp.isNull(i)) {
        val d = dtp.v(i)
        if (cmp(d, 0.0) > 0) { if (!mf.isNull(i)) posMf.set(i, mf.v(i)) } else posMf.set(i, 0.0)
        if (cmp(d, 0.0) < 0) { if (!mf.isNull(i)) negMf.set(i, mf.v(i)) } else negMf.set(i, 0.0)
      }
      i += 1
    }

    val mfiP = cfg.mfiPeriod
    val (u1, u2, u3) = (cfg.ultoscPeriod1, cfg.ultoscPeriod2, cfg.ultoscPeriod3)
    val ar = cfg.aroonoscPeriod
    val k5 = cfg.stochFastK
    val sokFrom = k5 + cfg.stochFastD - 1
    val posSum = frameSum(posMf, mfiP)
    val negSum = frameSum(negMf, mfiP)
    val (bp1, tr1) = (frameSum(bp, u1), frameSum(tr, u1))
    val (bp2, tr2) = (frameSum(bp, u2), frameSum(tr, u2))
    val (bp3, tr3) = (frameSum(bp, u3), frameSum(tr, u3))
    val hiRn = frameArgMax(high, ar + 1)
    val loRn = frameArgMax(mapped(low)(x => -x), ar + 1)
    val hh = frameExtreme(high, k5, 1)
    val ll = frameExtreme(low, k5, -1)
    val smaFast = frameAvg(price, cfg.ppoFast)
    val smaSlow = frameAvg(price, cfg.ppoSlow)
    val sokRaw = from(k5, tryDiv(zipped(close, ll)(_ - _), zipped(hh, ll)(_ - _)))
    val sod = frameAvg(sokRaw, cfg.stochFastD)

    val rocps = (1 until 6).map { k =>
      val prev = lagged(price, k)
      s"rocp_$k" -> tryDiv(zipped(price, prev)(_ - _), prev)
    }
    val mfi = from(mfiP + 1, tryDiv(posSum, zipped(posSum, negSum)(_ + _)))
    val ultosc = from(u3 + 1, mapped(zipped(zipped(
      mapped(tryDiv(bp1, tr1))(4.0 * _), mapped(tryDiv(bp2, tr2))(2.0 * _))(_ + _),
      tryDiv(bp3, tr3))(_ + _))(_ / 7.0))
    val aroonosc = Doubles.nulls(n)
    i = ar
    while (i < n) { aroonosc.set(i, (hiRn(i) - loRn(i)).toDouble / ar.toDouble); i += 1 }
    val ppo = from(cfg.ppoSlow, tryDiv(zipped(smaFast, smaSlow)(_ - _), smaSlow))
    val sok = from(sokFrom, sokRaw)
    val sokHist = from(sokFrom, zipped(sokRaw, sod)(_ - _))
    (rocps ++ Seq("mfi" -> mfi, "ultosc" -> ultosc, "aroonosc" -> aroonosc, "ppo" -> ppo,
      "sok" -> sok, "sok_hist" -> sokHist)).toMap
  }

  /** Spark's double ordering (`SQLOrderingUtil.compareDoubles`). */
  private def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)

  private def mapped(a: Doubles)(f: Double => Double): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) { if (!a.isNull(i)) out.set(i, f(a.v(i))); i += 1 }
    out
  }

  private def zipped(a: Doubles, b: Doubles)(f: (Double, Double) => Double): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) {
      if (!a.isNull(i) && !b.isNull(i)) out.set(i, f(a.v(i), b.v(i)))
      i += 1
    }
    out
  }

  /** `lag(a, k)`. */
  private def lagged(a: Doubles, k: Int): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = k
    while (i < a.length) { if (!a.isNull(i - k)) out.set(i, a.v(i - k)); i += 1 }
    out
  }

  /** `when(rn >= fromRn, a)`, `rn` 1-based. */
  private def from(fromRn: Int, a: Doubles): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = math.max(0, fromRn - 1)
    while (i < a.length) { if (!a.isNull(i)) out.set(i, a.v(i)); i += 1 }
    out
  }

  /** `try_divide(a, b)`: null when either side is null or `b == 0`. */
  private def tryDiv(a: Doubles, b: Doubles): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) {
      if (!a.isNull(i) && !b.isNull(i) && b.v(i) != 0.0) out.set(i, a.v(i) / b.v(i))
      i += 1
    }
    out
  }

  /** `sum(a)` over rows `[i - w + 1, i]`, summed from the oldest row. */
  private def frameSum(a: Doubles, w: Int): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) {
      var s = 0.0
      var any = false
      var j = math.max(0, i - w + 1)
      while (j <= i) { if (!a.isNull(j)) { s += a.v(j); any = true }; j += 1 }
      if (any) out.set(i, s)
      i += 1
    }
    out
  }

  /** `avg(a)` over rows `[i - w + 1, i]`: the sum of the non-null rows
    * from the oldest, divided by their count. */
  private def frameAvg(a: Doubles, w: Int): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) {
      var s = 0.0
      var c = 0L
      var j = math.max(0, i - w + 1)
      while (j <= i) { if (!a.isNull(j)) { s += a.v(j); c += 1 }; j += 1 }
      if (c > 0) out.set(i, s / c.toDouble)
      i += 1
    }
    out
  }

  /** `max(a)` (`sign` 1) or `min(a)` (`sign` -1) over rows
    * `[i - w + 1, i]`; a tie keeps the older row. */
  private def frameExtreme(a: Doubles, w: Int, sign: Int): Doubles = {
    val out = Doubles.nulls(a.length)
    var i = 0
    while (i < a.length) {
      var j = math.max(0, i - w + 1)
      while (j <= i) {
        if (!a.isNull(j) && (out.isNull(i) || cmp(a.v(j), out.v(i)) * sign > 0))
          out.set(i, a.v(j))
        j += 1
      }
      i += 1
    }
    out
  }

  /** `max(struct(a, rn)).rn` over rows `[i - w + 1, i]`: the 1-based row
    * of the largest value, nulls lowest, ties to the most recent row. */
  private def frameArgMax(a: Doubles, w: Int): Array[Int] = {
    val out = new Array[Int](a.length)
    var i = 0
    while (i < a.length) {
      var best = math.max(0, i - w + 1)
      var j = best + 1
      while (j <= i) {
        val ge = a.isNull(best) || (!a.isNull(j) && cmp(a.v(j), a.v(best)) >= 0)
        if (ge) best = j
        j += 1
      }
      out(i) = best + 1
      i += 1
    }
    out
  }

  /** DuckDB CTE chain mirroring [[addAll]] formula-for-formula.
    *
    * @param from  name of the CTE/table providing the bars
    * @param partBy comma-joined partition columns
    * @param orderBy comma-joined ordering columns
    * @return CTE list (to splice after a leading WITH) exposing `fi_final`
    *         with the same columns addAll adds.
    */
  def sqlStages(
      from: String,
      partBy: String,
      orderBy: String,
      price: String = "close",
      cfg: IndicatorConfig = IndicatorConfig()): String = {
    val over = s"PARTITION BY $partBy ORDER BY $orderBy"
    def rb(k: Int) = s"OVER ($over ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW)"
    val cl = cfg.closeUnadjColumn
    val hiC = cfg.highColumn
    val loC = cfg.lowColumn
    val volC = cfg.volumeColumn
    val mfiP = cfg.mfiPeriod
    val (u1, u2, u3) = (cfg.ultoscPeriod1, cfg.ultoscPeriod2, cfg.ultoscPeriod3)
    val ar = cfg.aroonoscPeriod
    val k5 = cfg.stochFastK
    val sokFrom = k5 + cfg.stochFastD - 1
    val rocpCols = (1 until cfg.numPrevRocp).map { k =>
      s"($price - lag($price, $k) OVER ($over)) / lag($price, $k) OVER ($over) AS rocp_$k"
    }.mkString(",\n    ")

    s"""fi_s1 AS (
       |  SELECT *,
       |    row_number() OVER ($over) AS rn,
       |    lag($cl, 1) OVER ($over) AS prev_c,
       |    ($hiC + $loC + $cl) / 3.0 AS tp
       |  FROM $from),
       |fi_s2 AS (
       |  SELECT *,
       |    tp - lag(tp, 1) OVER ($over) AS dtp,
       |    tp * $volC AS mf,
       |    CASE WHEN prev_c IS NOT NULL THEN $cl - least($loC, prev_c) END AS bp,
       |    CASE WHEN prev_c IS NOT NULL
       |      THEN greatest($hiC, prev_c) - least($loC, prev_c) END AS tr_
       |  FROM fi_s1),
       |fi_s2b AS (
       |  SELECT *,
       |    CASE WHEN dtp > 0 THEN mf WHEN dtp <= 0 THEN 0.0 END AS pos_mf,
       |    CASE WHEN dtp < 0 THEN mf WHEN dtp >= 0 THEN 0.0 END AS neg_mf
       |  FROM fi_s2),
       |fi_s3 AS (
       |  SELECT *,
       |    sum(pos_mf) ${rb(mfiP)} AS pos_sum,
       |    sum(neg_mf) ${rb(mfiP)} AS neg_sum,
       |    sum(bp) ${rb(u1)} AS bp1, sum(tr_) ${rb(u1)} AS tr1,
       |    sum(bp) ${rb(u2)} AS bp2, sum(tr_) ${rb(u2)} AS tr2,
       |    sum(bp) ${rb(u3)} AS bp3, sum(tr_) ${rb(u3)} AS tr3,
       |    (max(struct_pack(v := $hiC, rn := rn)) ${rb(ar + 1)}).rn AS hi_rn,
       |    (max(struct_pack(v := -$loC, rn := rn)) ${rb(ar + 1)}).rn AS lo_rn,
       |    max($hiC) ${rb(k5)} AS hh, min($loC) ${rb(k5)} AS ll,
       |    avg($price) ${rb(cfg.ppoFast)} AS sma_fast,
       |    avg($price) ${rb(cfg.ppoSlow)} AS sma_slow
       |  FROM fi_s2b),
       |fi_s4 AS (
       |  SELECT *, CASE WHEN rn >= $k5 THEN ($cl - ll) / (hh - ll) END AS sok_raw
       |  FROM fi_s3),
       |fi_final AS (
       |  SELECT *,
       |    $rocpCols,
       |    $price - lag($price, 10) OVER ($over) AS mom,
       |    CASE WHEN rn >= ${mfiP + 1} THEN pos_sum / (pos_sum + neg_sum) END AS mfi,
       |    CASE WHEN rn >= ${u3 + 1} THEN (4.0 * (bp1 / tr1) + 2.0 * (bp2 / tr2)
       |      + (bp3 / tr3)) / 7.0 END AS ultosc,
       |    CASE WHEN rn >= ${ar + 1}
       |      THEN (hi_rn - lo_rn) / ${ar.toDouble} END AS aroonosc,
       |    CASE WHEN rn >= ${cfg.ppoSlow}
       |      THEN (sma_fast - sma_slow) / sma_slow END AS ppo,
       |    CASE WHEN rn >= $sokFrom THEN sok_raw END AS sok,
       |    CASE WHEN rn >= $sokFrom THEN sok_raw
       |      - avg(sok_raw) ${rb(cfg.stochFastD)} END AS sok_hist
       |  FROM fi_s4)""".stripMargin
  }
}
