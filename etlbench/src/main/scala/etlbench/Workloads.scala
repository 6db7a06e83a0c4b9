package etlbench

import java.nio.file.Path
import java.time.{LocalDate, LocalTime}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.etl.MarketCalendar
import graft.ind.IndicatorPipeline
import graft.io.BarsIO
import graft.model.Schemas
import graft.streaming.{RawBarEvent, StreamingPipeline}

/** What one benchmark run found: ops attempted and failed, metrics, and
  * the oracle cases left for `oracle.py`. */
final class Result {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Double]()
  val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  val oracle = mutable.ArrayBuffer[(String, String)]()

  def op(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; failures ++= problems }
  }

  /** A failed check on output already counted as an op: marks one more
    * op failed (a wrong output counts as failed). */
  def check(problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      failed = math.min(attempted, failed + 1)
      failures ++= problems
    }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** Settings shared by the workloads of one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cores: Int, work: Path) {
  def dir(name: String): String = work.resolve(name).toString
  def pick[T](xs: Seq[T], salt: Long): T =
    xs(java.lang.Math.floorMod(BarGen.mix(seed ^ salt), xs.size.toLong).toInt)

  /** The tickers a run sends to the oracle: SPY, VOO, two illiquid ones
    * (when the universe has them) and two more. */
  def oracleTickers(universe: Seq[String]): Seq[String] = {
    val thin = universe.filter(BarGen.illiquid(seed, _))
    (Seq("SPY", "VOO") ++ (if (thin.isEmpty) Nil else Seq(pick(thin, 1), pick(thin, 2))) ++
      Seq(pick(universe, 3), pick(universe, 4))).distinct
  }
}

object Sample {
  def raw(df: DataFrame, tickers: Seq[String]): DataFrame =
    df.filter(col("ticker").isin(tickers: _*) || col("ticker").isNull)
  def out(df: DataFrame, tickers: Seq[String]): DataFrame =
    df.filter(regexp_extract(col("ticker"), "^(.*)-[0-9]+$", 1).isin(tickers: _*))
}

/** Per-layer metrics every workload reports; a layer the workload does
  * not exercise reports 0. */
object Layers {
  val SelfTimes = Seq("io.read", "io.write", "spark.plan", "etl.calendar",
    "etl.sessionize", "etl.densify", "etl.interpolate", "ind.frame", "functions.ind_w",
    "ind.emit", "trace.count")

  def zeros(res: Result): Unit = {
    SelfTimes.foreach(n => res.metric(n + "_s", 0.0, "s"))
    Seq("io.rows_read", "io.files_written", "etl.islands", "streaming.batches", "streaming.sink_calls",
      "streaming.backlog_max", "streaming.state_rows_max", "streaming.rows_late_dropped")
      .foreach(res.metric(_, 0.0, "count"))
    Seq("io.bytes_written_per_bar").foreach(res.metric(_, 0.0, "B"))
    Seq("etl.kept_ratio", "etl.densify_ratio", "ind.emit_ratio").foreach(res.metric(_, 0.0, "ratio"))
    Seq("streaming.trigger_s_p50", "streaming.emit_job_s", "streaming.ingest_s_p50",
      "streaming.ingest_s_tail", "streaming.gen_late_s").foreach(res.metric(_, 0.0, "s"))
    res.metric("streaming.state_mb_max", 0.0, "MB")
  }

  /** Self times (per op) and boundary ratios from a traced chain. */
  def fromTrace(res: Result, tracer: Tracer, ops: Int, counts: Seq[Map[String, Long]]): Unit = {
    val self = tracer.selfSeconds
    SelfTimes.foreach(n => res.metric(n + "_s", self.getOrElse(n, 0.0) / ops, "s"))
    def sum(k: String) = counts.map(_.getOrElse(k, 0L)).sum.toDouble
    res.metric("etl.kept_ratio", sum("etl.calendar") / sum("io.read"), "ratio")
    res.metric("etl.densify_ratio", sum("etl.densify") / sum("etl.sessionize"), "ratio")
    res.metric("etl.islands", sum("etl.islands") / ops, "count")
    res.metric("ind.emit_ratio", sum("ind.emit") / sum("functions.ind_w"), "ratio")
  }

  def sparkMetrics(res: Result, probe: SparkProbe, ops: Int, wallS: Double, cores: Int): Unit = {
    probe.settle()
    probe.metrics(ops, wallS, cores).foreach { case (n, v, u) => res.metric(n, v, u) }
  }

  /** Data files under `dir` that writes left (parquet parts, no checksums). */
  def partFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Tracing overhead and how much traced wall time no layer accounts for. */
  def overhead(res: Result, tracer: Tracer, ops: Int, untracedS: Double, tracedS: Double): Unit = {
    val self = tracer.selfSeconds
    val layers = SelfTimes.map(self.getOrElse(_, 0.0)).sum
    res.metric("trace.overhead_s", (tracedS - untracedS) / ops, "s")
    res.metric("trace.unaccounted_s", (tracedS - layers) / ops, "s")
    res.info("self_times_within_overhead") =
      if (math.abs(tracedS - layers) <= math.max(0.0, tracedS - untracedS)) 1.0 else 0.0
  }
}

/** One workload: seeded inputs, warm-up, the timed measurement and the
  * separate traced run. */
trait Workload {
  def generate(): Unit
  def warmup(): Unit
  def measure(): Unit
  def traced(tracer: Tracer): Unit
}

/** backfill: repeated `IndicatorPipeline.runRange` jobs over a fixed
  * universe and the trading days on both sides of the 2024-03-10 DST
  * switch, reading the seeded raw partitioned dataset and writing
  * features partitioned by `ds`. */
final class Backfill(ctx: Ctx, res: Result) extends Workload {
  import ctx.spark
  import spark.implicits._

  // sized so that several jobs fit in one run (about 7 s a job on 4
  // cores); the median over the jobs is reported
  private val tickers = BarGen.universe(Backfill.Tickers)
  // the last trading day before the switch and the first after it
  val dates: Seq[LocalDate] = Seq(LocalDate.of(2024, 3, 8), LocalDate.of(2024, 3, 11))
  private val rawBase = ctx.dir("backfill/raw")
  private val featBase = ctx.dir("backfill/features")
  private var rawBars = 0L

  private def writeRaw(base: String, ts: Seq[String], ds: Seq[LocalDate]): Long = {
    val seed = ctx.seed
    val pairs = for (t <- ts; d <- ds) yield (t, d.toString)
    val bars = (pairs ++ ds.map(d => (null: String, d.toString))).toDS()
      .repartition(ctx.cores)
      .flatMap { case (t, d) =>
        val date = LocalDate.parse(d)
        if (t == null) Iterator(BarGen.nullTickerBar(seed, date))
        else BarGen.tickerDay(seed, t, date).iterator
      }
    val withDs = bars.withColumn("ds", date_format(from_utc_timestamp(
      timestamp_seconds(col("window_start") / lit(1000000000d)),
      MarketCalendar.Eastern.getId), "yyyy-MM-dd"))
    layout(withDs.toDF()).write.mode(SaveMode.Overwrite).option("compression", "gzip")
      .partitionBy("interval", "yr", "mo", "ds").parquet(base)
    BarsIO.readBars(spark, base).count()
  }

  /** BarsIO's `interval=/yr=/mo=/ds=` layout for rows that carry `ds`. */
  private def layout(df: DataFrame): DataFrame =
    df.withColumn("interval", lit(BarGen.Interval))
      .withColumn("yr", substring(col("ds"), 1, 4))
      .withColumn("mo", substring(col("ds"), 6, 2))

  def generate(): Unit = rawBars = writeRaw(rawBase, tickers, dates)

  private def job(raw: String, out: String, ds: Seq[LocalDate]): Unit =
    write(IndicatorPipeline.runRange(BarsIO.readBars(spark, raw), ds), out)

  private def write(features: DataFrame, out: String): Unit =
    layout(features).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").option("compression", "gzip")
      .partitionBy("interval", "yr", "mo", "ds").parquet(out)

  /** A full-size job on the run's own input: a smaller one left the
    * first timed jobs up to 40% slower than the later ones. */
  def warmup(): Unit = job(rawBase, ctx.dir("backfill/warm_features"), dates)

  /** Where job `k` of a run writes its features. */
  private def out(k: Int): String = s"$featBase/job=$k"

  /** One op per day partition of each of the first `jobs` jobs: schema,
    * non-empty, invariants. */
  private def validate(jobs: Int): Unit = {
    val back = spark.read.parquet(featBase).withColumn("ds", col("ds").cast("string"))
    val cols = back.columns.toSeq.filterNot(Set("job", "interval", "yr", "mo", "ds"))
    val bounds = dates.map(d => (d.toString, MarketCalendar.marketOpenCloseNanos(d)._1,
      MarketCalendar.marketOpenCloseNanos(d)._2)).toDF("ds", "mst", "met")
    val valueCols = Schemas.indicatorColumns.filterNot(Set("ticker", "window_start"))
    val bad = Schemas.indicatorColumns.map(c => col(c).isNull).reduce(_ || _) ||
      valueCols.map(c => isnan(col(c))).reduce(_ || _) ||
      col("window_start") < col("mst") || col("window_start") >= col("met") ||
      !col("ticker").rlike("^[A-Z0-9]+-[0-9]+$")
    val stats = back.join(broadcast(bounds), Seq("ds"))
      .groupBy(col("job").cast("int"), col("ds")).agg(count(lit(1)), sum(when(bad, 1).otherwise(0)),
        countDistinct(col("ticker"), col("window_start")))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    for (k <- 0 until jobs; d <- dates) {
      val problems = stats.get((k, d.toString)) match {
        case None => Seq(s"backfill job $k $d: no feature partition")
        case Some((n, b, keys)) =>
          (if (cols != Schemas.indicatorColumns) Seq(s"backfill $d: columns ${cols.mkString(",")}") else Nil) ++
            (if (n == 0) Seq(s"backfill job $k $d: empty") else Nil) ++
            (if (b > 0) Seq(s"backfill job $k $d: $b bad rows") else Nil) ++
            (if (keys != n) Seq(s"backfill job $k $d: duplicate keys") else Nil)
      }
      res.op(problems)
    }
  }

  /** Jobs back to back until `budget` seconds would pass, at least
    * `minJobs`; each job writes its own output. */
  private def loop(budget: Double, minJobs: Int): Seq[Double] = {
    val times = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (times.size < minJobs || (System.nanoTime() - t0) / 1e9 + times.last < budget) {
      val s = System.nanoTime()
      job(rawBase, out(times.size), dates)
      times += (System.nanoTime() - s) / 1e9
    }
    times.toSeq
  }

  /** Sampled day and tickers: `run` on the same raw must agree with
    * `runRange`; the sample goes to the DuckDB oracle. */
  private def crossCheck(): Unit = {
    val d = ctx.pick(dates, 0xBAC4L)
    val sample = ctx.oracleTickers(tickers)
    val raw = Sample.raw(BarsIO.readDay(spark, rawBase, BarGen.Interval, d.toString)
      .select(Schemas.rawBars.fieldNames.toIndexedSeq.map(col): _*), sample)
    val back = Sample.out(BarsIO.readDay(spark, out(0), BarGen.Interval, d.toString), sample)
    val viaRun = Checks.tickerDigests(Checks.canonical(IndicatorPipeline.run(raw, d)).toSeq)
    val viaRange = Checks.tickerDigests(Checks.canonical(back).toSeq)
    res.check(Checks.agree(s"backfill $d run vs runRange", viaRun, viaRange))
    res.oracle += Checks.writeOracleCase(ctx.work.resolve("oracle"), s"backfill-$d", d, raw, back)
  }

  def measure(): Unit = {
    val times = loop(ctx.seconds, Backfill.MinJobs)
    validate(times.size)
    val (tq, tail) = Stats.tail(times)
    res.metric("day_s_p50", Stats.median(times), "s")
    res.info("day_s_tail") = tail
    res.metric("bars_per_s", rawBars * times.size / times.sum, "bars/s")
    res.samples("job_s") = times
    res.info("day_tail_percentile") = tq
    res.info("raw_bars") = rawBars.toDouble
    crossCheck()
  }

  def traced(tracer: Tracer): Unit = {
    Layers.zeros(res)
    val wallA = Probes.withSparkProbe(spark) { probe =>
      val s = System.nanoTime()
      job(rawBase, out(0), dates)
      val w = (System.nanoTime() - s) / 1e9
      Layers.sparkMetrics(res, probe, 1, w, ctx.cores)
      w
    }
    val files = Layers.partFiles(out(0))
    res.metric("io.files_written", files.size.toDouble, "count")
    res.metric("io.bytes_written_per_bar", files.map(_.length).sum / rawBars.toDouble, "B")
    res.metric("io.rows_read", rawBars.toDouble, "count")
    val t0 = System.nanoTime()
    val counts = tracer("backfill.job", "range") {
      val raw = BarsIO.readBars(spark, rawBase)
      tracer("spark.plan", "range")(IndicatorPipeline.runRange(raw, dates).queryExecution.executedPlan)
      val (features, c) = Chain.materialize(tracer, "range", raw, Chain.range(dates),
        Seq("ticker", "ds", "island"))
      tracer("io.write", "range")(write(features, out(1)))
      features.unpersist()
      c
    }
    val wallB = (System.nanoTime() - t0) / 1e9
    validate(2)
    if (featureDigest(out(1)) != featureDigest(out(0)))
      res.check(Seq("backfill: traced chain digest != untraced digest"))
    Layers.fromTrace(res, tracer, 1, Seq(counts))
    Layers.overhead(res, tracer, 1, wallA, wallB)
    res.info("untraced_s") = wallA
    res.info("traced_s") = wallB
  }

  /** Order-independent digest of the features under `dir`, computed in
    * Spark. */
  private def featureDigest(dir: String): String = {
    val back = spark.read.parquet(dir)
    val h = back.select(xxhash64(Schemas.indicatorColumns.map(c =>
      if (c == "ticker" || c == "window_start") col(c)
      else graft.queries.Rounding.r6(col(c))) :+ col("ds"): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")), count(lit(1))).head()
    s"${h.get(0)}/${h.getLong(1)}"
  }
}

object Backfill {
  val Tickers = 64
  val MinJobs = 3
}

/** stream_replay: an open-loop generator appends each market minute's
  * bars to a `MemoryStream` on a fixed wall-clock schedule, day after
  * day, with after-hours bars that move the watermark, into
  * `StreamingPipeline.run`; the sink stamps each day's arrival. */
final class StreamReplay(ctx: Ctx, res: Result) extends Workload {
  import ctx.spark
  import spark.implicits._
  import StreamReplay._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // 16 liquid tickers, SPY, VOO and the first two illiquid ones: the
  // same mix for every seed
  private val tickers = BarGen.liquidUniverse(ctx.seed, 18) ++
    BarGen.universe(505).filter(BarGen.illiquid(ctx.seed, _)).take(2)
  // consecutive trading days across the DST switch; a run replays as
  // many as fit in --seconds, and at least MinDays
  private val dates = BarGen.weekdays(LocalDate.of(2024, 3, 7), MaxDays)
  private val warmDates = Seq(LocalDate.of(2024, 1, 10))
  private var plan: Seq[(LocalDate, Seq[GenBatch])] = Nil
  private var warmPlan: Seq[(LocalDate, Seq[GenBatch])] = Nil

  /** One append of the generator: its bars, when it is due (ms after its
    * day's live replay starts) and whether it moves the watermark past
    * the day's close + slack. */
  private final case class GenBatch(bars: Array[RawBarEvent], dueMs: Double, moves: Boolean)

  /** One day's appends. The first is the catch-up: every bar before
    * LiveFrom, the state a stream holds late in the session. Then one
    * append per market minute with bars up to the close + EmitAfterNs,
    * MinuteMs apart. The last append holds the bars after that, which
    * move the watermark past the day's close + slack, and a bar of ticker
    * ZZZ stamped 03:00 ET the next weekday, which pushes it past the
    * whole day; so every ticker-day of the day times out in the same
    * micro-batch, and the ZZZ day is emitted with the next replayed day
    * (as pre-market, no rows) rather than as a day of its own. Each day
    * after the first starts with a late bar, stamped a week before the
    * replay so that it is behind the watermark. */
  private def schedule(ds: Seq[LocalDate], tks: Seq[String]): Seq[(LocalDate, Seq[GenBatch])] = {
    val lateNs = MarketCalendar.epochNanos(ds.head.minusDays(7), LocalTime.NOON)
    ds.zipWithIndex.map { case (d, i) =>
      val liveNs = MarketCalendar.epochNanos(d, LiveFrom)
      val movesAt = MarketCalendar.marketOpenCloseNanos(d)._2 + EmitAfterNs
      val late = if (i == 0) Nil
        else Seq(RawBarEvent(tks.head, 100.0, 10.0, 10.0, 10.0, 10.0, 10.0, lateNs + i * MinuteNs))
      val bars = BarGen.day(ctx.seed, tks, d)
      val (before, rest) = bars.partition(_.window_start < liveNs)
      val (live, after) = rest.partition(_.window_start <= movesAt)
      val minutes = live.groupBy(_.window_start).toSeq.sortBy(_._1).map { case (t, bs) =>
        GenBatch(bs, (t - liveNs) / MinuteNs * MinuteMs, moves = false)
      }
      val next = BarGen.weekdays(d.plusDays(1), 1).head
      val push = RawBarEvent("ZZZ", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0,
        MarketCalendar.epochNanos(next, LocalTime.of(3, 0)))
      d -> ((GenBatch(before ++ late, 0.0, moves = false) +: minutes) :+
        GenBatch(after :+ push, (movesAt - liveNs) / MinuteNs * MinuteMs + MinuteMs, moves = true))
    }
  }

  def generate(): Unit = {
    plan = schedule(dates, tickers)
    warmPlan = schedule(warmDates, tickers.take(3) :+ tickers.last)
  }

  private final class Replay(val days: Seq[LocalDate], val dueNs: Array[Long],
      val sentNs: Array[Long], val movesNs: Map[String, Long],
      val arrivals: mutable.Map[String, (Long, mutable.ArrayBuffer[Row])],
      val columns: Map[String, Seq[String]], val mixedColumns: Set[String],
      val startNs: Long, val startMs: Long, val sinkCalls: Int, val bars: Long,
      val batches: Seq[StreamProbe.Batch]) {
    /** Seconds from the first due time until the last day's rows arrived. */
    def wallS: Double = (arrivals.values.map(_._1).max - startNs) / 1e9
    /** Bars appended per second of micro-batch processing. */
    def busyBarsPerS: Double = bars / (batches.map(_.triggerMs).sum / 1000.0)
  }

  /** Replays the days of `days` in order until at least `minDays` are
    * done and `budgetS` seconds have passed. A day's live appends start
    * once its catch-up is processed and follow its schedule; the day is
    * done once its rows reached the sink and everything appended is
    * processed. With a tracer, each sink call is a span. */
  private def replay(days: Seq[(LocalDate, Seq[GenBatch])], minDays: Int, budgetS: Double,
      tracer: Option[Tracer]): Replay = {
    val stream = MemoryStream[RawBarEvent]
    val arrivals = mutable.Map[String, (Long, mutable.ArrayBuffer[Row])]()
    val columns = mutable.Map[String, Seq[String]]()
    val mixed = mutable.Set[String]()
    var sinkCalls = 0
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val q = StreamingPipeline.run(stream.toDS()) { (ds, df) =>
      val cols = df.columns.toSeq
      val rows = tracer match {
        case Some(t) => t("streaming.sink", ds)(Checks.canonical(df))
        case None => Checks.canonical(df)
      }
      val now = System.nanoTime()
      arrivals.synchronized {
        sinkCalls += 1
        if (columns.getOrElseUpdate(ds, cols) != cols) mixed += ds
        val (stamp, acc) = arrivals.getOrElse(ds, (0L, mutable.ArrayBuffer[Row]()))
        acc ++= rows
        arrivals(ds) = (if (rows.nonEmpty) now else stamp, acc)
      }
    }
    val due = mutable.ArrayBuffer[Long]()
    val sent = mutable.ArrayBuffer[Long]()
    val moves = mutable.Map[String, Long]()
    val done = mutable.ArrayBuffer[LocalDate]()
    var bars = 0L
    def arrived(ds: String) = arrivals.synchronized(arrivals.get(ds).exists(_._1 > 0))
    def waitFor(limitS: Double)(ok: => Boolean): Unit = {
      val deadline = System.nanoTime() + (limitS * 1e9).toLong
      while (!ok && System.nanoTime() < deadline) Thread.sleep(2)
    }
    try {
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      def append(ds: String, b: GenBatch, at: Long): Unit = {
        val wait = at - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        due += at
        sent += System.nanoTime()
        if (b.moves) moves(ds) = at
        stream.addData(b.bars.toIndexedSeq)
        bars += b.bars.length
      }
      val it = days.iterator
      while (it.hasNext && (done.size < minDays || (System.nanoTime() - start) / 1e9 < budgetS)) {
        val (d, catchUp +: live) = it.next()
        append(d.toString, catchUp, System.nanoTime())
        q.processAllAvailable()
        val liveStart = System.nanoTime()
        live.foreach(b => append(d.toString, b, liveStart + (b.dueMs * 1e6).toLong))
        waitFor(60)(arrived(d.toString))
        q.processAllAvailable()
        done += d
      }
      // progress events reach the listener asynchronously
      waitFor(10)(probe.synchronized(probe.batches.exists(_.toOffset >= due.size - 1)))
      new Replay(done.toSeq, due.toArray, sent.toArray, moves.toMap, arrivals,
        arrivals.synchronized(columns.toMap), arrivals.synchronized(mixed.toSet), start, startMs,
        arrivals.synchronized(sinkCalls), bars, probe.synchronized(probe.batches.toSeq.sortBy(_.id)))
    } finally {
      q.stop()
      spark.streams.removeListener(probe)
    }
  }

  /** Emit latency per day: from the due time of the append that moves the
    * watermark past the day's close + slack to the last sink call that
    * delivered rows for the day. */
  private def emitSeconds(r: Replay): Seq[Double] =
    r.days.map(_.toString).filter(r.arrivals.contains).map(ds =>
      (r.arrivals(ds)._1 - r.movesNs(ds)) / 1e9)

  /** Warm-up replays one day of four tickers with every append due at
    * once, to compile and load the code paths. The first timed day still
    * emits about 20% slower than the later ones, which the median over
    * MinDays days absorbs; a two-day warm-up cost 8 s more per run. */
  def warmup(): Unit =
    replay(warmPlan.map { case (d, bs) => d -> bs.map(_.copy(dueMs = 0.0)) }, 1, 0.0, None)

  /** One op per replayed day: the columns the sink saw, the rows and
    * their invariants. */
  private def check(r: Replay): Map[String, Array[Row]] =
    r.days.map { d =>
      val ds = d.toString
      val rows = r.arrivals.get(ds).map(_._2.toArray).getOrElse(Array.empty[Row])
        .sortBy(x => (x.getString(18), x.getLong(0)))
      res.op(Checks.validateDay(r.columns.getOrElse(ds, Nil), rows, d) ++
        (if (r.mixedColumns(ds)) Seq(s"$ds: sink calls saw different columns") else Nil))
      ds -> rows
    }.toMap

  /** The sampled day: batch `run` on the same bars must agree with what
    * streaming delivered; the day goes to the DuckDB oracle. */
  private def crossCheck(r: Replay, byDay: Map[String, Array[Row]]): Unit = {
    val d = ctx.pick(r.days, 0x57EL)
    val raw = spark.createDataFrame(java.util.Arrays.asList(
      BarGen.day(ctx.seed, tickers, d).toSeq.map(BarGen.toRow): _*), Schemas.rawBars)
    val batch = Checks.canonical(IndicatorPipeline.run(raw, d))
    res.check(Checks.agree(s"stream_replay $d streaming vs run",
      Checks.tickerDigests(byDay(d.toString).toSeq), Checks.tickerDigests(batch.toSeq)))
    val streamed = spark.createDataFrame(java.util.Arrays.asList(byDay(d.toString).toSeq: _*),
      Schemas.indicatorRows)
    val sample = ctx.oracleTickers(tickers)
    res.oracle += Checks.writeOracleCase(ctx.work.resolve("oracle"), s"stream_replay-$d", d,
      Sample.raw(raw, sample), Sample.out(streamed, sample))
  }

  def measure(): Unit = {
    val r = replay(plan, MinDays, ctx.seconds, None)
    val emits = emitSeconds(r)
    val byDay = check(r)
    val (tq, tail) = Stats.tail(emits)
    res.metric("day_s_p50", Stats.median(emits), "s")
    res.info("day_s_tail") = tail
    res.metric("bars_per_s", r.busyBarsPerS, "bars/s")
    res.samples("emit_s") = emits
    res.info("day_tail_percentile") = tq
    res.info("days") = r.days.size
    res.info("appends") = r.dueNs.length
    res.info("batches") = r.batches.size
    res.info("trigger_s_p50") = Stats.median(r.batches.map(_.triggerMs / 1000.0))
    res.info("backlog_max") = r.batches.map(b => b.toOffset - b.fromOffset).max.toDouble
    res.info("gen_late_s") = r.sentNs.zip(r.dueNs).map { case (s, d) => (s - d) / 1e9 }.max
    res.info("replay_s") = r.wallS
    crossCheck(r, byDay)
  }

  def traced(tracer: Tracer): Unit = {
    Layers.zeros(res)
    val a = replay(plan, TracedDays, 0.0, None)
    val digestA = check(a).map { case (k, v) => k -> Checks.digest(v.toSeq) }
    val b = Probes.withSparkProbe(spark) { sp =>
      val r = tracer("stream.replay", "all")(
        replay(plan.take(a.days.size), a.days.size, 0.0, Some(tracer)))
      Layers.sparkMetrics(res, sp, r.days.size, r.wallS, ctx.cores)
      r
    }
    val digestB = check(b).map { case (k, v) => k -> Checks.digest(v.toSeq) }
    if (digestA != digestB) res.check(Seq("stream_replay: traced replay digest != untraced digest"))
    streamingMetrics(b, tracer.all.filter(_.name == "streaming.sink"))
    // the per-day ind code the sink runs, decomposed on one replayed day
    val d = ctx.pick(a.days, 0x57EL)
    val raw = spark.createDataFrame(java.util.Arrays.asList(
      BarGen.day(ctx.seed, tickers, d).toSeq.map(BarGen.toRow): _*), Schemas.rawBars)
    val (dayOut, counts) = tracer("stream.day", d.toString) {
      tracer("spark.plan", d.toString)(IndicatorPipeline.run(raw, d).queryExecution.executedPlan)
      Chain.materialize(tracer, d.toString, raw, Chain.day(d), Seq("ticker", "island"))
    }
    dayOut.unpersist()
    Layers.fromTrace(res, tracer, 1, Seq(counts))
    res.metric("trace.overhead_s", (b.wallS - a.wallS) / a.days.size, "s")
    res.metric("trace.unaccounted_s", 0.0, "s")
    res.info("days") = a.days.size
    res.info("untraced_s") = a.wallS
    res.info("traced_s") = b.wallS
  }

  private def streamingMetrics(r: Replay, sinkSpans: Seq[Tracer.Span]): Unit = {
    val bs = r.batches
    res.metric("streaming.batches", bs.size.toDouble / r.days.size, "count")
    res.metric("streaming.sink_calls", r.sinkCalls.toDouble / r.days.size, "count")
    res.metric("streaming.trigger_s_p50", Stats.median(bs.map(_.triggerMs / 1000.0)), "s")
    res.metric("streaming.backlog_max",
      bs.map(b => (b.toOffset - b.fromOffset).toDouble).max, "count")
    val sinks = sinkSpans.map(_.seconds)
    res.metric("streaming.emit_job_s", if (sinks.isEmpty) 0.0 else Stats.median(sinks), "s")
    res.metric("streaming.state_rows_max", bs.map(_.stateRows.toDouble).max, "count")
    res.metric("streaming.state_mb_max", bs.map(_.stateBytes / 1048576.0).max, "MB")
    res.metric("streaming.rows_late_dropped", bs.map(_.lateRows.toDouble).sum, "count")
    // ingest latency: due time of an append -> end of the micro-batch
    // whose offset range consumed it
    val ends = bs.filter(_.toOffset >= 0).map(b => (b.fromOffset, b.toOffset, b.startMs + b.triggerMs))
    val ingest = r.dueNs.indices.flatMap { i =>
      ends.find { case (from, to, _) => i > from && i <= to }.map { case (_, _, endMs) =>
        (endMs - (r.startMs + (r.dueNs(i) - r.startNs) / 1e6)) / 1000.0
      }
    }
    if (ingest.nonEmpty) {
      res.metric("streaming.ingest_s_p50", Stats.median(ingest), "s")
      res.metric("streaming.ingest_s_tail", Stats.tail(ingest)._2, "s")
    }
    res.metric("streaming.gen_late_s",
      r.sentNs.zip(r.dueNs).map { case (s, d) => (s - d) / 1e9 }.max, "s")
  }
}

object StreamReplay {
  /** Wall time per market minute of the live replay. */
  val MinuteMs = 25.0
  /** Market time (ET) from which a day is replayed minute by minute. */
  val LiveFrom: LocalTime = LocalTime.of(15, 45)
  val MinDays = 4
  // the traced run replays its days twice (untraced, then traced)
  val TracedDays = 3
  val MaxDays = 10
  private val MinuteNs = 60L * 1000000000L
  // the watermark (30 min behind the latest event) passes a day's close
  // + 35 min slack once an event is this far past the close
  private val EmitAfterNs = (35L + 30L) * MinuteNs
}
