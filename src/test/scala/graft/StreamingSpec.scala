package graft

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.etl.MarketCalendar
import graft.ind.IndicatorPipeline
import graft.model.Schemas
import graft.streaming.{RawBarEvent, StreamingPipeline}

/** Streaming assembly + batch-parity (SURVEY.md §7.5): complete
  * ticker-days emit exactly once after the watermark passes market close
  * + slack; the streamed indicator output is bit-identical to the batch
  * pipeline on the same bars; late/straggler handling via event time.
  */
class StreamingSpec extends SparkSpec {

  private val day1 = LocalDate.of(2024, 3, 5)
  private val openNs = MarketCalendar.marketOpenCloseNanos(day1)._1
  private val minNs = 60L * 1000000000L

  private def bar(ws: Long, px: Double, t: String = "AAPL") =
    RawBarEvent(t, 1000.0, px, px, px + 0.5, px - 0.5, px, ws)

  private def day1Bars: Seq[RawBarEvent] =
    (0 until 40).map(i => bar(openNs + i * minNs, 100.0 + i))

  /** An event far enough ahead to push the watermark past day1's
    * close+slack (next day, late evening ET). */
  private def pusher(daysAhead: Int): RawBarEvent = {
    val d = day1.plusDays(daysAhead)
    bar(MarketCalendar.epochNanos(d, java.time.LocalTime.of(23, 0)), 1.0, "ZZZ")
  }

  test("assembleDays emits a ticker-day once, after watermark passes close+slack") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[RawBarEvent]
    val q = StreamingPipeline.assembleDays(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("days_out").start()
    try {
      stream.addData(day1Bars)        // batch 1: buffers, sets timeout
      q.processAllAvailable()
      assert(spark.table("days_out").where($"ticker" === "AAPL").count() == 0,
        "must not emit before watermark passes")
      stream.addData(pusher(1))       // batch 2: advances watermark
      q.processAllAvailable()
      stream.addData(pusher(2))       // batch 3: timeout fires
      q.processAllAvailable()
      val got = spark.table("days_out").where($"ticker" === "AAPL")
        .as[graft.streaming.DayBars].collect()
      assert(got.length == 1)
      assert(got(0).ds == "2024-03-05")
      assert(got(0).bars.length == 40)
      assert(got(0).bars.map(_.window_start).toSeq == day1Bars.map(_.window_start))
    } finally q.stop()
  }

  test("streaming flagship hash-matches pipeline_full at the driver-gate SF") {
    // §7.5 held to the same evidence standard as every batch operator:
    // the FULL sf0.01 corpus through StreamingPipeline must reproduce
    // the oracle-gated pipeline_full output string-for-string. The
    // sf0.01 synthetic minute grid is short enough per ticker to fit
    // one 09:30-16:30 session, so slot k maps bijectively onto
    // open + (k-1) minutes of one real trading day — the streaming
    // market-hours filter then keeps exactly the rows pipeline_full
    // sees, and islands/densify/interpolate line up 1:1. Output
    // timestamps map back ns→slot→micros before comparing; the same
    // r6 rounding pipeline_full applies is applied to the streamed rows.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val gridBase = graft.queries.EventBars.GridBaseMicros
    val stepUs = graft.queries.EventBars.StepMicros
    val mb = graft.queries.EventBars.minuteBars(spark, dir)
      .withColumn("slot",
        ((col("ws") - lit(gridBase)) / lit(stepUs)).cast("long"))
    val maxSlot = mb.agg(max("slot")).head().getLong(0)
    assert(maxSlot <= 420L,
      s"sf0.01 grid must fit one market session, maxSlot=$maxSlot")
    val evs = mb.select(col("ticker"), col("volume"), col("open"),
        col("close"), col("high"), col("low"),
        col("close").as("adj_close"),
        (lit(openNs) + (col("slot") - 1L) * lit(minNs)).as("window_start"))
      .as[RawBarEvent].collect()
    val stream = MemoryStream[RawBarEvent]
    val results = scala.collection.concurrent.TrieMap[String, Array[String]]()
    val q = StreamingPipeline.run(stream.toDS()) { (ds, df) =>
      val mid = graft.model.Schemas.indicatorColumns
        .filter(c => c != "window_start" && c != "ticker")
      val backMapped = df.select(
        (lit(gridBase) + (((col("window_start") - lit(openNs)) / lit(minNs))
          .cast("long") + 1L) * lit(stepUs)).as("window_start") +:
          mid.map(c => graft.queries.Rounding.r6(col(c)).as(c)) :+
          col("ticker"): _*)
      results(ds) = backMapped.collect().map(_.toString)
    }
    try {
      stream.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(pusher(1))
      q.processAllAvailable()
      stream.addData(pusher(2))
      q.processAllAvailable()
      assert(results.contains("2024-03-05"))
      val streamed = results("2024-03-05").sorted.toSeq
      val batch = SparkEntry.queries("pipeline_full")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(batch.nonEmpty)
      assert(streamed.size == batch.size,
        s"row counts differ: streamed=${streamed.size} batch=${batch.size}")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("after-hours bar arriving past close+slack does not kill the query") {
    // Regression: setTimeoutTimestamp(close+slack) with close+slack <=
    // current watermark throws IllegalArgumentException. An after-hours
    // bar (event-time AHEAD of the watermark but its day's close+slack
    // BEHIND it) hits exactly that; the timeout must clamp to watermark+1.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[RawBarEvent]
    val q = StreamingPipeline.assembleDays(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ah_out").start()
    try {
      // batch 1: evening bar pushes the watermark past day1 close+slack
      stream.addData(bar(
        MarketCalendar.epochNanos(day1, java.time.LocalTime.of(22, 0)), 50.0))
      q.processAllAvailable()
      // batch 2: a later after-hours bar for the SAME day — its target
      // timeout (16:35 ET) is now behind the watermark (~21:30 ET)
      stream.addData(bar(
        MarketCalendar.epochNanos(day1, java.time.LocalTime.of(23, 0)), 51.0))
      q.processAllAvailable()          // must not throw
      stream.addData(pusher(1))        // advance watermark → timeout fires
      q.processAllAvailable()
      stream.addData(pusher(2))
      q.processAllAvailable()
      // The first group may fire before the second bar arrives (its
      // timeout predates the straggler), so the day can emit in up to
      // two groups — what matters is the query SURVIVED and no bar was
      // lost (pre-fix it died with IllegalArgumentException here).
      assert(q.isActive && q.exception.isEmpty)
      val got = spark.table("ah_out").where($"ticker" === "AAPL")
        .as[graft.streaming.DayBars].collect()
      assert(got.map(_.bars.length).sum == 2)
      assert(got.forall(_.ds == "2024-03-05"))
    } finally q.stop()
  }

  test("tumbling-window aggregation finalizes on watermark and drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val agg = stream.toDS().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win_out").start()
    try {
      stream.addData(Seq((ts(0), "a", 1.0), (ts(2), "a", 2.0), (ts(7), "a", 4.0)))
      q.processAllAvailable()
      assert(spark.table("win_out").count() == 0) // nothing finalized yet
      stream.addData(Seq((ts(30), "a", 8.0)))     // watermark → minute 20
      q.processAllAvailable()
      stream.addData(Seq((ts(1), "a", 99.0)))     // LATE: behind watermark → dropped
      q.processAllAvailable()
      stream.addData(Seq((ts(45), "a", 16.0)))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .selectExpr("window.start", "n", "s").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      // first window [0,5): 2 rows sum 3 (late 99 NOT included); [5,10): 1 row
      assert(rows.take(2).toSeq == Seq(
        (ts(0).getTime, 2L, 3.0), (ts(5).getTime, 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming OHLC resample matches the batch argmin/argmax bars") {
    // the ts_resample shape incrementally: open/close as argmin/argmax
    // structs inside a watermarked tumbling window — the same partial
    // aggregates ride the streaming state store, so a bar finalizes
    // with exactly the batch semantics once the watermark passes.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, Long, String, Double, Double)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    def ohlc(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window($"ts", "5 minutes"), $"ticker")
      .agg(
        min(struct($"ts", $"seq", $"px")).as("o"),
        max(struct($"ts", $"seq", $"px")).as("c"),
        max($"px").as("high"), min($"px").as("low"),
        sum($"vol").as("volume"), count(lit(1)).as("n"))
      .select($"window.start".as("bar"), $"ticker",
        $"o.px".as("open"), $"high", $"low", $"c.px".as("close"),
        $"volume", $"n")
    val in = Seq(
      (ts(0), 1L, "A", 10.0, 100.0), (ts(1), 2L, "A", 12.0, 100.0),
      (ts(4), 3L, "A", 9.0, 100.0), (ts(2), 4L, "A", 15.0, 100.0),
      (ts(6), 5L, "A", 20.0, 100.0))
    val q = ohlc(stream.toDS().toDF("ts", "seq", "ticker", "px", "vol")
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("bars_out").start()
    try {
      stream.addData(in)
      q.processAllAvailable()
      stream.addData(Seq((ts(30), 9L, "A", 1.0, 1.0))) // advance watermark
      q.processAllAvailable()
      val streamed = spark.table("bars_out")
        .where($"bar" === ts(0))
        .select("ticker", "open", "high", "low", "close", "volume", "n")
        .collect().toSeq
      val batch = ohlc(in.toDF("ts", "seq", "ticker", "px", "vol"))
        .where($"bar" === ts(0))
        .select("ticker", "open", "high", "low", "close", "volume", "n")
        .collect().toSeq
      assert(streamed == batch)
      // open = first by (ts, seq) = 10.0; close = last = 9.0 (ts(4));
      // the out-of-order ts(2) row lands mid-bar, not as close
      assert(streamed == Seq(Row("A", 10.0, 15.0, 9.0, 9.0, 400.0, 4L)))
    } finally q.stop()
  }

  test("streaming HLL registers converge to the batch sketch") {
    // sketch_hll's register table is a pure max-aggregate — the
    // archetypal mergeable sketch: streamed per-batch maxes in Update
    // mode converge to exactly the batch registers regardless of how
    // rows split across micro-batches.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val P = graft.ext.TextOps.P
    val stream = MemoryStream[(String, Long)]
    def regs(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_type", expr(s"((uid % ${P}L) * 2654435761L) % ${P}L").as("h"))
      .select($"event_type", ($"h" % 64).as("reg"), expr("h DIV 64").as("v"))
      .withColumn("rho", when($"v" === 0, lit(25L))
        .otherwise(lit(25L) - length(bin($"v")).cast("long")))
      .groupBy("event_type", "reg").agg(max($"rho").as("m"))
    val data = (1L to 500L).map(u => (if (u % 3 == 0) "click" else "view", u))
    val q = regs(stream.toDS().toDF("event_type", "uid"))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hll_out").start()
    try {
      data.grouped(120).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      // Update mode emits every register revision; the final state is
      // the max per key (register maxes only grow)
      val streamed = spark.table("hll_out")
        .groupBy("event_type", "reg").agg(max($"m").as("m"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = regs(data.toDF("event_type", "uid"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming session_window matches the batch sessionization") {
    // agg_sessions' native session_window runs identically under
    // Structured Streaming: sessions finalize when the watermark
    // passes their gap-extended close, with batch-equal bounds/counts.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    def sess(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(session_window($"ts", "5 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("s"), $"session_window.end".as("e"),
        $"user_id", $"n")
    // user 1: two sessions (gap 10 > 5); user 2: one session
    val in = Seq((ts(0), 1L), (ts(2), 1L), (ts(12), 1L), (ts(3), 2L))
    val q = sess(stream.toDS().toDF("ts", "user_id")
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out").start()
    try {
      stream.addData(in)
      q.processAllAvailable()
      stream.addData(Seq((ts(60), 99L))) // advance watermark past all
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .where($"user_id" =!= 99L).collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = sess(in.toDF("ts", "user_id")).collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
      assert(streamed.count(_._3 == 1L) == 2) // the 10-min gap split user 1
    } finally q.stop()
  }

  test("streaming funnel advances per-user state across micro-batches") {
    // Incremental agg_funnel: the same at-or-after step semantics the
    // batch query (and its DuckDB oracle) pin, held as 3 longs of state
    // per user — never an event list.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.{FunnelAdvance, FunnelEvent}
    import spark.implicits._
    val stream = MemoryStream[FunnelEvent]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val q = StreamingFunnel(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_out").start()
    try {
      // batch 1: u1 view+click (order scrambled within the batch),
      // u2 view AFTER a too-early purchase
      stream.addData(
        FunnelEvent(ts(2), 1L, "click"), FunnelEvent(ts(1), 1L, "view"),
        FunnelEvent(ts(4), 2L, "purchase"), FunnelEvent(ts(5), 2L, "view"))
      q.processAllAvailable()
      // batch 2: u1 completes; u2's purchase precedes its click → stuck at 2
      stream.addData(
        FunnelEvent(ts(3), 1L, "purchase"), // >= click@2 → step 3
        FunnelEvent(ts(6), 2L, "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").as[FunnelAdvance].collect()
      val byUser = rows.groupBy(_.uid).view.mapValues(_.map(_.steps).sorted.toSeq)
      assert(byUser(1L) == Seq(1, 2, 3), s"u1: ${rows.toSeq}")
      assert(byUser(2L) == Seq(1, 2), s"u2: ${rows.toSeq}")
      // u2's purchase@4 arrived before its click@6 existed — a second
      // purchase AT-or-after the click still completes the funnel
      stream.addData(FunnelEvent(ts(7), 2L, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").as[FunnelAdvance].collect()
        .count(r => r.uid == 2L && r.steps == 3) == 1)
    } finally q.stop()
  }

  test("stream-stream interval join bounds both buffers with watermarks") {
    // The streaming face of the as-of/range-join family: clicks join
    // purchases of the same user within a 10-minute lookback. The
    // time-range predicate lets Spark derive state watermarks for BOTH
    // sides, so neither buffer grows unboundedly — the property that
    // makes the join runnable on an infinite stream.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Double)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val c = clicks.toDS().toDF("cts", "uid", "click_v")
      .withWatermark("cts", "10 minutes")
    val p = purchases.toDS().toDF("pts", "puid", "purchase_v")
      .withWatermark("pts", "10 minutes")
    val joined = c.join(p, expr(
      "uid = puid AND pts BETWEEN cts - INTERVAL 10 MINUTES AND cts"))
      .select($"uid", $"cts", $"purchase_v")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj_out").start()
    try {
      purchases.addData((ts(0), 1L, 5.0))
      clicks.addData((ts(5), 1L, 1.0))   // 5 min after purchase → match
      clicks.addData((ts(20), 1L, 2.0))  // purchase@0 outside lookback → no row
      purchases.addData((ts(18), 2L, 7.0))
      clicks.addData((ts(19), 2L, 3.0))  // other user isolated → match
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2)))
        .toSet
      assert(rows == Set((1L, ts(5).getTime, 5.0), (2L, ts(19).getTime, 7.0)))
    } finally q.stop()
  }

  test("streaming exact-dedup drops in-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val deduped = stream.toDS().toDF("ts", "doc")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      stream.addData(Seq((ts(0), "a"), (ts(1), "a"), (ts(2), "b")))
      q.processAllAvailable()
      stream.addData(Seq((ts(3), "a"), (ts(4), "c")))
      q.processAllAvailable()
      val docs = spark.table("dedup_out").collect().map(_.getString(1)).sorted
      assert(docs.toSeq == Seq("a", "b", "c")) // duplicate 'a's suppressed
    } finally q.stop()
  }

  test("streaming near-dup dedup: native simhash key + watermark state") {
    // The batch near-dup family composes with streaming: graft_simhash
    // is an ordinary codegen'd expression, so keying
    // dropDuplicatesWithinWatermark by the signature dedups
    // same-content (and bit-identical-signature near-dup) docs with
    // watermark-bounded state — the streaming twin of dedup_simhash.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val deduped = stream.toDS().toDF("ts", "text")
      .withColumn("sig", org.apache.spark.sql.functions.expr(
        "graft_simhash(graft_word_hashes(split(text, ' ')), 16)"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("sig")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("simdedup_out").start()
    try {
      stream.addData(Seq(
        (ts(0), "the quick brown fox jumps over the dog"),
        (ts(1), "the quick brown fox jumps over the dog"),   // exact dup
        (ts(2), "completely different content about markets and data")))
      q.processAllAvailable()
      stream.addData(Seq(
        (ts(3), "the quick brown fox jumps over the dog"),   // still dup
        (ts(4), "yet another unrelated document entirely distinct")))
      q.processAllAvailable()
      val texts = spark.table("simdedup_out").collect()
        .map(_.getAs[String]("text")).sorted
      assert(texts.length == 3 && texts.distinct.length == 3)
    } finally q.stop()
  }

  test("streaming LSH probe against a static band index matches batch") {
    // The streaming twin of dedup_incremental: arriving docs probe the
    // persisted corpus band index via stream-static joins. The emitted
    // (doc, corpus, jaccard) set must equal the BATCH evaluation of
    // the same probe over the same index, and a re-arrival within the
    // watermark horizon must be suppressed by the pair-keyed state.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, expr}
    graft.functions.GraftFunctions.register(spark)
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    val corpus = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    val (bandIndex, sigs) = graft.streaming.StreamingLshDedup.buildIndex(corpus)

    val arriving = Seq(
      (ts(0), 100L, "alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3"), // dup of 3
      (ts(1), 101L, "totally unrelated words about markets and liquidity"),   // no match
      (ts(2), 102L, "alpha7 beta7 gamma7 delta7 epsilon7 zeta7 eta7 theta7")) // dup of 7
    val rearrival = Seq(
      (ts(3), 100L, "alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3")) // suppressed

    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = graft.streaming.StreamingLshDedup(
      stream.toDS().toDF("ts", "doc_id", "text"), bandIndex, sigs)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lsh_probe_out").start()
    try {
      stream.addData(arriving)
      q.processAllAvailable()
      stream.addData(rearrival)
      q.processAllAvailable()
      val got = spark.table("lsh_probe_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet

      // batch reference: the identical probe expressed over a batch
      // frame of the same arrivals (re-arrival adds no new pair;
      // dropDuplicatesWithinWatermark itself needs a stream, so the
      // batch side dedups pairs with a plain distinct)
      val batchRef = graft.queries.ExtCommon.lshDocSigs(
          (arriving ++ rearrival).toDF("ts", "doc_id", "text")
            .dropDuplicates("doc_id"))
        .select(col("doc_id"), col("shd").as("shq"),
          explode(col("bks")).as("bk"))
        .join(bandIndex, Seq("bk"))
        .filter(col("doc_id") =!= col("corpus_id"))
        .join(sigs, Seq("corpus_id"))
        .withColumn("jaccard", graft.queries.Rounding.r6(expr(
          "CAST(size(array_intersect(shq, shc)) AS DOUBLE)" +
            " / CAST(size(array_union(shq, shc)) AS DOUBLE)")))
        .filter(col("jaccard") >= 0.8)
        .select("doc_id", "corpus_id", "jaccard").distinct()
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet
      assert(got == batchRef, s"stream=$got batch=$batchRef")
      assert(got.map(_._1) == Set(100L, 102L))
      assert(got.forall(_._3 == 1.0)) // exact duplicates: jaccard 1
    } finally q.stop()
  }

  test("streaming ANN probe against a static trained IVF index matches batch") {
    // The vector twin of the LSH probe: arriving embeddings quantize
    // to a cell with the stateless centroid-literal fold and probe the
    // persisted cell-keyed corpus via a stream-static join. The
    // emitted (q_id, n_id, sim) set must equal the BATCH evaluation
    // that assigns cells with the window-function argmax (cross-
    // validating the fold's tie-breaking against the batch kernel),
    // and a re-arrival within the watermark horizon is suppressed.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    // 20 corpus vectors in 4 groups of 5 (group = i / 5, direction
    // e_group + small per-id tilt); the % 4 training sample {0,4,8,
    // 12,16} covers every group.
    def vec(g: Int, tilt: Double): Seq[Double] = {
      val v = Array.fill(4)(0.0); v(g) = 1.0; v((g + 1) % 4) += tilt; v.toSeq
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i / 5, 0.02 * i)))
      .toDF("vec_id", "v")
    val (cents, cells) =
      graft.streaming.StreamingAnnProbe.buildIndex(corpus)

    val arriving = Seq(
      (ts(0), 100L, vec(0, 0.01)),          // near group 0
      (ts(1), 101L, Seq(0.5, 0.5, 0.5, 0.5)), // cos 0.5-ish to all: below tau
      (ts(2), 102L, vec(2, 0.03)))          // near group 2
    val rearrival = Seq((ts(3), 100L, vec(0, 0.01)))

    val stream = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val out = graft.streaming.StreamingAnnProbe(
      stream.toDS().toDF("ts", "q_id", "v"), cents, cells)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ann_probe_out").start()
    try {
      stream.addData(arriving)
      q.processAllAvailable()
      stream.addData(rearrival)
      q.processAllAvailable()
      val got = spark.table("ann_probe_out").collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
          r.getAs[Double]("sim"))).toSet

      // batch reference: window-argmax cell assignment (the batch
      // kernel's shape) + the same cell probe, pairs deduped plainly
      val centsDf = cents.toSeq
        .map(c => (c.cId, c.cv.toSeq, c.cnrm)).toDF("c_id", "cv", "cnrm")
      val batchRef = (arriving ++ rearrival).toDF("ts", "q_id", "v")
        .dropDuplicates("q_id")
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
        .crossJoin(broadcast(centsDf))
        .withColumn("csim", expr(
          "try_divide(graft_dot(v, cv), nrm * cnrm)"))
        .withColumn("crank", row_number.over(
          Window.partitionBy("q_id").orderBy(col("csim").desc, col("c_id"))))
        .filter(col("crank") === 1)
        .withColumnRenamed("c_id", "cell")
        .join(cells, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", expr("try_divide(graft_dot(v, nv), nrm * nnrm)"))
        .filter(col("sim") >= 0.8)
        .select(col("q_id"), col("n_id"),
          graft.queries.Rounding.r6(col("sim")).as("sim"))
        .distinct().collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
          r.getAs[Double]("sim"))).toSet
      assert(got == batchRef, s"stream=$got batch=$batchRef")
      assert(got.map(_._1) == Set(100L, 102L)) // 101 below threshold
      assert(got.filter(_._1 == 100L).forall(p => p._2 < 5L))
      assert(got.filter(_._1 == 102L).forall(p => p._2 >= 10L && p._2 < 15L))
      assert(got.count(_._1 == 100L) >= 1 && got.count(_._1 == 102L) >= 1)
    } finally q.stop()
  }

  test("streaming quantile sketch converges to the batch bottom-K sample") {
    // The mergeable bottom-K sketch as mapGroupsWithState state: after
    // ANY micro-batch interleaving, the final per-group estimates must
    // equal the reference computed from the same bottom-K formula over
    // all rows at once (the merge-invariance EngineProps proves for
    // the batch sketch, exercised here across state merges). Two runs
    // with different batch splits must converge identically.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val K = 16
    def h(id: Long): Long = ((id % 1000003L) * 2654435761L) % 1000003L
    val data = (0 until 200).map { i =>
      val g = if (i % 2 == 0) "A" else "B"
      (g, h(i.toLong), i.toLong, math.sin(i * 0.7) * 50 + i % 13)
    }
    // reference: bottom-K by (h, id) per group, integer-ranked estimates
    val want = data.groupBy(_._1).map { case (g, rows) =>
      val sample = rows.map(r => (r._2, r._3, r._4))
        .sortBy(t => (t._1, t._2)).take(K)
      val (m, es) = graft.streaming.StreamingQuantile.estimates(sample)
      g -> ((m, es(0), es(1), es(2), es(3)))
    }
    def run(name: String, splits: Seq[Seq[(String, Long, Long, Double)]])
        : Map[String, (Long, Double, Double, Double, Double)] = {
      val stream = MemoryStream[(String, Long, Long, Double)]
      val out = graft.streaming.StreamingQuantile(
        stream.toDS().toDF("g", "h", "id", "v"), K)
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var prev = 0
        var last = Map.empty[String, (Long, Double, Double, Double, Double)]
        splits.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          last = last ++ rows.map(r => r.getString(0) ->
            ((r.getLong(1), r.getDouble(2), r.getDouble(3),
              r.getDouble(4), r.getDouble(5)))).toMap
        }
        last
      } finally q.stop()
    }
    val shuffled = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(data)
    val got1 = run("squant1", Seq(shuffled.take(70),
      shuffled.slice(70, 140), shuffled.drop(140)))
    val got2 = run("squant2", Seq(data.drop(120), data.take(120)))
    assert(got1 == want, s"split1 diverged: $got1 vs $want")
    assert(got2 == want, "split2 diverged")
  }

  test("streaming CMS heavy-hitter estimates are micro-batch-split invariant") {
    // Counter addition commutes, so the final watchlist estimates must
    // be IDENTICAL under any micro-batch interleaving and equal the
    // hand-computed batch sketch over all rows at once — plus the CMS
    // one-sided guarantee (estimates only overcount the exact count).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (d, w) = (3, 1024)
    val rng = new java.util.Random(11)
    val noise = Seq.fill(400)(("A", math.abs(rng.nextLong()) % 100000L))
    val heavy = Seq.fill(150)(("A", 12345L)) ++ Seq.fill(60)(("A", 777L))
    val data = scala.util.Random.javaRandomToRandom(new java.util.Random(3))
      .shuffle(noise ++ heavy)
    val probes = Seq(("heavy", 12345L), ("mid", 777L), ("absent", 31L))
    // batch reference: exact d×w cells from all rows, min over rows
    val want = probes.map { case (tok, h) =>
      tok -> (0 until d).map { j =>
        val c = graft.streaming.StreamingCms.cellOf(h, j, w)
        data.count(r => graft.streaming.StreamingCms.cellOf(r._2, j, w) == c)
          .toLong
      }.min
    }.toMap
    def run(name: String, splits: Seq[Seq[(String, Long)]]): Map[String, Long] = {
      val stream = MemoryStream[(String, Long)]
      val out = graft.streaming.StreamingCms(
        stream.toDS().toDF("g", "h"), probes, d, w)
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var last = Map.empty[String, Long]
        var prev = 0
        splits.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          last = last ++ rows.map(r => r.getString(1) -> r.getLong(2)).toMap
        }
        last
      } finally q.stop()
    }
    val got1 = run("scms1", Seq(data.take(100), data.slice(100, 430),
      data.drop(430)))
    val got2 = run("scms2", Seq(data.drop(500), data.take(500)))
    assert(got1 == want, s"split1 diverged: $got1 vs $want")
    assert(got2 == want, "split2 diverged")
    val exact = Map("heavy" -> 150L, "mid" -> 60L, "absent" -> 0L)
    exact.foreach { case (tok, n) =>
      assert(got1(tok) >= n, s"$tok undercounted: ${got1(tok)} < $n")
    }
  }

  test("streaming HLL shard-merge is split-invariant and re-delivery idempotent") {
    // Register-wise max is commutative, associative AND idempotent, so
    // the final per-group estimate must equal the batch formula over
    // all rows at once under ANY micro-batch interleaving — and must
    // not move when a whole batch is blindly re-delivered (the
    // guarantee CMS counters cannot give).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def h(id: Long): Long = ((id % 1000003L) * 2654435761L) % 1000003L
    val rng = new java.util.Random(19)
    val data = (0 until 600).map { i =>
      val g = if (i % 3 == 0) "A" else "B"
      (g, h(math.abs(rng.nextLong()) % 5000L)) // repeats guaranteed
    }
    // batch reference: same register/rho/estimate formulas over all rows
    val want = data.groupBy(_._1).map { case (g, rows) =>
      val regs = rows.groupBy(r => (r._2 % 64L).toInt)
        .map { case (reg, rs) =>
          reg -> rs.map(r => graft.streaming.StreamingHll.rhoOf(r._2)).max
        }
      g -> ((regs.size, graft.streaming.StreamingHll.estimate(regs)))
    }
    def run(name: String, splits: Seq[Seq[(String, Long)]])
        : Map[String, (Int, Double)] = {
      val stream = MemoryStream[(String, Long)]
      val out = graft.streaming.StreamingHll(stream.toDS().toDF("g", "h"))
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var last = Map.empty[String, (Int, Double)]
        var prev = 0
        splits.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          last = last ++ rows.map(r =>
            r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
        }
        last
      } finally q.stop()
    }
    val got1 = run("shll1", Seq(data.take(200), data.slice(200, 450),
      data.drop(450)))
    val got2 = run("shll2", Seq(data.drop(300), data.take(300)))
    // re-delivery: the middle batch replays verbatim — estimates frozen
    val got3 = run("shll3", Seq(data.take(300), data.slice(100, 300),
      data.drop(300)))
    assert(got1 == want, s"split1 diverged: $got1 vs $want")
    assert(got2 == want, "split2 diverged")
    assert(got3 == want, "re-delivered batch moved a register")
  }

  test("streaming MMD drift monitor is split-invariant and detects a shift") {
    // Moment sums are commutative/associative longs: after all rows
    // arrive, every group's MMD² against the static reference must
    // equal the same formula over all rows at once, under any
    // micro-batch interleaving — and the group fed a +0.25 mean shift
    // must sit well above the same-distribution group's floor.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingMmd
    val dim = 8
    def vec(seed: Int, shift: Double): Array[Double] =
      Array.tabulate(dim)(k =>
        math.sin(seed * 0.37 + k * 1.13) * 0.5 + (if (k == 0) shift else 0.0))
    val ref = StreamingMmd.momentsOf((0 until 300).map(vec(_, 0.0)))
    val data = (300 until 500).map(i => ("null_g", vec(i, 0.0))) ++
      (300 until 500).map(i => ("shift_g", vec(i, 0.25)))
    val want = data.groupBy(_._1).map { case (g, rows) =>
      val m = StreamingMmd.momentsOf(rows.map(_._2))
      g -> StreamingMmd.mmd2(m.sums, m.n, ref.sums, ref.n)
    }
    def run(name: String, splits: Seq[Seq[(String, Array[Double])]])
        : Map[String, Double] = {
      val stream = MemoryStream[(String, Array[Double])]
      val out = StreamingMmd(stream.toDS().toDF("g", "v"), ref)
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var last = Map.empty[String, Double]
        var prev = 0
        splits.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          last = last ++ rows.map(r => r.getString(0) -> r.getDouble(2)).toMap
        }
        last
      } finally q.stop()
    }
    val shuffled = scala.util.Random.javaRandomToRandom(
      new java.util.Random(23)).shuffle(data)
    val got1 = run("smmd1", Seq(shuffled.take(130),
      shuffled.slice(130, 290), shuffled.drop(290)))
    val got2 = run("smmd2", Seq(data.drop(250), data.take(250)))
    assert(got1 == want, s"split1 diverged: $got1 vs $want")
    assert(got2 == want, "split2 diverged")
    assert(got1("shift_g") > 4.0 * got1("null_g"),
      s"shift not detected: ${got1("shift_g")} vs floor ${got1("null_g")}")
  }

  test("streaming CDC compaction matches batch dedup_latest semantics") {
    // The incremental face of dedup_latest: the same argmax-struct
    // aggregate runs as a streaming Update-mode agg — per-key state is
    // one struct, batches arrive scrambled, and the final table equals
    // the batch compaction of the full log.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stream = MemoryStream[(Long, String, Long, Double)]
    val compacted = stream.toDS()
      .toDF("user_id", "event_type", "t", "value")
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("t"), col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.t").as("t"), col("m.value").as("value"))
    val q = compacted.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cdc_compact").start()
    try {
      // out-of-order arrivals: the newest version (t=30) lands first
      stream.addData(Seq((1L, "click", 30L, 3.0), (1L, "click", 10L, 1.0),
        (2L, "view", 5L, 9.9)))
      q.processAllAvailable()
      stream.addData(Seq((1L, "click", 20L, 2.0), (2L, "view", 50L, 0.5)))
      q.processAllAvailable()
      val got = spark.table("cdc_compact").as[(Long, String, Long, Double)]
        .collect().toSet
      assert(got == Set((1L, "click", 30L, 3.0), (2L, "view", 50L, 0.5)))
    } finally q.stop()
  }

  test("streaming query resumes from checkpoint without re-emitting days") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val stream = MemoryStream[RawBarEvent]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.DayBars]()
    def start() = StreamingPipeline.assembleDays(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.DayBars],
          _: Long) => b.collect().foreach(emitted.add); () }
      .start()
    var q = start()
    try {
      stream.addData(day1Bars)
      q.processAllAvailable()
      q.stop() // crash/redeploy point — state lives in the checkpoint
      q = start()
      stream.addData(pusher(1))
      q.processAllAvailable()
      stream.addData(pusher(2))
      q.processAllAvailable()
      val got = emitted.toArray(Array.empty[graft.streaming.DayBars])
        .filter(_.ticker == "AAPL")
      assert(got.length == 1, s"day must emit exactly once, got ${got.length}")
      assert(got(0).bars.length == 40)
    } finally q.stop()
  }

  test("streaming output is bit-identical to the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[RawBarEvent]
    val results = scala.collection.concurrent.TrieMap[String, Array[Row]]()
    val q = StreamingPipeline.run(stream.toDS()) { (ds, df) =>
      results(ds) = df.collect()
    }
    try {
      stream.addData(day1Bars)
      q.processAllAvailable()
      stream.addData(pusher(1))
      q.processAllAvailable()
      stream.addData(pusher(2))
      q.processAllAvailable()
      assert(results.contains("2024-03-05"))
      val streamed = results("2024-03-05").map(_.toString).sorted
      val static = spark.createDataFrame(
        java.util.Arrays.asList(day1Bars.map(b => Row(b.ticker, b.volume,
          b.open, b.close, b.high, b.low, b.adj_close, b.window_start)): _*),
        Schemas.rawBars)
      val batch = IndicatorPipeline.run(static, day1).collect()
        .map(_.toString).sorted
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("bars re-delivered before the watermark are kept once: output as if delivered once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[RawBarEvent]
    val results = scala.collection.concurrent.TrieMap[String, Array[Row]]()
    val q = StreamingPipeline.run(stream.toDS()) { (ds, df) =>
      results(ds) = df.collect()
    }
    try {
      stream.addData(day1Bars :+ day1Bars(5))   // a copy inside the same micro-batch
      q.processAllAvailable()
      stream.addData(day1Bars.slice(10, 20))   // copies in a later micro-batch
      q.processAllAvailable()
      stream.addData(pusher(1))
      q.processAllAvailable()
      stream.addData(pusher(2))
      q.processAllAvailable()
      val streamed = results("2024-03-05").map(_.toString).sorted
      val once = spark.createDataFrame(
        java.util.Arrays.asList(day1Bars.map(b => Row(b.ticker, b.volume,
          b.open, b.close, b.high, b.low, b.adj_close, b.window_start)): _*),
        Schemas.rawBars)
      val batch = IndicatorPipeline.run(once, day1).collect().map(_.toString).sorted
      assert(batch.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming dedup: one row per key within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[StreamingSpec.StreamDoc]
    val q = graft.streaming.StreamingDedup(
        stream.toDS().toDF(), "ts", "10 minutes", Seq("h"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    def doc(sec: Long, h: Long) = StreamingSpec.StreamDoc(
      java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2024, 3, 5, 10, 0, 0).plusSeconds(sec)), h)
    try {
      // same key three times inside the horizon (two batches) → 1 row
      stream.addData(doc(0, 1L), doc(1, 1L), doc(2, 2L))
      q.processAllAvailable()
      stream.addData(doc(30, 1L))
      q.processAllAvailable()
      val mid = spark.table("dedup_out").as[StreamingSpec.StreamDoc]
        .collect()
      assert(mid.count(_.h == 1L) == 1)
      assert(mid.count(_.h == 2L) == 1)
      // push the watermark far past the horizon → state evicted → the
      // key is admitted again (the bounded-state trade, not a leak)
      stream.addData(doc(3600, 3L))
      q.processAllAvailable()
      stream.addData(doc(3601, 1L))
      q.processAllAvailable()
      val fin = spark.table("dedup_out").as[StreamingSpec.StreamDoc]
        .collect()
      assert(fin.count(_.h == 1L) == 2)
    } finally q.stop()
  }

  test("session_window stream emits closed sessions bit-equal to the batch query") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    // user 1: two sessions ([0,10]+gap and [50]+gap); user 2: one.
    val data = Seq(
      (ts(0), 1L, 1.0), (ts(10), 1L, 2.0), (ts(50), 1L, 4.0),
      (ts(5), 2L, 8.0))
    val q = graft.streaming.StreamingSessions(
      stream.toDS().toDF("ts", "user_id", "value"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out").start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0,
        "no session may emit before the watermark passes its close")
      stream.addData(Seq((ts(600), 99L, 0.0))) // watermark → min 540
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .selectExpr("user_id", "unix_millis(session_start) AS s",
          "unix_millis(session_end) AS e", "n_events", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().sorted.toSeq
      // Batch parity: the SAME session_window aggregation over the same
      // rows (pusher excluded — its session never closed, so Append
      // never emitted it).
      val batch = data.toDF("ts", "user_id", "value")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
        .selectExpr("user_id", "unix_millis(session_window.start) AS s",
          "unix_millis(session_window.end) AS e", "n_events", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().sorted.toSeq
      assert(streamed == batch)
      assert(streamed.map(t => (t._1, t._2)).toSet == Set(
        (1L, ts(0).getTime), (1L, ts(50).getTime), (2L, ts(5).getTime)))
    } finally q.stop()
  }

  test("streaming anomaly flags match the sequential fold across batch splits") {
    import graft.streaming.StreamingAnomaly
    import graft.streaming.StreamingAnomaly.{EwState, Obs}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(1709650800000L + min * 60000L)
    // steady series with one 10x spike per key past warm-up
    def series(key: String, spikeAt: Int): Seq[Obs] =
      (0 until 30).map { i =>
        val x = if (i == spikeAt) 500.0
          else 50.0 + math.sin(i * 0.7) * 2.0
        Obs(ts(i), key, x)
      }
    val data = series("a", 20) ++ series("b", 25)
    val stream = MemoryStream[Obs]
    val q = StreamingAnomaly(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("anom_out").start()
    try {
      // split mid-series: state must carry across micro-batches
      val (b1, b2) = data.partition(_.ts.getTime < ts(15).getTime)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      val got = spark.table("anom_out")
        .selectExpr("key", "unix_millis(at)", "x", "mean", "score")
        .as[(String, Long, Double, Double, Double)].collect().sorted.toSeq
      // sequential reference: the SAME advance() folded per key
      val want = data.groupBy(_.key).toSeq.flatMap { case (k, obs) =>
        var st = EwState(0.0, 0.0, 0L)
        obs.sortBy(_.ts.getTime).flatMap { o =>
          val (f, stN) = StreamingAnomaly.advance(st, o.ts, o.x)
          st = stN
          f.map(fl => (k, o.ts.getTime, fl.x, fl.mean, fl.score))
        }
      }.sorted
      assert(got == want)
      assert(got.map(t => (t._1, t._2)).toSet ==
        Set(("a", ts(20).getTime), ("b", ts(25).getTime)),
        "exactly the injected spikes must flag")
    } finally q.stop()
  }

  test("streaming SpaceSaving top-k: guarantees hold, fold is deterministic") {
    // SpaceSaving is order-dependent (unlike CMS/HLL), so the contract
    // is: (a) the per-batch-sorted fold replays EXACTLY against a
    // driver-side reference over the same batch split; (b) the ICDT'05
    // guarantees hold vs exact counts -- n_est >= exact >= n_est - err
    // for every tracked key, and every key with exact > n/m is in the
    // emitted table.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (m, k) = (8, 5)
    val rng = new java.util.Random(19)
    // skewed: two clear heavies + a long noise tail over 64 keys
    val noise = Seq.fill(300)(math.abs(rng.nextLong()) % 64L)
    val data = scala.util.Random.javaRandomToRandom(new java.util.Random(5))
      .shuffle(noise ++ Seq.fill(120)(7L) ++ Seq.fill(80)(41L))
      .zipWithIndex.map { case (h, i) => ("A", i.toLong, h) }
    val exact = data.groupBy(_._3).map { case (h, rs) => h -> rs.size.toLong }
    def run(name: String, splits: Seq[Seq[(String, Long, Long)]])
        : Seq[(Long, Long, Long, Long)] = {
      val stream = MemoryStream[(String, Long, Long)]
      val out = graft.streaming.StreamingTopK(
        stream.toDS().toDF("g", "seq", "h"), m, k)
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var last = Seq.empty[(Long, Long, Long, Long)]
        var prev = 0
        splits.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          last = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSeq.sortBy(_._4)
        }
        last
      } finally q.stop()
    }
    val splits = Seq(data.take(100), data.slice(100, 350), data.drop(350))
    val got = run("stopk1", splits)
    // (a) reference fold: same batch split, same within-batch sort
    var ref = Map.empty[Long, (Long, Long)]
    splits.foreach(_.sortBy(r => (r._2, r._3))
      .foreach(r => ref = graft.streaming.StreamingTopK.step(ref, r._3, m)))
    val want = ref.toSeq.map { case (h, (c, e)) => (h, c, e) }
      .sortBy { case (h, c, _) => (-c, h) }.take(k).zipWithIndex
      .map { case ((h, c, e), i) => (h, c, e, i + 1L) }
    assert(got == want, s"fold diverged from reference: $got vs $want")
    assert(run("stopk2", splits) == got, "same split must replay identically")
    // (b) the SpaceSaving guarantees vs exact counts
    got.foreach { case (h, est, err, _) =>
      val ex = exact.getOrElse(h, 0L)
      assert(est >= ex, s"key $h undercounted: $est < $ex")
      assert(est - err <= ex, s"key $h: est-err ${est - err} > exact $ex")
    }
    val thresh = data.size.toLong / m
    val trackedAll = ref.keySet
    exact.filter(_._2 > thresh).keys.foreach { h =>
      assert(trackedAll.contains(h), s"frequent key $h missing from table")
    }
    // the two true heavies must headline the emitted top-k
    assert(got.take(2).map(_._1).toSet == Set(7L, 41L))
  }

  test("stream-stream interval join: matches in-window, drops past-watermark") {
    // B1 seeds two views and one in-window purchase (u1 matches); B2
    // advances BOTH watermarks an hour (and matches u99 at zero
    // latency); B3 delivers u2's purchase with event time far below
    // the watermark — a batch join of the same rows WOULD match it,
    // the stream must not: that dropped row is the state-cleanup
    // contract (u2's buffered view is evictable once the watermark
    // passed v_ts + 10 min).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 3, 5, 10, 0).plusMinutes(min))
    val vs = MemoryStream[(Long, java.sql.Timestamp)]
    val ps = MemoryStream[(Long, java.sql.Timestamp)]
    val out = graft.streaming.StreamingMatch(
      vs.toDS().toDF("user_id", "ts"), ps.toDS().toDF("user_id", "ts"))
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("smatch").start()
    try {
      vs.addData(Seq((1L, ts(0)), (2L, ts(0))))
      ps.addData(Seq((1L, ts(2))))
      q.processAllAvailable()
      vs.addData(Seq((99L, ts(60))))
      ps.addData(Seq((99L, ts(60))))
      q.processAllAvailable()
      ps.addData(Seq((2L, ts(1)))) // late: watermark is now ~10:55
      q.processAllAvailable()
      val got = spark.table("smatch").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
      assert(got == Set(
        (1L, ts(0), ts(2), 120000000L),
        (99L, ts(60), ts(60), 0L)), got)
      // the batch join of the SAME rows includes u2 — the stream
      // dropping exactly that row is the watermark semantics under test
      val bv = Seq((1L, ts(0)), (2L, ts(0)), (99L, ts(60)))
        .toDF("user_id", "ts")
      val bp = Seq((1L, ts(2)), (99L, ts(60)), (2L, ts(1)))
        .toDF("user_id", "ts")
      val batch = bv.as("v").join(bp.as("p"),
        org.apache.spark.sql.functions.expr(
          "v.user_id = p.user_id AND p.ts >= v.ts" +
            " AND p.ts <= v.ts + INTERVAL 10 MINUTES")).count()
      assert(batch == 3L, s"batch reference should match all 3, got $batch")
    } finally q.stop()
  }

  test("streaming SRM: always-valid p is monotone, replay deterministic") {
    // Two surfaces: 'bal' alternates arms (designed 50/50 — must never
    // trigger), 'skew' runs 9:1 (a real mismatch — must trigger and,
    // by the always-valid contract, STAY triggered). The fold must
    // replay exactly against a driver-side reference over the same
    // batch split, and p_min must be non-increasing batch over batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bal = (0 until 400).map(i => ("bal", i % 2))
    val skew = (0 until 400).map(i => ("skew", if (i % 10 == 0) 0 else 1))
    val data = bal ++ skew
    val splits = Seq(data.take(200), data.slice(200, 500), data.drop(500))
    def run(name: String): Seq[Seq[(String, Long, Long, Double, Double)]] = {
      val stream = MemoryStream[(String, Int)]
      val out = graft.streaming.StreamingSrm(stream.toDS().toDF("g", "arm"))
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var prev = 0
        splits.map { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(4), r.getDouble(5))).toSeq.sortBy(_._1)
        }
      } finally q.stop()
    }
    val got = run("srm1")
    assert(run("srm2") == got, "same split must replay identically")
    // driver-side reference: counts + mixtureP over the same splits
    var ref = Map.empty[String, (Long, Long, Double)]
    val want = splits.map { b =>
      b.groupBy(_._1).foreach { case (g, rs) =>
        val (na0, nb0, p0) = ref.getOrElse(g, (0L, 0L, 1.0))
        val na = na0 + rs.count(_._2 == 0)
        val nb = nb0 + rs.count(_._2 != 0)
        val p = math.min(p0, graft.streaming.StreamingSrm.mixtureP(na, nb))
        ref = ref.updated(g, (na, nb, p))
      }
      b.map(_._1).distinct.sorted.map { g =>
        val (na, nb, p) = ref(g)
        (g, na, nb, graft.streaming.StreamingSrm.mixtureP(na, nb), p)
      }
    }
    assert(got == want, s"fold diverged from reference:\n$got\nvs\n$want")
    // p_min monotone per group across batches
    val byG = got.flatten.groupBy(_._1).view.mapValues(_.map(_._5))
    byG.foreach { case (g, ps) =>
      assert(ps == ps.scanLeft(1.0)(math.min).tail, s"$g p_min not monotone")
    }
    // balanced surface never triggers; skewed triggers and stays
    assert(byG("bal").forall(_ >= 0.05), "balanced surface false-triggered")
    assert(byG("skew").last < 0.05, "9:1 mismatch not flagged")
    assert(byG("skew").dropWhile(_ >= 0.05).forall(_ < 0.05),
      "always-valid decision must never un-trigger")
  }

  test("streaming k-anonymity monitor: bounded state, split-invariant, monotone safe") {
    // Cells: 'safe' sees 8 distinct users (crosses k=5 mid-stream and
    // must STAY safe), 'small' sees 3 distinct users re-delivered many
    // times (must never flip and must not grow state past 3 ids).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val data = (0 until 8).map(i => ("safe", i.toLong)) ++
      (0 until 30).map(i => ("small", (i % 3).toLong))
    def run(name: String, splits: Seq[Seq[(String, Long)]])
        : Seq[Seq[(String, Long, Boolean)]] = {
      val stream = MemoryStream[(String, Long)]
      val out = graft.streaming.StreamingKanon(
        stream.toDS().toDF("cell", "user_id"))
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        var prev = 0
        splits.map { b =>
          stream.addData(b)
          q.processAllAvailable()
          val rows = spark.table(name).collect().drop(prev)
          prev += rows.length
          rows.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
            .toSeq.sortBy(_._1)
        }
      } finally q.stop()
    }
    val splitA = Seq(data.take(5), data.slice(5, 20), data.drop(20))
    val splitB = Seq(data.take(11), data.drop(11))
    val gotA = run("kan1", splitA)
    // replay determinism on the same split
    assert(run("kan2", splitA) == gotA)
    // n_seen never exceeds k (the state bound), safe is monotone
    val byCell = gotA.flatten.groupBy(_._1)
    byCell.values.foreach { rows =>
      assert(rows.forall(_._2 <= graft.streaming.StreamingKanon.K))
      val flags = rows.map(_._3)
      assert(flags == flags.scanLeft(false)(_ || _).tail,
        s"safe un-flipped: $flags")
    }
    // the FINAL standing is split-invariant and matches the batch rule
    val finalA = gotA.flatten.groupBy(_._1).view.mapValues(_.last).toMap
    val finalB = run("kan3", splitB).flatten.groupBy(_._1)
      .view.mapValues(_.last).toMap
    assert(finalA == finalB, s"$finalA vs $finalB")
    assert(finalA("safe") == (("safe", 5L, true)))
    assert(finalA("small") == (("small", 3L, false)))
  }

  test("streaming occupancy monitor matches batch counts, flags split cells") {
    // The maintenance-trigger face: per-cell running counts over the
    // stateless quantizer must (1) end split-invariant and equal to
    // the batch occupancy of the same rows, (2) flag needs_split
    // exactly when the running count crosses the threshold, monotone
    // thereafter, and (3) never hold more than one long per cell.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    def vec(g: Int, tilt: Double): Seq[Double] = {
      val v = Array.fill(4)(0.0); v(g) = 1.0; v((g + 1) % 4) += tilt; v.toSeq
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i / 5, 0.02 * i)))
      .toDF("vec_id", "v")
    val (cents, _) = graft.streaming.StreamingAnnProbe.buildIndex(corpus)
    // arrivals: 7 near group 0, 3 near group 2 — threshold 5 so the
    // group-0 cell must flip mid-stream and stay flipped
    val T = 5L
    // direction-identical within each burst (the tiny 20-vector
    // corpus trains 16 centroids — a varying tilt would scatter the
    // burst over neighboring cells and the count never crosses T)
    val data = (0 until 7).map(i => (100L + i, vec(0, 0.01))) ++
      (0 until 3).map(i => (200L + i, vec(2, 0.01)))
    def run(name: String, splits: Seq[Seq[(Long, Seq[Double])]])
        : Seq[(Long, Long, Boolean)] = {
      val stream = MemoryStream[(Long, Seq[Double])]
      val out = graft.streaming.StreamingOccupancy(
        stream.toDS().toDF("vec_id", "v"), cents, T)
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try {
        splits.foreach { b => stream.addData(b); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      } finally q.stop()
    }
    val gotA = run("occ1", Seq(data.take(4), data.slice(4, 8), data.drop(8)))
    val gotB = run("occ2", Seq(data))
    // batch reference: the same quantizer fold over all rows at once
    val batch = data.toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("cell",
        graft.streaming.StreamingAnnProbe.cellOf(col("v"), col("nrm"), cents))
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def finals(rows: Seq[(Long, Long, Boolean)]) =
      rows.groupBy(_._1).view.mapValues(_.last).toMap
    assert(finals(gotA).view.mapValues(_._2).toMap == batch)
    assert(finals(gotA) == finals(gotB),
      s"split-variant finals: ${finals(gotA)} vs ${finals(gotB)}")
    // needs_split iff count > T, and the flag is monotone per cell
    finals(gotA).values.foreach { case (_, n, f) => assert(f == (n > T)) }
    gotA.groupBy(_._1).values.foreach { rows =>
      val flags = rows.map(_._3)
      assert(flags == flags.scanLeft(false)(_ || _).tail,
        s"needs_split un-flipped: $flags")
    }
    assert(finals(gotA).values.exists(_._3) &&
      finals(gotA).values.exists(!_._3))
  }
}

object StreamingSpec {
  final case class StreamDoc(ts: java.sql.Timestamp, h: Long)
}
