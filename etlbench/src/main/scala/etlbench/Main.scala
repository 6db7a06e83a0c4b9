package etlbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. `run.py` builds and starts it:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --work DIR --out FILE [--spans FILE]
  *
  * It sets up (session, seeded inputs, warm-up), measures, checks its
  * outputs and writes the result as JSON to `--out`. The DuckDB oracle
  * cases it leaves under `DIR/oracle` are checked by `oracle.py`.
  */
object Main {

  val Workloads = Seq("backfill", "stream_replay")

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("etlbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = need("trace") == "1"
    val cores = need("cores").toInt

    LiveMemory.start()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.nanoTime()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toDouble, cores, work)
    val res = new Result
    val w: Workload =
      if (workload == "backfill") new Backfill(ctx, res) else new StreamReplay(ctx, res)
    w.generate()
    val g = System.nanoTime()
    w.warmup()
    val w0 = System.nanoTime()
    // set-up: process start -> session ready, inputs generated, warm-up done
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    res.info("session_s") = sessionS
    res.info("generate_s") = (g - sessionReady) / 1e9
    res.info("warmup_s") = (w0 - g) / 1e9
    val measureStart = System.nanoTime()
    if (trace) {
      val tracer = new Tracer
      w.traced(tracer)
      opts.get("spans").foreach(p => tracer.write(Paths.get(p)))
    } else {
      w.measure()
      res.metric("setup_s", setupS, "s")
      res.metric("peak_live_mb", LiveMemory.peakMb(), "MB")
    }
    res.info("measure_s") = (System.nanoTime() - measureStart) / 1e9
    res.info("since_ready_s") = (System.nanoTime() - sessionReady) / 1e9
    val stop0 = System.nanoTime()
    spark.stop()
    res.info("stop_s") = (System.nanoTime() - stop0) / 1e9
    Files.write(Paths.get(need("out")), toJson(workload, res).getBytes("UTF-8"))
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def toJson(workload: String, r: Result): String = {
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
    val info = r.info.map { case (k, v) => s"${str(k)}: ${num(v)}" }
    val samples = r.samples.map { case (k, v) => s"${str(k)}: [${v.map(num).mkString(", ")}]" }
    val oracle = r.oracle.map { case (n, d) => s"{${str("name")}: ${str(n)}, ${str("dir")}: ${str(d)}}" }
    s"""{"workload": ${str(workload)}, "attempted": ${r.attempted}, "failed": ${r.failed},
       | "failures": [${r.failures.map(str).mkString(", ")}],
       | "metrics": {${metrics.mkString(", ")}},
       | "info": {${info.mkString(", ")}},
       | "samples": {${samples.mkString(", ")}},
       | "oracle": [${oracle.mkString(", ")}]}""".stripMargin
  }
}
