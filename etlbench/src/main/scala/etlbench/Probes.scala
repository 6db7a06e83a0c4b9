package etlbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Order statistics with the sample counts they rest on. */
object Stats {
  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile: the highest of p99/p95/p90/p75 that keeps at
    * least ten samples beyond it. Below 40 samples none does, and the
    * maximum is reported instead. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(0.99, 0.95, 0.90, 0.75).find(q => xs.size * (1 - q) >= 10.0 - 1e-9) match {
      case Some(q) => (q * 100, quantile(xs, q))
      case None => (100.0, xs.max)
    }
}

/** Benchmark-owned SparkListener: job/stage/task counts and task
  * metrics for the `spark.*` layer metrics. Events arrive on Spark's
  * asynchronous listener bus; [[settle]] waits for them to stop. */
final class SparkProbe extends SparkListener {
  private val lock = new Object
  var jobsStarted = 0L
  var jobsEnded = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Double]]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobsStarted += 1; touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobsEnded += 1; touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1; touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Double]()) += m.executorRunTime.toDouble
    }
    touch()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for 200 ms (at most 10 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (lock.synchronized(jobsStarted != jobsEnded) ||
        System.nanoTime() - lastEvent.get() < 200000000L)) Thread.sleep(20)
  }

  /** Largest max/median task run time over stages with 2+ tasks. */
  def stageSkewMax: Double = lock.synchronized {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      ts.max / math.max(1.0, Stats.median(ts.toSeq))
    }
    if (r.isEmpty) 1.0 else r.max
  }

  /** `spark.*` layer metrics over `ops` operations and `wallS` seconds. */
  def metrics(ops: Int, wallS: Double, cores: Int): Seq[(String, Double, String)] =
    lock.synchronized {
      val n = math.max(1, ops).toDouble
      val mb = 1024.0 * 1024.0
      Seq(
        ("spark.jobs", jobsEnded / n, "count"),
        ("spark.stages", stages / n, "count"),
        ("spark.tasks", tasks / n, "count"),
        ("spark.task_run_s", taskRunMs / 1000.0 / n, "s"),
        ("spark.task_cpu_s", taskCpuNs / 1e9 / n, "s"),
        ("spark.gc_s", gcMs / 1000.0 / n, "s"),
        ("spark.shuffle_write_mb", shuffleWriteBytes / mb / n, "MB"),
        ("spark.shuffle_read_mb", shuffleReadBytes / mb / n, "MB"),
        ("spark.spill_mb", spillBytes / mb / n, "MB"),
        ("spark.stage_skew_max", stageSkewMax, "ratio"),
        ("spark.core_busy", taskRunMs / 1000.0 / (wallS * cores), "ratio"))
    }
}

/** Benchmark-owned StreamingQueryListener: micro-batch progress,
  * state-operator sizes and rows dropped behind the watermark. */
final class StreamProbe extends StreamingQueryListener {
  import StreamProbe.Batch

  val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  private def offset(json: String): Long =
    if (json == null || json.isEmpty || json == "null") -1L
    else json.filter(_.isDigit) match { case "" => -1L; case d => d.toLong }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val src = p.sources.headOption
    val ops = p.stateOperators.toSeq
    synchronized {
      batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        dur("triggerExecution"), dur("addBatch"),
        src.map(s => offset(s.startOffset)).getOrElse(-1L),
        src.map(s => offset(s.endOffset)).getOrElse(-1L),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }
}

object StreamProbe {
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
      fromOffset: Long, toOffset: Long, stateRows: Long, stateBytes: Long, lateRows: Long)
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** In-memory span recorder for the traced run; [[write]] dumps the spans
  * as JSON lines when the run ends. */
final class Tracer {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, op: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, op, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: duration minus the time its children cover
    * (children never overlap: spans open and close on one thread). */
  def selfSeconds: Map[String, Double] = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childS.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":"${s.op}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The most memory the process kept live: the largest heap in use right
  * after a garbage collection, plus direct buffers at that moment, over
  * every collection since [[LiveMemory.start]]. Unlike resident memory it
  * does not depend on how far the collector lets the heap grow between
  * collections. */
object LiveMemory {
  import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val peak = new AtomicLong(0L)
  private val collections = new AtomicLong(0L)

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .filter(_.getName == "direct")
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val heap = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(heap + direct.map(_.getMemoryUsed).sum, math.max)
          collections.incrementAndGet()
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Collects once more, so that the live set at the end counts too, and
    * returns the peak in MB. */
  def peakMb(): Double = {
    val seen = collections.get()
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (collections.get() == seen && System.nanoTime() < deadline) Thread.sleep(5)
    peak.get() / 1048576.0
  }
}

object Probes {

  def withSparkProbe[T](spark: SparkSession)(body: SparkProbe => T): T = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    try body(p) finally spark.sparkContext.removeSparkListener(p)
  }
}
