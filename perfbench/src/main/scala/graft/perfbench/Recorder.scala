package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one traced operation. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var exchanges = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def startJob(id: Int, t: Long, nStages: Int): Unit = {
    jobs += 1; stages += nStages; jobStart(id) = t
  }
  def endJob(id: Int, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobIntervals += ((s, t)))

  /** Milliseconds of [start, end] covered by at least one job. */
  def jobCoveredMs(start: Long, end: Long): Long = {
    var covered = 0L
    var reach = start
    for ((s, e) <- jobIntervals.map { case (s, e) =>
        (math.max(s, start), math.min(e, end)) }.sortBy(_._1) if e > s) {
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

/** Attributes Spark jobs, stages, tasks and executed plans to the
  * operation that caused them, through the job group the recorder sets
  * around each traced call. It also counts every job the session starts,
  * traced or not. One instance is installed per session.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  @volatile var current: OpCounters = new OpCounters
  /** Whether executed plans are inspected for exchanges; off until tracing. */
  @volatile var tracing = false
  val jobsStarted = new AtomicLong
  private val GroupKey = "spark.jobGroup.id"
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, OpCounters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val c = current
    if (Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .exists(_.startsWith(Recorder.GroupPrefix))) {
      c.synchronized(c.startJob(e.jobId, e.time, e.stageIds.size))
      e.stageIds.foreach(stageOwner.put(_, c))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = current
    c.synchronized(c.endJob(e.jobId, e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageOwner.get(e.stageId)
    if (c != null && e.taskMetrics != null) c.synchronized {
      val m = e.taskMetrics
      c.tasks += 1
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) {
      val c = current
      val n = SparkCounters.exchanges(qe.executedPlan)
      c.synchronized(c.exchanges += n)
    }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Exchanges in an executed plan, looking through adaptive query
    * stages and subqueries; reused exchanges are not counted again. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** One completed operation of the closed loop. */
final case class OpSample(kind: String, ms: Double, ok: Boolean)

/** Times every call the benchmark makes into the engine. Untraced, it
  * only takes wall time around the call. Traced, it also sets a job
  * group per operation, drains the listener bus after the call (outside
  * the timed interval) and adds the operation's Spark counters and the
  * spans opened inside it to per-layer sums.
  */
final class Recorder(spark: SparkSession, counters: SparkCounters) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  /** Failed operations: (layer, first line of the exception message). */
  val errors = mutable.ArrayBuffer.empty[(String, String)]
  private var tracedOn = false
  private val opSeq = new AtomicLong
  /** Per-layer sums, keyed by metric name. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Spans of the traced phase: (name, start ns, end ns, parent index). */
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
  private var openSpan = -1

  def traced: Boolean = tracedOn
  def startTracing(): Unit = { counters.tracing = true; tracedOn = true }

  def add(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v

  /** A timed span around a call inside the current operation; recorded
    * only when tracing. Its duration is added to `name`. */
  def span[T](name: String)(body: => T): T =
    if (!tracedOn) body
    else {
      val idx = spans.size
      val parent = openSpan
      spans += ((name, System.nanoTime(), 0L, parent))
      openSpan = idx
      try body
      finally {
        val end = System.nanoTime()
        val (n, s, _, p) = spans(idx)
        spans(idx) = (n, s, end, p)
        openSpan = parent
        add(name, (end - s) / 1e6)
      }
    }

  /** Runs one operation of kind `kind` and records its latency. A thrown
    * exception counts the operation as failed and is kept in `errors`;
    * the loop goes on, and the run reports every failure other than
    * [[Recorder.knownDefect]] as a wrong answer. The operation's Spark counters are added under `<layer>.*` when traced.
    */
  def op[T](kind: String, layerName: String)(body: => T): Option[T] = {
    val group = Recorder.GroupPrefix + opSeq.incrementAndGet()
    val c = new OpCounters
    if (tracedOn) {
      BenchBus.drain(spark.sparkContext)
      counters.current = c
      spark.sparkContext.setJobGroup(group, kind, interruptOnCancel = false)
    }
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val opSpan = spans.size
    if (tracedOn) {
      spans += ((s"op.$kind", t0, 0L, -1))
      openSpan = opSpan
    }
    val result =
      try Some(body)
      catch {
        case NonFatal(e) =>
          errors += ((layerName, Recorder.message(e)))
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    samples += OpSample(kind, ms, result.isDefined)
    if (tracedOn) {
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.clearJobGroup()
      counters.current = new OpCounters
      spans(opSpan) = (s"op.$kind", t0, t0 + (ms * 1e6).toLong, -1)
      openSpan = -1
    }
    if (tracedOn && result.isEmpty) add(s"$layerName.failed", 1)
    if (tracedOn && result.nonEmpty) {
      val driverMs = math.max(0.0, ms - c.jobCoveredMs(wall0, wall1))
      for (p <- Seq(layerName, s"op.$kind")) {
        add(s"$p.ops", 1)
        add(s"$p.jobs", c.jobs)
        add(s"$p.stages", c.stages)
        add(s"$p.tasks", c.tasks)
        add(s"$p.exchanges", c.exchanges)
        add(s"$p.input_bytes", c.inputBytes)
        add(s"$p.shuffle_bytes", c.shuffleBytes)
        add(s"$p.spill_bytes", c.spillBytes)
        add(s"$p.driver_ms", driverMs)
      }
    }
    result
  }

  /** Forces and times physical planning of `df` (a traced span). */
  def plan(df: DataFrame): Unit = span("spark.plan_ms")(df.queryExecution.executedPlan)

  /** Leaf-node output rows of an executed plan: the rows its scans
    * produced before any filter above them. */
  def scannedRows(df: DataFrame): Long = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case l if l.children.isEmpty => Seq(l)
      case other => other.children.flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}

object Recorder {
  val GroupPrefix = "perfbench-"

  /** The one failure expected at this engine version: a join-view
    * refresh whose change window holds a compaction, which commits no
    * change feed. Any other failed operation is a wrong answer. */
  def knownDefect(layer: String, message: String): Boolean =
    layer == "views.refresh" && message.contains("recorded no change feed")

  def message(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    m.linesIterator.nextOption().getOrElse("").take(300)
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
