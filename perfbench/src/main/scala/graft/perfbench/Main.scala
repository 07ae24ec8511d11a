package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` builds every input from the
  * seed and loads it into the engine; it runs several times and the
  * last set-up is the one the loop uses. `step` is one closed-loop turn:
  * it issues its operations one after another through the recorder.
  * `verify` checks every answer recorded during the loop.
  */
trait Workload {
  def setup(rep: Int): Unit
  def step(rec: Recorder): Unit
  def verify(): Seq[String]
  /** Per-layer numbers measured outside the loop (set-up time, space). */
  def extras(): Map[String, Double] = Map.empty
  /** Untimed steps before the loop, so JIT and code generation are done. */
  def warmup(rec: Recorder): Unit = Main.loop(this, rec, Main.WarmupSeconds)
  /** Results to compare against DuckDB: the data directory and, per
    * entry, (name, result directory, oracle SQL). */
  def oracle: Option[(String, Seq[(String, String, String)])] = None
}

object Seeded {
  /** `v` in a random order drawn from `rnd` (Fisher–Yates). */
  def shuffle[T](rnd: java.util.SplittableRandom, v: Seq[T]): List[T] = {
    val a = mutable.ArrayBuffer.from(v)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }
}

/** Runs one workload and writes its raw measurements as JSON.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  *
  * The process makes its own SparkSession at `local[4]`; all tables and
  * Spark scratch space live under `workDir`. The loop is closed: one
  * client, and the next operation starts when the previous one ends.
  */
object Main {
  val SetupReps = 3
  val WarmupSeconds = 3.0

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>")
    val Array(name, seedS, secondsS, traceS, workDir, out) = args
    val marks = mutable.LinkedHashMap.empty[String, Double]
    var last = System.nanoTime()
    def mark(phase: String): Unit = {
      val now = System.nanoTime(); marks(phase) = (now - last) / 1e9; last = now
    }
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = SparkCounters.install(spark)
    mark("session")
    val w: Workload = name match {
      case "repl_csv" => new ReplCsv(spark, seed, workDir, counters)
      case "lakehouse" => new Lakehouse(spark, seed, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a traced run reports no set-up time, so it sets up once
    val setupS = (0 until (if (trace) 1 else SetupReps)).map { i =>
      val t0 = System.nanoTime()
      w.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    mark("setup")
    val warm = new Recorder(spark, counters)
    w.warmup(warm)
    mark("warmup")
    val rec = new Recorder(spark, counters)
    val phase = loop(w, rec, seconds)
    val peakRss = Recorder.peakRssMb()
    mark("loop")
    val tracedRec = if (trace) {
      val t = new Recorder(spark, counters)
      t.startTracing()
      Some((t, loop(w, t, seconds)))
    } else None
    mark("traced_loop")
    val errors = warm.errors ++ rec.errors ++ tracedRec.toSeq.flatMap(_._1.errors)
    val wrong = w.verify() ++ errors.collect {
      case (layer, msg) if !Recorder.knownDefect(layer, msg) => s"$layer failed: $msg"
    }
    mark("verify")
    spark.stop()
    mark("stop")
    val phases = Map("untraced" -> phaseJson(rec, phase)) ++ tracedRec.map { case (t, p) =>
      "traced" -> phaseJson(t, p) }
    val result = phases ++ Map(
      "wrong" -> wrong,
      "errors" -> errors.take(20).map { case (layer, msg) => s"$layer: $msg" },
      "setup_s" -> setupS,
      "phases_s" -> marks,
      "extras" -> w.extras(),
      "peak_rss_mb" -> peakRss) ++
      tracedRec.map { case (t, _) => Map("layer" -> t.layer, "spans" -> t.spans.take(5000)) }
        .getOrElse(Map.empty) ++
      w.oracle.map { case (data, runs) => "oracle" -> Map("data" -> data, "entries" -> runs) }
    Files.writeString(Paths.get(out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }

  final case class Phase(wallS: Double, cpuMs: Double, gcMs: Double)

  /** Runs closed-loop steps until `seconds` have passed; the step under
    * way at the deadline completes. */
  def loop(w: Workload, rec: Recorder, seconds: Double): Phase = {
    val cpu0 = Recorder.cpuNanos()
    val gc0 = Recorder.gcMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) w.step(rec)
    val wall = (System.nanoTime() - t0) / 1e9
    Phase(wall, (Recorder.cpuNanos() - cpu0) / 1e6,
      (Recorder.gcMillis() - gc0).toDouble)
  }

  /** Wall, CPU and GC time of a loop, and its latencies by operation kind. */
  private def phaseJson(rec: Recorder, p: Phase): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "cpu_ms" -> p.cpuMs, "gc_ms" -> p.gcMs,
    "ops" -> rec.samples.groupBy(_.kind).map { case (k, ss) =>
      k -> Map("ms" -> ss.filter(_.ok).map(_.ms), "failed" -> ss.count(!_.ok))
    })
}
