package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.etl.{EventSink, FileEventSink}
import graft.schema.SelectionRule

/** Everything one workload run needs. `layers` is present only in a traced
  * run; untraced runs register no listener and wrap nothing.
  */
final class Ctx(
    var spark: SparkSession,
    val work: Path,
    val data: Path,
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer,
    val layers: Option[SparkLayers]
) {
  def traced: Boolean = tracer.enabled

  private val born = System.nanoTime()
  /** Logs how far into the run a phase ended (stderr). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s $name")
  val rules: Seq[SelectionRule] = Seq(SelectionRule("%", "%", "include"))

  /** The sink a workload hands to the engine: the file sink itself, or the
    * tracing decorator around it in a traced run.
    */
  def sink(dir: Path): EventSink = {
    val s = new FileEventSink(dir.toString, shards = 1)
    if (traced) new TracingSink(s, tracer) else s
  }

  def measuring[T](f: => T): T = {
    layers.foreach(_.on = true)
    try f finally layers.foreach(_.on = false)
  }

  /** Highest heap occupancy seen right after a full GC, sampled at the
    * workload's quiet points (never inside a timed section).
    */
  private var heapMb = 0.0
  def sampleHeap(): Unit = {
    // the second collection runs after the context cleaner has released
    // whatever the first one freed (broadcasts, shuffle state)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapMb = math.max(heapMb, used / 1048576.0)
  }
  def liveHeapMb: Double = heapMb
}

/** What a workload reports: per-operation counts, whether its whole-run
  * checks held, and its metrics by name.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** False when any check fails: a whole-run check or any operation's. */
  var correct = true
  /** Passes over the query keys, which the per-key listener sums are
    * averaged over.
    */
  var passes = 1
  val metrics: mutable.Map[String, Double] = mutable.Map.empty

  def problem(msg: String): Unit = {
    correct = false
    System.err.println(s"[perfbench] check failed: $msg")
  }
}

object Main {
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    val tracer = new Tracer(traced)
    val layers = if (traced) Some(new SparkLayers) else None
    val ctx = new Ctx(session(cores, work), work, Paths.get(a("data")).toAbsolutePath,
      a("seed").toLong, a("seconds").toInt, tracer, layers)
    layers.foreach(ctx.spark.sparkContext.addSparkListener)
    val result = workload match {
      case "dms_task"  => DmsTask.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result.metrics("live_heap_mb") = ctx.liveHeapMb
    // stopping delivers every queued listener event
    ctx.spark.stop()
    layers.foreach { l =>
      l.snapshot.foreach {
        case (k, v) if k.startsWith("query.") => result.metrics(k) = v / result.passes
        case (k, v) => result.metrics.getOrElseUpdate(k, v)
      }
      val run = l.get("spark.run_s")
      result.metrics("spark.max_task_share") = if (run > 0) l.get("spark.max_task_s") / run else 0.0
      Seq("sink.records", "sink.bytes").foreach(k => result.metrics(k) = tracer.counter(k))
      result.metrics("sink.append_s") = tracer.seconds("sink.append")
      result.metrics("sink.ordered_s") = tracer.seconds("sink.ordered")
      result.metrics("failed_ratio") = result.failed.toDouble / math.max(1L, result.attempted)
      result.metrics("trace.latency_p50_s") = result.metrics("latency_p50_s")
      tracer.write(Paths.get(a("out")).resolve(s"trace-$workload-seed${ctx.seed}.jsonl"))
    }
    println(Metrics.json(result, traced))
  }
}

object Metrics {
  /** End-to-end metrics, printed by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "commit_p50_s" -> "s",
    "throughput_rows_per_s" -> "rows/s",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics, printed by every traced run (0 where the workload
    * does not use the layer).
    */
  val perLayer: Seq[(String, String)] = Seq(
    "stage_s.TaskRunner" -> "s", "stage_s.DurableCdcState" -> "s", "stage_s.CdcApply" -> "s",
    "stage_s.queries" -> "s", "stage_s.operators" -> "s", "stage_s.other" -> "s",
    "spark.max_task_share" -> "ratio",
    "sink.ordered_s" -> "s", "sink.append_s" -> "s", "sink.records" -> "count", "sink.bytes" -> "bytes",
    "full_load.rows_per_s" -> "rows/s", "full_load.rows_per_s_1core" -> "rows/s",
    "trigger.wait_p50_s" -> "s", "trigger.exec_p50_s" -> "s", "trigger.add_batch_p50_s" -> "s",
    "trigger.planning_p50_s" -> "s", "trigger.wal_commit_p50_s" -> "s",
    "spark.jobs_per_batch" -> "count",
    "state.rows" -> "count", "state.bytes" -> "bytes", "state.exceptions" -> "count",
    "cdc.backlog_files" -> "count"
  ) ++ QueryMix.keys.flatMap(k =>
    Seq(s"query.${k}_s" -> "s", s"query.$k.cpu_s" -> "s", s"query.$k.shuffle_bytes" -> "bytes")
  ) ++ Seq(
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.jobs" -> "count", "spark.stages" -> "count",
    "gen.late_ms_max" -> "ms", "failed_ratio" -> "ratio", "trace.latency_p50_s" -> "s")

  def json(r: Result, traced: Boolean): String = {
    val ms = (if (traced) perLayer else endToEnd).map { case (k, unit) =>
      val v = r.metrics.getOrElse(k, 0.0)
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
    }
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":{${ms.mkString(",")}}}"""
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median seconds of `reps` timed set-ups; `prepare` runs untimed before
    * each one. Both get the 1-based rep.
    */
  def setupSeconds(reps: Int)(prepare: Int => Unit)(f: Int => Unit): Double =
    median((1 to reps).map { k =>
      prepare(k)
      val t0 = System.nanoTime()
      f(k)
      (System.nanoTime() - t0) / 1e9
    })
}

object Dirs {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def sizeOf(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
