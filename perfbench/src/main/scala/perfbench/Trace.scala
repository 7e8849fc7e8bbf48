package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.etl.{EventRecord, EventSink}

/** One traced interval. `parent` is the id of the span that was open on the
  * same thread when this one started (0 for a root span).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory spans and counters of a traced run, written out at the end.
  * A disabled tracer runs the wrapped code and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val ids = new AtomicInteger
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized(spans += Span(id, name, stack.headOption.getOrElse(0), t0, t1))
      }
    }

  /** A span timed elsewhere (e.g. a CDC file from its due time). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized(spans += Span(ids.incrementAndGet(), name, 0, startNs, endNs))

  def add(name: String, v: Double): Unit =
    if (enabled) synchronized(counters(name) = counters.getOrElse(name, 0.0) + v)

  /** Total seconds of spans called `name`. */
  def seconds(name: String): Double = synchronized {
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  def counter(name: String): Double = synchronized(counters.getOrElse(name, 0.0))

  /** One JSON object per span, then one per counter. */
  def write(path: Path): Unit = if (enabled) synchronized {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      counters.map { case (k, v) => s"""{"counter":"$k","value":$v}""" }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Sink decorator for traced runs: times every `append` and every ordered
  * handoff, and counts the records and bytes handed to the sink. The
  * handoff runs `EventSink`'s own ordered implementation (the one every
  * bundled sink uses), so its `append` calls come back through this
  * decorator and are timed too.
  */
final class TracingSink(inner: EventSink, tracer: Tracer) extends EventSink {
  override def append(events: Seq[(String, String)]): Unit = {
    tracer.add("sink.records", events.size.toDouble)
    tracer.add("sink.bytes", events.map { case (pk, env) => utf8Length(pk) + utf8Length(env) }.sum.toDouble)
    tracer.span("sink.append")(inner.append(events))
  }

  override def appendOrdered(events: DataFrame): Unit =
    tracer.span("sink.ordered")(super.appendOrdered(events))

  override def all: Seq[EventRecord] = inner.all

  private def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }
}

/** Spark listener for traced runs. While `on`, it sums task metrics,
  * counts jobs and stages, and credits each stage's executor run time to an
  * engine module (`stage_s.<Module>`):
  *
  *  - the stage that first computes a per-key apply fold (the `MapGroups`
  *    operator, planned only by `CdcApply.run`'s `flatMapGroups`): `CdcApply`;
  *  - a stage that scans the CSV source (only the full load does):
  *    `TaskRunner`;
  *  - otherwise the module named by the first `graft.*` frame of the stage's
  *    call site, skipping the sink's generic ordered handoff (it only drains
  *    a plan its caller built), with the query mix's own drains counted as
  *    `queries`. A streaming query's jobs all carry the call site of the
  *    `startCdc` that started it, so among them a stage that reads or writes
  *    parquet is the durable state's: `DurableCdcState`. A stage with no
  *    engine frame (adaptive execution submits some from its own threads)
  *    is `other`.
  *
  * Independently of `on`, a stage of a job tagged with a query key (the
  * local property `SparkLayers.KeyProperty`) adds its CPU time and shuffle
  * writes to `query.<key>.cpu_s` and `query.<key>.shuffle_bytes`. Events
  * arrive asynchronously: read the sums after `SparkContext.stop`, which
  * delivers every queued event.
  */
final class SparkLayers extends SparkListener {
  @volatile var on = false
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val stageMaxMs = mutable.HashMap.empty[Int, Long]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobsPerBatch = mutable.HashMap.empty[Long, Int]
  private val folds = mutable.HashSet.empty[Int]
  private val frame = """^\s*(?:at\s+)?([\w.$]+)\((\w+)\.scala:\d+\)""".r

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def get(k: String): Double = synchronized(sums.getOrElse(k, 0.0))
  def snapshot: Map[String, Double] = synchronized(sums.toMap)
  def batchJobs: Map[Long, Int] = synchronized(jobsPerBatch.toMap)

  def module(details: String, scopes: Set[String], newFold: Boolean): String =
    if (newFold) "CdcApply"
    else if (scopes.exists(_.startsWith("Scan csv"))) "TaskRunner"
    else {
      val site = callSite(details)
      val stateIo = scopes("WriteFiles") || scopes.exists(_.startsWith("Scan parquet"))
      if (stateIo && (site == "TaskRunner" || site == "DurableCdcState")) "DurableCdcState" else site
    }

  private def callSite(details: String): String =
    details.linesIterator.collectFirst {
      case frame(method, file) if method.startsWith("graft.") && file != "EventSink" =>
        if (method.startsWith("graft.queries.")) "queries"
        else if (method.startsWith("graft.operators.")) "operators"
        else if (method.startsWith("graft.functions.")) "functions"
        else file
      // the harness drains each query key's plan itself: that work is the key's
      case frame(method, _) if method.startsWith("perfbench.QueryMix") => "queries"
      case frame(method, file) if method.startsWith("perfbench.") && file != "Trace" => "harness"
    }.getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(name: String) = Option(e.properties).flatMap(p => Option(p.getProperty(name)))
    prop(SparkLayers.KeyProperty).foreach(k => e.stageIds.foreach(stageKey(_) = k))
    if (on) {
      add("spark.jobs", 1)
      prop("streaming.sql.batchId").foreach { b =>
        jobsPerBatch(b.toLong) = jobsPerBatch.getOrElse(b.toLong, 0) + 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) synchronized {
    val ms = e.taskMetrics.executorRunTime
    stageMaxMs(e.stageId) = math.max(stageMaxMs.getOrElse(e.stageId, 0L), ms)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    stageKey.remove(info.stageId).filter(_ => m != null).foreach { k =>
      add(s"query.$k.cpu_s", m.executorCpuTime / 1e9)
      add(s"query.$k.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    }
    if (on) stageTotals(info, m)
    stageMaxMs.remove(info.stageId)
  }

  private def stageTotals(info: StageInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
    add("spark.stages", 1)
    if (m != null) {
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.run_s", m.executorRunTime / 1e3)
      add("spark.max_task_s", stageMaxMs.getOrElse(info.stageId, 0L) / 1e3)
      // a fold RDD read back from cache by a later stage is not fold work
      val fold = info.rddInfos.filter(_.scope.exists(_.name == "MapGroups")).map(_.id)
      val newFold = fold.exists(id => !folds.contains(id))
      folds ++= fold
      val scopes = info.rddInfos.flatMap(_.scope.map(_.name)).toSet
      add("stage_s." + module(info.details, scopes, newFold), m.executorRunTime / 1e3)
    }
  }
}

object SparkLayers {
  /** Local property naming the query key a job belongs to. */
  val KeyProperty = "perfbench.key"
}

/** Progress of every micro-batch that read input, for the `trigger.*`
  * metrics of traced runs.
  */
final case class Batch(id: Long, startMs: Long, rows: Long, durationMs: Map[String, Long])

final class TriggerLog extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]

  def all: Seq[Batch] = synchronized(batches.toVector)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized(batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
    }
  }
}
