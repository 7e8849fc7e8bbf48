package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.cdc.{CdcParser, CdcRecord}
import graft.etl.{DurableCdcState, FileEventSink, TaskRunner}

/** `dms_task`: one DMS full-load-and-cdc task, end to end.
  *
  * Set-up runs the full load of the seed tables with `TaskRunner.runFullLoad`
  * into a 1-shard `FileEventSink`, seeds the durable CDC state with
  * `DurableCdcState.saveState` and starts the CDC task on an empty
  * directory. After one warm-up file the task is stopped and resumed on the
  * same checkpoint and state; a `Backlog`-file backlog then lands at once
  * and drains at saturation, and the task meets an open loop: one
  * pre-generated change file lands every `IntervalMs`, each timed from when
  * it was due. Stresses the CSV scan, `Envelope.forData`, the ordered sink
  * handoff, parsing, the CDC envelope build, per-batch sink appends,
  * `CdcApply`, the snapshot merge and the trigger.
  */
object DmsTask {
  val StateRows = 26000
  val RowsPerFile = 2000
  val IntervalMs = 5000L
  /** Due times sit half a trigger interval after a whole second, so a file
    * never lands on the same millisecond as the engine's epoch-aligned
    * 500 ms trigger tick (which would make its wait 0 or 500 ms by chance).
    */
  val PhaseMs = 250L
  val Backlog = 5

  private final class Task(val dir: Path, val loadSeconds: Double, val query: StreamingQuery) {
    def in: Path = dir.resolve("in")
    def staging: Path = dir.resolve("staging")
    def ckpt: Path = dir.resolve("ckpt")
    def state: Path = dir.resolve("state")
    def sinkDir: Path = dir.resolve("sink")
    def source: Path = dir.resolve("source")
  }

  /** Batch id → the change-file number it read, from the query's own
    * file-source log in the checkpoint.
    */
  private def batchFiles(ckpt: Path): Map[Long, Int] = {
    val entry = """"path":"[^"]*cdc(\d+)\.csv".*"batchId":(\d+)""".r
    val logs = Files.list(ckpt.resolve("sources/0")).iterator.asScala.toVector
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
    logs.flatMap(f => Files.readAllLines(f).asScala).flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(2).toLong -> m.group(1).toInt).toMap
  }

  /** Batch id → epoch ms at which the batch's commit record was written. */
  private def commitTimes(ckpt: Path): Map[Long, Long] =
    Files.list(ckpt.resolve("commits")).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> Files.getLastModifiedTime(f).toMillis).toMap

  /** Writes the task's inputs: the full-load source and every change file,
    * staged for landing.
    */
  private def prepare(dir: Path, gen: Gen.Cdc): Unit = {
    FullLoad.write(dir.resolve("source"), source(gen))
    val staging = dir.resolve("staging")
    Files.createDirectories(staging)
    Files.createDirectories(dir.resolve("in"))
    // distinct, increasing mtimes: the file source orders new files by
    // modification time, as a real writer's sequential files would be
    val t0 = System.currentTimeMillis()
    gen.files.zipWithIndex.foreach { case (rows, i) =>
      val f = staging.resolve(Gen.fileName(i + 1))
      Files.write(f, rows.map(_.line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t0 + 10L * i))
    }
  }

  /** Runs the full load, seeds the state with the loaded rows and starts the
    * CDC task, on inputs `prepare` wrote.
    */
  private def start(c: Ctx, dir: Path, gen: Gen.Cdc): Task = {
    val spark = c.spark
    import spark.implicits._
    val runner = new TaskRunner(c.spark, Gen.tables, c.rules, c.sink(dir.resolve("sink")),
      Some(dir.resolve("state").toString))
    val loadSeconds = c.measuring(FullLoad.load(c, runner, dir.resolve("source")))
    new DurableCdcState(c.spark, dir.resolve("state").toString)
      .saveState(spark.createDataset(Gen.seedRecords(gen.seedState)))
    new Task(dir, loadSeconds, runner.startCdc(dir.resolve("in").toString, dir.resolve("ckpt").toString))
  }

  private def source(gen: Gen.Cdc): FullLoad.Source =
    Gen.tables.map(t => t -> gen.seedState.filter(_.table == t))

  private def land(t: Task, file: Int): Unit =
    Files.move(t.staging.resolve(Gen.fileName(file)), t.in.resolve(Gen.fileName(file)),
      StandardCopyOption.ATOMIC_MOVE)

  def run(c: Ctx): Result = {
    val r = new Result
    val triggers = if (c.traced) Some(new TriggerLog) else None
    triggers.foreach(c.spark.streams.addListener)
    // one file more than fits in the run's seconds: three samples at 10 s
    val openCount = (c.seconds * 1000 / IntervalMs).toInt + 1
    // file 1 warms the task up; files 2..Backlog+1 are the backlog; the rest
    // the open loop
    val backlogFiles = 2 to Backlog + 1
    val openFiles = Backlog + 2 to Backlog + 1 + openCount
    val gen = Gen.cdc(c.seed, StateRows, openFiles.last, RowsPerFile)
    var task: Task = null
    val loads = mutable.ArrayBuffer.empty[Double]
    // only the program's set-up is timed: the previous rep's teardown and
    // writing the inputs happen before the clock starts
    r.metrics("setup_s") = Metrics.setupSeconds(3) { k =>
      if (task != null) { task.query.stop(); Dirs.rmTree(task.dir) }
      prepare(c.work.resolve(s"task-$k"), gen)
    } { k =>
      task = start(c, c.work.resolve(s"task-$k"), gen)
      loads += task.loadSeconds
    }
    c.phase("set-up")
    land(task, 1)
    task.query.processAllAvailable()
    c.phase("warm-up")

    // ---- restart: stop the task and resume it on the same checkpoint and
    // state, as a stopped DMS task is resumed; it must skip the committed
    // file and emit no second set of start controls
    task.query.stop()
    val resumed = new TaskRunner(c.spark, Gen.tables, c.rules, c.sink(task.sinkDir), Some(task.state.toString))
    val query = c.measuring(resumed.startCdc(task.in.toString, task.ckpt.toString, emitStartControls = false))

    // ---- drain: a backlog lands at once and the task runs at saturation.
    // It runs before the open loop so that its batches warm the JIT: a
    // fresh task's batch time keeps falling for several batches.
    backlogFiles.foreach(land(task, _))
    c.measuring(query.processAllAvailable())
    c.sampleHeap()
    c.phase("drain")

    // ---- open loop on the resumed task ------------------------------------
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000 + PhaseMs
    val due = openFiles.map(f => f -> (t0 + (f - openFiles.head) * IntervalMs)).toMap
    val openEnd = t0 + openCount * IntervalMs
    var lateMax = 0L
    val generator = new Thread(() => {
      openFiles.foreach { f =>
        val wait = due(f) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(task, f)
        lateMax = math.max(lateMax, System.currentTimeMillis() - due(f))
      }
    }, "perfbench-generator")
    c.measuring {
      generator.start()
      generator.join()
      val rest = openEnd - System.currentTimeMillis()
      if (rest > 0) Thread.sleep(rest)
    }
    query.processAllAvailable()
    query.stop()
    c.sampleHeap()
    c.phase("open loop")

    // ---- timings from the sink and the checkpoint ---------------------------
    val lines = Envelopes.read(task.sinkDir)
    val files = batchFiles(task.ckpt)
    val commits = commitTimes(task.ckpt)
    val commitOf: Map[Int, Long] = files.map { case (b, f) => f -> commits.getOrElse(b, Long.MaxValue) }
    val txn = """"transaction-id":(\d+)\}\}$""".r.unanchored
    val lastArrival = mutable.HashMap.empty[Int, Long]
    lines.foreach { l =>
      l.envelope match {
        case txn(id) =>
          val f = (id.toLong / 1000000L).toInt
          lastArrival(f) = math.max(lastArrival.getOrElse(f, 0L), l.arrivalMs)
        case _ =>
      }
    }
    val lags = due.toSeq.sortBy(_._1).map { case (f, d) => (lastArrival.getOrElse(f, Long.MaxValue) - d) / 1e3 }
    val commitLags = due.toSeq.sortBy(_._1).map { case (f, d) => (commitOf.getOrElse(f, Long.MaxValue) - d) / 1e3 }
    r.metrics("latency_p50_s") = Metrics.median(lags)
    r.metrics("commit_p50_s") = Metrics.median(commitLags)
    // a drained backlog commits one file per batch, back to back: the
    // median gap between commits is the time one file takes at saturation
    // (the resumed task's first batch, which pays its start, has no gap)
    val drainCommits = backlogFiles.map(f => commitOf.getOrElse(f, Long.MaxValue)).sorted
    val gaps = drainCommits.zip(drainCommits.tail).map { case (a, b) => (b - a) / 1e3 }
    r.metrics("throughput_rows_per_s") = RowsPerFile / Metrics.median(gaps)
    val backlog = due.keys.count(f => commitOf.getOrElse(f, Long.MaxValue) > openEnd)
    System.err.println(s"[perfbench] cdc lags ${lags.mkString(" ")}; commit lags ${commitLags.mkString(" ")}; " +
      s"backlog at the end of the open loop: $backlog; generator late by at most $lateMax ms")
    due.foreach { case (f, d) =>
      c.tracer.record(s"cdc.file.$f", d * 1000000L, lastArrival.getOrElse(f, d) * 1000000L)
    }

    // ---- checks ----------------------------------------------------------------
    val state = resumed.currentState
    val exceptions = resumed.exceptions
    r.attempted += gen.seedState.size
    r.failed += FullLoad.check(r, source(gen), lines)
    check(r, gen, lines, state, exceptions.map(e => (e.lastSeq, e.table, e.pk, e.values)))
    c.phase("checks")

    if (c.traced) {
      // every batch but the first, which pays the stream's warm-up
      val batches = triggers.get.all.filter(b => files.get(b.id).exists(_ > 1))
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Metrics.median(xs)
      def step(key: String) = p50(batches.map(_.durationMs.getOrElse(key, 0L) / 1e3))
      val waits = batches.flatMap(b => due.get(files(b.id)).map(d => (b.startMs - d) / 1e3))
      r.metrics("trigger.wait_p50_s") = p50(waits)
      r.metrics("trigger.exec_p50_s") = step("triggerExecution")
      r.metrics("trigger.add_batch_p50_s") = step("addBatch")
      r.metrics("trigger.planning_p50_s") = step("queryPlanning")
      r.metrics("trigger.wal_commit_p50_s") = step("walCommit")
      val jobs = c.layers.get.batchJobs
      r.metrics("spark.jobs_per_batch") = p50(batches.map(b => jobs.getOrElse(b.id, 0).toDouble))
      r.metrics("state.rows") = state.size.toDouble
      r.metrics("state.bytes") = Dirs.sizeOf(task.state).toDouble
      r.metrics("state.exceptions") = exceptions.size.toDouble
      r.metrics("cdc.backlog_files") = backlog.toDouble
      r.metrics("gen.late_ms_max") = lateMax.toDouble
      r.metrics("full_load.rows_per_s") = StateRows / Metrics.median(loads.toSeq)
      // the same load on one core shows how much of it is serial
      c.spark.stop()
      c.spark = Main.session(1, c.work)
      val one = new TaskRunner(c.spark, Gen.tables, c.rules, new FileEventSink(c.work.resolve("sink-1core").toString))
      val secs = FullLoad.load(c, one, task.source)
      if (FullLoad.check(r, source(gen), Envelopes.read(c.work.resolve("sink-1core"))) > 0)
        r.problem("the one-core load failed its checks")
      r.metrics("full_load.rows_per_s_1core") = StateRows / secs
    }
    r
  }

  /** Per-change-row checks: exactly one envelope per row under its sequence
    * number as transaction id, strict JSON, and `data` equal to the
    * generated values. The final state and exceptions must equal an
    * independent sequential fold of the seed state and every change row; a
    * mismatch is charged to the change row that produced it.
    */
  private def check(
      r: Result,
      gen: Gen.Cdc,
      lines: Seq[Envelopes.Line],
      state: Seq[CdcRecord],
      exceptions: Seq[(Long, String, String, Seq[String])]
  ): Unit = {
    val changes = gen.files.flatten
    val bySeq = changes.map(ch => ch.seq -> ch).toMap
    r.attempted += changes.size
    val failed = mutable.HashSet.empty[Long]
    val seen = mutable.HashMap.empty[Long, Int]
    val controls = mutable.HashMap.empty[String, Int]
    val txn = """"transaction-id":(\d+)\}\}$""".r.unanchored
    lines.foreach { l =>
      val parsed = Envelopes.parse(l.envelope)
      if (parsed.exists(e => Envelopes.meta(e, "record-type") == "control")) {
        val e = parsed.get
        val key = s"${Envelopes.meta(e, "operation")} ${Envelopes.meta(e, "schema-name")}.${Envelopes.meta(e, "table-name")}"
        controls(key) = controls.getOrElse(key, 0) + 1
      } else l.envelope match {
        case txn(id) if bySeq.contains(id.toLong) =>
          val ch = bySeq(id.toLong)
          seen(ch.seq) = seen.getOrElse(ch.seq, 0) + 1
          val ok = parsed.exists { e =>
            Envelopes.meta(e, "operation") == ch.op.toLowerCase &&
            Envelopes.meta(e, "table-name") == ch.row.table.name &&
            Envelopes.meta(e, "schema-name") == ch.row.table.owner &&
            l.partitionKey == ch.row.table.qualifiedName &&
            Envelopes.data(e) == ch.row.table.columns.map(_.name).zip(ch.row.values)
          }
          if (!ok) failed += ch.seq
        case _ if l.envelope.contains("\"operation\":\"load\"") => // checked by FullLoad.check
        case _ => r.problem(s"envelope with no known transaction id: ${l.envelope.take(200)}")
      }
    }
    // the full load's drop + create per table, then the CDC start's create
    // per table plus the exceptions table
    val wantControls = Gen.tables.flatMap(t => Seq(
      s"drop-table ${t.qualifiedName}" -> 1, s"create-table ${t.qualifiedName}" -> 2)) :+
      ("create-table dms.awsdms_apply_exceptions" -> 1)
    if (controls.toMap != wantControls.toMap)
      r.problem(s"controls ${controls.toMap}, expected $wantControls")
    changes.foreach(ch => if (seen.getOrElse(ch.seq, 0) != 1) failed += ch.seq)

    // independent fold: INSERT on a live key and UPDATE/DELETE on a missing
    // key are exceptions; INSERT still replaces the image
    val live = mutable.HashMap.empty[(String, String), (Seq[String], Long)]
    gen.seedState.foreach(g => live((g.table.name, g.pk)) = (g.values, 0L))
    val lastOp = mutable.HashMap.empty[(String, String), Long]
    val wantEx = mutable.HashMap.empty[Long, (String, String, Seq[String])]
    changes.sortBy(_.seq).foreach { ch =>
      val key = (ch.row.table.name, ch.row.pk)
      lastOp(key) = ch.seq
      val exists = live.contains(key)
      ch.op match {
        case CdcParser.OpInsert =>
          if (exists) wantEx(ch.seq) = (key._1, key._2, ch.row.values)
          live(key) = (ch.row.values, ch.seq)
        case CdcParser.OpUpdate =>
          if (exists) live(key) = (ch.row.values, ch.seq) else wantEx(ch.seq) = (key._1, key._2, ch.row.values)
        case CdcParser.OpDelete =>
          if (exists) live.remove(key) else wantEx(ch.seq) = (key._1, key._2, ch.row.values)
      }
    }
    val got = state.map(s => (s.table, s.pk) -> s.values).toMap
    (live.keySet ++ got.keySet).foreach { key =>
      val want = live.get(key)
      if (want.map(_._1) != got.get(key)) {
        val seq = want.map(_._2).filter(_ > 0).orElse(lastOp.get(key))
        seq match {
          case Some(s) => failed += s
          case None => r.problem(s"state for never-changed seed key $key differs")
        }
      }
    }
    val gotEx = exceptions.map { case (seq, t, pk, v) => seq -> (t, pk, v) }.toMap
    (wantEx.keySet ++ gotEx.keySet).foreach { seq =>
      if (wantEx.get(seq) != gotEx.get(seq)) {
        if (bySeq.contains(seq)) failed += seq else r.problem(s"exception at unknown seq $seq")
      }
    }
    r.failed += failed.size
    if (failed.nonEmpty)
      r.problem(s"${failed.size} of ${changes.size} CDC rows failed, e.g. " +
        failed.take(3).map(s => bySeq.get(s).map(_.line).getOrElse(s.toString)).mkString(" | "))
  }
}
