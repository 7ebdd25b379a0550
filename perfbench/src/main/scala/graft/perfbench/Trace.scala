package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** A benchmark-side span inside one operation: a `call` into a program
  * layer (the plan is built there, and eager work runs there too), the
  * `plan` forcing of `executedPlan`, or the `action` that runs the jobs. */
final case class BenchSpan(kind: String, layer: String, name: String, startMs: Double, endMs: Double)

/** One timed operation: a request or a pipeline query. */
final class Op(val id: Long, val kind: String, val pass: Int, val startMs: Double) {
  var endMs: Double = startMs
  var ok = true
  var error: String = null
  var result: String = null // compact answer the checker compares
  var rows = 0L             // result rows handed back to the client
  var filesRead = -1L       // files the action's scans opened; -1: no scan
  val spans = ArrayBuffer[BenchSpan]()
  def ms: Double = endMs - startMs
}

/** Records operations, and in traced mode every Spark job, stage and task
  * under them. Untraced, no listener is registered and the only cost per
  * operation is reading the clock; the `call`/`plan`/`action` wrappers run
  * the same code in both modes, so the two modes do identical work. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val ops = ArrayBuffer[Op]()
  private var nextId = 0L
  private var current: Op = null
  private val epochNs0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private def nowMs(ns: Long): Double = epochMs0 + (ns - epochNs0) / 1e6

  private val listener: Option[Recorder] =
    if (traced) { val r = new Recorder; sc.addSparkListener(r); Some(r) } else None

  /** Run `body` as one operation of `kind`; failures are recorded on the
    * op, never thrown, so one bad request cannot end the run. */
  def op(kind: String, pass: Int = 0)(body: Op => Unit): Op = {
    nextId += 1
    val ns = System.nanoTime()
    val o = new Op(nextId, kind, pass, nowMs(ns))
    current = o
    sc.setLocalProperty(Tracer.OpProperty, o.id.toString)
    try body(o)
    catch { case e: Throwable =>
      o.ok = false
      o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      o.endMs = nowMs(System.nanoTime())
      sc.setLocalProperty(Tracer.OpProperty, null)
      current = null
      ops += o
    }
    o
  }

  private def span[T](kind: String, layer: String, name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body
    finally if (current != null)
      current.spans += BenchSpan(kind, layer, name, nowMs(s), nowMs(System.nanoTime()))
  }

  /** A call into a program layer (`operators`, `streaming`, `ext`). */
  def call[T](layer: String, name: String)(body: => T): T = span("call", layer, name)(body)

  /** Force physical planning, then run `collect`, recording both; also
    * notes how many files the executed scans opened. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    span("plan", "plans", "executedPlan")(df.queryExecution.executedPlan)
    val rows = span("action", "exec", "collect")(df.collect())
    if (current != null) {
      current.rows += rows.length
      val files = Tracer.filesRead(df.queryExecution.executedPlan)
      if (files >= 0) current.filesRead = math.max(current.filesRead, 0L) + files
    }
    rows
  }

  /** The listener's records, after draining the event bus. */
  def recorded(): Option[Recorder] = listener.map { r =>
    org.apache.spark.perfbench.Bus.drain(sc)
    r
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Files opened by the file scans of an executed plan (adaptive stages
    * included); -1 when the plan has no file scan. */
  def filesRead(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    val found = scans(plan)
    if (found.isEmpty) -1L
    else found.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }
}

final case class JobRec(id: Int, op: Long, start: Long, stages: Seq[Int]) { var end: Long = -1L }
final case class StageRec(id: Int, attempt: Int, submit: Long, complete: Long, tasks: Int,
                          cpuNs: Long, runMs: Long, shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, recordsIn: Long)
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         schedDelayMs: Long)

/** Job, stage and task spans as Spark reports them, kept in memory. */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val tasks = ArrayBuffer[TaskRec]()
  @volatile var evictedBlocks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs += JobRec(e.jobId, op, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
      i.completionTime.getOrElse(-1L), i.numTasks,
      if (m == null) 0L else m.executorCpuTime, if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.recordsRead)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val run = if (m == null) 0L else m.executorRunTime
    val overhead = if (m == null) 0L else m.executorDeserializeTime + m.resultSerializationTime
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, run,
      if (m == null) 0L else m.executorCpuTime,
      math.max(0L, i.duration - run - overhead - i.gettingResultTime))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && !info.storageLevel.isValid) evictedBlocks += 1
  }
}

/** Per-layer numbers and the self-time summary of a traced run. */
object Layers {
  /** Total length of the union of `[start, end)` intervals. */
  def covered(iv: scala.collection.Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: scala.collection.Seq[(Double, Double)], s: Double, e: Double) =
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }

  /** `ops` are the timed operations; `wallMs` the timed region's length. */
  def summarize(ops: Seq[Op], rec: Recorder, wallMs: Double, cores: Int): (Map[String, Double], Map[String, Double]) = {
    val n = math.max(ops.size, 1).toDouble
    val byOp = rec.jobs.filter(j => j.end >= 0).groupBy(_.op)
    val opIds = ops.map(_.id).toSet
    val jobs = rec.jobs.filter(j => opIds(j.op) && j.end >= 0)
    val stageIds = jobs.flatMap(_.stages).toSet
    val stages = rec.stages.filter(s => stageIds(s.id))
    val tasks = rec.tasks.filter(t => stageIds(t.stage))
    val jobIv = (j: JobRec) => (j.start.toDouble, j.end.toDouble)

    val gaps = ops.map { o =>
      val iv = byOp.getOrElse(o.id, Nil).map(jobIv)
      o.ms - covered(clip(iv, o.startMs, o.endMs))
    }
    def spanMs(kind: String) = ops.map(_.spans.filter(_.kind == kind).map(s => s.endMs - s.startMs).sum)
    def calls(layer: String) = ops.map(o => o -> o.spans.filter(s => s.kind == "call" && s.layer == layer))
    def callMs(layer: String) = calls(layer).map(_._2.map(s => s.endMs - s.startMs).sum).sum / n
    // jobs started inside the call itself (eager work, e.g. iteration rounds)
    val extCallJobs = calls("ext").map { case (o, cs) =>
      byOp.getOrElse(o.id, Nil).count(j => cs.exists(c => j.start >= c.startMs && j.start < c.endMs))
    }.sum
    val batches = ops.flatMap(_.spans.filter(s => s.kind == "call" && s.name == "Ingest.run"))
      .map(s => s.endMs - s.startMs)
    val taskMs = tasks.map(t => (t.finish - t.launch).toDouble).sum
    val reads = ops.filter(_.filesRead >= 0)
    val rows = ops.map(_.rows).sum
    val recordsIn = stages.map(_.recordsIn).sum

    // self time: a span's duration minus what its children cover
    val self = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    ops.foreach { o =>
      val js = byOp.getOrElse(o.id, Nil).map(jobIv)
      o.spans.foreach { s =>
        self(s"${s.kind}:${s.layer}") += (s.endMs - s.startMs) - covered(clip(js, s.startMs, s.endMs))
      }
      val inSpans = covered(o.spans.map(s => (s.startMs, s.endMs)))
      self("client") += o.ms - inSpans
    }
    jobs.foreach { j =>
      val st = stages.filter(s => j.stages.contains(s.id)).map(s => (s.submit.toDouble, s.complete.toDouble))
      self("job") += (j.end - j.start) - covered(clip(st, j.start, j.end))
    }
    stages.foreach { s =>
      val ts = tasks.filter(_.stage == s.id).map(t => (t.launch.toDouble, t.finish.toDouble))
      self("stage") += (s.complete - s.submit) - covered(clip(ts, s.submit, s.complete))
    }
    self("task") += taskMs

    val layers = Map(
      "operators.call_ms" -> callMs("operators"),
      "streaming.call_ms" -> callMs("streaming"),
      "ext.call_ms" -> callMs("ext"),
      "ext.call_jobs" -> extCallJobs / n,
      "streaming.batch_ms" -> (if (batches.isEmpty) 0.0 else batches.sum / batches.size),
      "plans.plan_ms" -> spanMs("plan").sum / n,
      "exec.action_ms" -> spanMs("action").sum / n,
      "exec.driver_gap_ms" -> gaps.sum / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.cpu_ms" -> stages.map(_.cpuNs).sum / 1e6 / n,
      "exec.task_ms" -> taskMs / n,
      "exec.busy_frac" -> (if (wallMs > 0) taskMs / (wallMs * cores) else 0.0),
      "exec.sched_delay_ms" -> tasks.map(_.schedDelayMs).sum / n,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum / n,
      "exec.spill_bytes" -> stages.map(_.spill).sum / n,
      "sources.files_read" -> (if (reads.isEmpty) 0.0 else reads.map(_.filesRead).sum.toDouble / reads.size),
      "sources.records_read" -> recordsIn / n,
      "sources.records_per_result" -> (if (rows > 0) recordsIn.toDouble / rows else 0.0),
      "memo.evicted_blocks" -> rec.evictedBlocks.toDouble,
      "trace.spans" -> (ops.map(_.spans.size).sum + jobs.size + stages.size + tasks.size).toDouble)
    (layers, self.toMap)
  }

  /** The spans of a traced run, one JSON object per line, ops first. */
  def spansJsonl(ops: Seq[Op], rec: Recorder): Iterator[String] = {
    val opLines = ops.iterator.flatMap { o =>
      Iterator(Json.write(Map("span" -> "op", "op" -> o.id, "kind" -> o.kind, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "ok" -> o.ok))) ++
        o.spans.iterator.map(s => Json.write(Map("span" -> s.kind, "op" -> o.id, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    }
    // every span carries its operation's id (-1: set-up work outside any op)
    val stageJob = rec.jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    def opOf(stage: Int) = stageJob.get(stage).map(_.op).getOrElse(-1L)
    opLines ++
      rec.jobs.iterator.map(j => Json.write(Map("span" -> "job", "op" -> j.op, "job" -> j.id,
        "start_ms" -> j.start, "end_ms" -> j.end))) ++
      rec.stages.iterator.map(s => Json.write(Map("span" -> "stage", "op" -> opOf(s.id),
        "job" -> stageJob.get(s.id).map(_.id).getOrElse(-1), "stage" -> s.id,
        "start_ms" -> s.submit, "end_ms" -> s.complete, "tasks" -> s.tasks, "cpu_ms" -> s.cpuNs / 1e6))) ++
      rec.tasks.iterator.map(t => Json.write(Map("span" -> "task", "op" -> opOf(t.stage), "stage" -> t.stage,
        "start_ms" -> t.launch, "end_ms" -> t.finish, "cpu_ms" -> t.cpuNs / 1e6)))
  }
}
