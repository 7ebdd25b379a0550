package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** What every workload gets: the session, its private directories and the
  * tracer. `run` holds the generated inputs (under `data/`) and receives
  * everything the run writes. */
final class Ctx(val spark: SparkSession, val run: Path, val seconds: Double,
                val cores: Int, val tracer: Tracer) {
  val data: String = run.resolve("data").toString
  val result = scala.collection.mutable.LinkedHashMap[String, Any]()
  private val phases = scala.collection.mutable.LinkedHashMap[String, Long]()
  result("setup_phases_epoch_ms") = phases
  /** Stamp the end of a named set-up phase (reported, not a metric). */
  def phase(name: String): Unit = phases(name) = System.currentTimeMillis()
  def dir(name: String): String = { val d = run.resolve(name); Files.createDirectories(d); d.toString }
}

/** The benchmark's JVM program, launched by run.py:
  * `Main <serve|pipeline> <runDir> <seconds> <trace 0|1> <cores>`.
  * Writes `result.json` (and `trace.jsonl` when traced) into the run dir. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, secondsArg, traceArg, coresArg) = args
    val run = Paths.get(runDir).toAbsolutePath
    val cores = coresArg.toInt
    // every store the engine keeps goes under this run's private directory
    System.setProperty("graft.artifacts.dir", run.resolve("artifacts").toString)
    System.setProperty("graft.buckets.dir", run.resolve("lake").toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the engine's bench session settings (graft.Bench)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", String.valueOf(64L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // hold every class whole-stage codegen generates for the workload:
      // with Spark's default of 100 entries the pipeline pass evicts and
      // regenerates ~35 classes a second through the timed passes, and the
      // JIT compiling them competes with the work on every core
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, run, secondsArg.toDouble, cores, new Tracer(spark.sparkContext, traceArg == "1"))
    ctx.result("workload") = workload
    ctx.result("session_ready_epoch_ms") = System.currentTimeMillis()
    try workload match {
      case "serve" => Serve.run(ctx)
      case "pipeline" => Pipeline.run(ctx)
    } finally {
      report(ctx)
      spark.stop()
    }
  }

  /** Mark the end of set-up: everything before this instant is `setup_s`.
    * Then (untimed) take the live heap of the set-up system — its caches,
    * indexes and artifacts in memory — and snapshot the artifact store. */
  def setupDone(ctx: Ctx): Unit = {
    ctx.result("setup_done_epoch_ms") = System.currentTimeMillis()
    ctx.result("live_heap_setup_mb") = liveHeapMb()
    ctx.result("gc_ms_at_setup") = gcMs()
    storeBefore = storeEntries(artifactDir)
  }

  private def artifactDir = System.getProperty("graft.artifacts.dir")
  private var storeBefore = Map.empty[String, (Long, Long)]

  /** The timed region has ended: record its length, the run-level
    * counters and, when traced, the per-layer summary and the spans. The
    * live heap is taken again (untimed); the larger of the two samples is
    * `live_heap_mb`, the peak, so heap the timed work keeps (cached
    * artifacts, state growth) counts too. */
  def timedDone(ctx: Ctx, wallMs: Double, timedOps: Seq[Op]): Unit = {
    ctx.result("timed_wall_ms") = wallMs
    ctx.result("timed_cpu_ms") = timedCpuMs
    ctx.result("timed_ops") = timedOps.map(_.id)
    ctx.result("gc_ms_timed") = gcMs() - ctx.result("gc_ms_at_setup").asInstanceOf[Long]
    ctx.result("cache_bytes") = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    ctx.result("artifact_degrades") = graft.ArtifactStore.degradeEvents.get()
    ctx.result("lake_degrades") = graft.sources.Lake.degradeEvents.get()
    ctx.result("store") = storeDelta(storeBefore, storeEntries(artifactDir))
    ctx.tracer.recorded().foreach { rec =>
      val (layers, self) = Layers.summarize(timedOps, rec, wallMs, ctx.cores)
      ctx.result("layers") = layers
      ctx.result("self_ms") = self
      val w = Files.newBufferedWriter(ctx.run.resolve("trace.jsonl"))
      try Layers.spansJsonl(ctx.tracer.ops.toSeq, rec).foreach { l => w.write(l); w.write('\n') }
      finally w.close()
    }
    ctx.result("live_heap_end_mb") = liveHeapMb()
    ctx.result("live_heap_mb") = math.max(ctx.result("live_heap_setup_mb").asInstanceOf[Double],
      ctx.result("live_heap_end_mb").asInstanceOf[Double])
  }

  private def report(ctx: Ctx): Unit = {
    ctx.result("ops") = ctx.tracer.ops.map { o =>
      Map("id" -> o.id, "kind" -> o.kind, "pass" -> o.pass, "ms" -> o.ms, "ok" -> o.ok,
        "error" -> o.error, "result" -> o.result)
    }
    Files.writeString(ctx.run.resolve("result.json"), Json.write(ctx.result))
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation MB in use right after full collections. A collection
    * only queues the broadcasts, shuffles and cached RDDs whose owners
    * died; Spark's cleaner then drops their blocks on its own thread (a
    * search's broadcast relation holds tens of MB), so collect four times
    * 300 ms apart, and on while the old generation still shrinks. */
  def liveHeapMb(): Double = {
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def collect(): Double = {
      System.gc()
      val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
        else java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      used / (1024.0 * 1024.0)
    }
    var last = Double.MaxValue
    var now = collect()
    var rounds = 1
    while (rounds < 4 || (now < last - 1.0 && rounds < 12)) {
      Thread.sleep(300)
      last = now
      now = collect()
      rounds += 1
    }
    now
  }

  private def regularFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def bytesUnder(dir: String): Long = regularFiles(dir).map(Files.size).sum

  def filesUnder(dir: String): Long = regularFiles(dir).size.toLong

  /** Entries of the artifact store: name -> (bytes, last-modified ms). */
  def storeEntries(dir: String): Map[String, (Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith("_tmp_"))
        .map(e => e.getFileName.toString ->
          (bytesUnder(e.toString), Files.getLastModifiedTime(e).toMillis)).toMap
      finally s.close()
    }
  }

  /** Memo-store counters between two snapshots: entries and bytes written,
    * and entries read (the store touches an entry each time it serves it). */
  def storeDelta(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, Double] = {
    val written = after.keySet -- before.keySet
    val read = (after.keySet & before.keySet).count(k => after(k)._2 > before(k)._2)
    Map("memo.store_entries_written" -> written.size.toDouble,
      "memo.store_bytes_written" -> written.toSeq.map(after(_)._1).sum.toDouble,
      "memo.store_entries_read" -> read.toDouble)
  }

  /** Run `rounds` rounds of `step`, timed as one region; returns the
    * elapsed ms. The count is fixed before the region starts, so every run
    * does the same work, however fast the engine is. */
  def timed(rounds: Int)(step: Int => Unit): Double = {
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    (0 until rounds).foreach(step)
    val wall = (System.nanoTime() - t0) / 1e6
    timedCpuMs = (processCpuNs() - c0) / 1e6
    wall
  }
  private var timedCpuMs = 0.0

  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Rounds for a run of `seconds`, at a fixed nominal `perRoundS` per
    * round and at least `min`: `--seconds` sizes the work, the engine's
    * speed does not. */
  def rounds(ctx: Ctx, perRoundS: Double, min: Int): Int =
    math.max(min, math.round(ctx.seconds / perRoundS).toInt)
}
