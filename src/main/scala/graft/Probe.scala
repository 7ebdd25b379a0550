package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge

/** The one dev probe over [[SparkEntry.queries]]:
  *
  *   sbt "runMain graft.Probe <mode> <sfDir> [query...]"
  *
  * No query names means every query, in name order. Modes:
  *  - `time`: `SPARK_GRAFT_REPS` noop-sink walls per query after the
  *    bench warmup (rep 1 is the cold rep): `TIME <name> <s> <s> ...`;
  *  - `jobs`: per rep, the wall, executor CPU and job count; for the last
  *    rep also every job's wall, stage and task count, inter-job gaps over
  *    50 ms and a histogram of the driver thread's Spark frames — what
  *    tells an iterative operator's per-round fixed cost from its data cost;
  *  - `explain`: the formatted physical plan;
  *  - `shuffles`: [[printedExchanges]], `SHUF <name> <n>` — the source of
  *    `PlanAuditSpec`'s shuffle budgets;
  *  - `stages`: [[executedShuffleStages]], `STAGE <name> <n>` — the source
  *    of its executed-stage budgets.
  *
  * `time`, `jobs` and `explain` run under [[Session.bench]]; `shuffles`
  * and `stages` under [[Session.test]] with the disk artifact memo off, as
  * the test JVM runs (build.sbt), so their numbers are the audit's.
  */
object Probe {

  /** Shuffles in the printed (unexecuted) physical plan: node lines whose
    * name starts with "Exchange " — BroadcastExchange and ReusedExchange
    * do not match. */
  def printedExchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count { l =>
      l.dropWhile(c => !c.isLetter).startsWith("Exchange ")
    }

  /** Distinct shuffle stages of this query execution's final adaptive
    * plan. `collect()` (not `count()`) executes the df's own
    * QueryExecution, so the inspected plan is the one that ran
    * (isFinalPlan=true); reused stages share an id and count once. */
  def executedShuffleStages(df: DataFrame): Int = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    raw"ShuffleQueryStage (\d+)".r.findAllMatchIn(s).map(_.group(1)).toSet.size
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Probe <time|jobs|explain|shuffles|stages> <sfDir> [query...]")
    val Array(mode, sfDir) = args.take(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = mode match {
      case "shuffles" | "stages" =>
        System.setProperty("graft.disk.memo", "0")
        Session.test()
      case "time" | "jobs" | "explain" => Session.bench()
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, sfDir)
    try mode match {
      case "shuffles" | "stages" =>
        val (tag, count) =
          if (mode == "shuffles") ("SHUF", printedExchanges _)
          else ("STAGE", executedShuffleStages _)
        names.foreach { n =>
          val c = try count(query(n)) catch { case e: Throwable =>
            System.err.println(s"[probe] $n failed: ${e.getMessage}"); -1
          }
          println(s"$tag $n $c")
        }
      case "explain" =>
        names.foreach { n =>
          println(s"\n========== $n ==========")
          query(n).explain("formatted")
        }
      case "time" =>
        Session.warm(spark)
        names.foreach { n =>
          val ts = (1 to Bench.reps).map { _ =>
            val t0 = System.nanoTime()
            query(n).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"TIME $n ${ts.map(t => f"$t%.3f").mkString(" ")}")
        }
      case "jobs" => jobs(spark, names, query)
    } finally spark.stop()
  }

  private def jobs(spark: org.apache.spark.sql.SparkSession, names: Seq[String],
                   query: String => DataFrame): Unit = {
    val sc = spark.sparkContext
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Int)]()
    // per-rep executor CPU + job tally — the load-robust channel: walls on
    // a shared box swing 2-8x under external load, CPU-ms does not
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    @volatile var collect = false
    @volatile var lastEnd = 0L
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collect) {
          val now = System.nanoTime()
          val gap = if (lastEnd == 0) 0.0 else (now - lastEnd) / 1e6
          jobStart.put(j.jobId, (now, j.stageInfos.size, j.stageInfos.map(_.numTasks).sum))
          if (gap > 50) println(f"[gap] ${gap}%8.1f ms before job ${j.jobId}")
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobCount.incrementAndGet()
        if (collect) Option(jobStart.get(j.jobId)).foreach { case (t0, st, tk) =>
          lastEnd = System.nanoTime()
          println(f"[job] id=${j.jobId}%4d wall=${(lastEnd - t0) / 1e6}%8.1f ms stages=$st%2d tasks=$tk%4d")
        }
      }
    })
    Session.warm(spark)
    // driver-side stack sampler (an in-process thread-dump loop): samples
    // the main thread every 50 ms during the LAST rep and prints a frame
    // histogram — names the single-threaded driver work behind the
    // inter-job gaps that job walls can't see
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val mainThread = Thread.currentThread()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          // first in-Spark frame below the scala/java plumbing
          val frame = st.find(f => f.getClassName.startsWith("org.apache.spark"))
            .orElse(st.headOption)
            .map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("<none>")
          samples.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()
    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      (1 to Bench.reps).foreach { i =>
        if (i == Bench.reps) { lastEnd = 0L; collect = true; sampling = true }
        val cpu0 = cpuNs.get(); val jobs0 = jobCount.get()
        val t0 = System.nanoTime()
        query(name).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        sampling = false
        // the CPU and job tallies arrive by listener event: count them
        // only once every event of this rep is in, and outside its wall
        if (!bridge.drainListeners(sc))
          System.err.println(s"[probe] listener bus still busy; $name rep$i counters are partial")
        collect = false
        println(f"[profile] $name rep$i: $wall%.3f s " +
          f"cpu=${(cpuNs.get() - cpu0) / 1e9}%.2f s jobs=${jobCount.get() - jobs0}")
      }
      samples.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (f, n) =>
        println(f"[stack] $n%4d  $f")
      }
      samples.clear()
    }
  }
}
