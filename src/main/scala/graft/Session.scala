package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main and the test suite build their
  * session here, so a plan dumped by [[Probe]] is the plan the bench or the
  * suite runs. Two profiles:
  *
  *  - [[bench]]: `graft.Bench`, `graft.Verify` and Probe's `time`, `jobs`
  *    and `explain` modes — `local[SPARK_GRAFT_CPUS]` (default 4) with as
  *    many shuffle partitions and a 64 MB broadcast threshold;
  *  - [[test]]: the suite's session (`TestSpark`) and Probe's `shuffles`
  *    and `stages` modes — `local[4]`, 4 partitions, Spark's default
  *    broadcast threshold. `PlanAuditSpec`'s budgets are measured under
  *    it: join strategies and partitioning depend on every setting here.
  */
object Session {
  /** Core count (and shuffle partitions) of the bench profile. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def bench(): SparkSession = {
    val spark = build("graft", cpus,
      // slim doc-metadata sides (orders-scale) fit comfortably in memory;
      // broadcasting them keeps the fat nested-array side of renest joins
      // unshuffled (at cluster scale: broadcast the dimension side)
      "spark.sql.autoBroadcastJoinThreshold" -> String.valueOf(64L * 1024 * 1024))
    // FileStreamSink's is-this-a-streaming-sink probe can't stat a glob
    // path (x_lsm_compacted_read's b*/v*) and logs a full spurious
    // FileNotFoundException trace at WARN before reading fine; keep the
    // log clean so real failures stand out
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    // bounded-by-construction two-phase top-k finals run their last rank
    // on one declared task (input ≤ k·partitions rows); WindowExec's
    // blanket "No Partition Defined" WARN is spurious for them and
    // drowns real signal in the drive logs. Fat single-task windows on
    // DATA are guarded with teeth by SkewSpec/SoakSpec stage listeners.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def test(): SparkSession =
    build("graft-test", "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh").toString)

  /** Untimed warmup: JIT + whole-stage-codegen compilation + parquet
    * reader init, so the first timed query measures the query, not JVM
    * startup (~3-4 s otherwise attributed to whichever query runs first). */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("count(md5(cast(id as string)))").collect()

  private def build(app: String, cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // routing-key (rootKey) partitioning must satisfy joins keyed on
      // (parentKey, rootKey) — subset co-partitioning, disabled by default
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
