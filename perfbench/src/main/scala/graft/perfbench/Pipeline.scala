package graft.perfbench

import java.nio.file.Files

import graft.SparkEntry

import scala.jdk.CollectionConverters._

/** `pipeline`: the LLM-data curation job as warm passes. Each pass runs the
  * listed `graft.ext`-backed queries in order and collects their results;
  * set-up runs three untimed passes, the first of which builds the derived
  * artifacts (edge lists, indexes, models) the others reuse. Every pass's answer is
  * compared with the others, and each query's latest answer is written out
  * with its oracle SQL for the checker. Timed: whole passes, one per
  * nominal 2.5 s of the run (at least three, so a query's median shrugs
  * off one slow pass). */
object Pipeline {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val queries = Files.readAllLines(ctx.run.resolve("queries.txt")).asScala.filter(_.nonEmpty).toSeq
    val answers = scala.collection.mutable.Map[String, (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])]()

    def query(q: String, p: Int): Unit = t.op(q, p) { op =>
      val df = t.call("ext", q)(SparkEntry.queries(q)(spark, ctx.data))
      val rows = t.collect(df)
      op.result = canonical(rows)
      answers(q) = (df.schema, rows)
    }

    // set-up: a cold pass, which builds the derived artifacts, then two warm
    // passes, after which a query's time has stopped falling (the first
    // warm passes still ran up to twice as long as the third)
    (-3 to -1).foreach(p => queries.foreach(query(_, p)))
    Main.setupDone(ctx)
    val first = t.ops.size
    val passes = Main.rounds(ctx, perRoundS = 2.5, min = 3)
    val wall = Main.timed(passes * queries.size) { i => query(queries(i % queries.size), i / queries.size) }
    Main.timedDone(ctx, wall, t.ops.drop(first).toSeq)
    ctx.result("stored_bytes") = Main.bytesUnder(ctx.run.resolve("artifacts").toString) +
      Main.bytesUnder(ctx.run.resolve("lake").toString)

    // the last pass's answers, for the oracle comparison (untimed)
    val out = ctx.dir("answers")
    answers.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$q")
    }
    ctx.result("oracle_sql") = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }

  /** Order-insensitive digest of a result set. */
  def canonical(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
