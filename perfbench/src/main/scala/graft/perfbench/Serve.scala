package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.operators.{Etag, MergePatch, Renest, Search, Shred}
import graft.sources.StarDocs
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `serve`: the reference's REST surface as a closed loop — one client
  * that waits for each reply before sending its next request.
  *
  * Set-up builds the store from the generated documents: the search index
  * (documents assembled, shredded, ETag-tagged) and the authoritative KV
  * state (the bulk changelog through `Ingest.run`), then runs the first
  * block of the stream untimed as warm-up. Timed: the next blocks of the
  * seeded request stream, in order, one block per nominal 4 s of the run
  * (at least two). Set-up's `index` and `bulk_load` phases are the write
  * path from documents to a servable store, and are reported as its
  * ingest cost. */
object Serve {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    import spark.implicits._
    val state = ctx.dir("state")
    val changelog = ctx.dir("changelog")
    val checkpoint = ctx.run.resolve("checkpoint").toString

    val docs = StarDocs.docs(spark, ctx.data)
    val typed = Shred.shredTyped(docs)
    val nodes = Shred.nodes(docs)
    val etags = new graft.PlanMemo()(docs, "perfbench.etags")(
      Etag.withEtag(docs).select("__key", "__etag"))
    typed.values.foreach(_.count())
    etags.count()
    ctx.phase("index")
    Files.copy(ctx.run.resolve("bulk.jsonl"), Paths.get(changelog, "bulk.jsonl"))
    Ingest.run(spark, changelog, state, checkpoint)
    val bulkLines = Files.readAllLines(ctx.run.resolve("bulk.jsonl")).size
    ctx.phase("bulk_load")
    ctx.result("stored_bytes") = Main.bytesUnder(ctx.run.resolve("artifacts").toString) +
      Main.bytesUnder(state)

    val root = typed("")
    val lineitems = typed("lineitems")
    var seq = bulkLines.toLong
    val etagCache = scala.collection.mutable.Map[String, String]()

    def restrict(hits: DataFrame): Map[String, DataFrame] = {
      val keys = hits.select(col("__key").as("__hit"))
      typed.map { case (p, df) => p -> df.join(keys, col("__rootKey") === col("__hit"), "left_semi") }
    }
    def summarize(rows: Array[Row]): String = rows.map { r =>
      val lis = Option(r.getAs[scala.collection.Seq[Row]]("lineitems")).getOrElse(Nil)
      s"${r.getAs[String]("objectId")}:${lis.size}:${lis.map(_.getAs[Double]("l_quantity")).sum}"
    }.sorted.mkString(",")
    def day(r: com.fasterxml.jackson.databind.JsonNode) =
      java.time.LocalDateTime.parse(r.get("date").asText())
    def write(kind: String, key: String, doc: String): Unit = {
      seq += 1
      val rec = Json.write(Map("seq" -> seq, "op" -> kind, "key" -> key, "doc" -> Option(doc)))
      Files.writeString(Paths.get(changelog, f"w-$seq%09d.jsonl"), rec + "\n")
      val q = t.call("streaming", "Ingest.run")(Ingest.run(spark, changelog, state, checkpoint))
      q.exception.foreach(e => throw e)
    }

    def serve(r: com.fasterxml.jackson.databind.JsonNode, pass: Int): Op = {
      val kind = r.get("kind").asText()
      val key = Option(r.get("key")).map(_.asText()).orNull
      t.op(kind, pass) { op =>
        kind match {
          case "get" =>
            val df = t.call("streaming", "Ingest.readStateKey")(Ingest.readStateKey(spark, state, key))
            op.result = t.collect(df).headOption.map(_.getAs[String]("doc")).orNull
          case "conj" =>
            val hits = t.call("operators", "Search.conjEquals")(Search.conjEquals(root,
              Seq("o_orderdate" -> day(r), "o_orderstatus" -> r.get("status").asText())))
            val out = t.call("operators", "Renest")(Renest(restrict(hits), docs.schema))
            op.result = summarize(t.collect(out))
          case "child_range" =>
            val parents = t.call("operators", "Search.conjEquals")(
              Search.conjEquals(root, Seq("o_orderdate" -> day(r))))
            val hits = t.call("operators", "Search.hasChildRange")(Search.hasChildRange(parents,
              lineitems, "__key", "__parentKey", col("l_quantity"), r.get("threshold").asDouble(),
              lt = r.get("lt").asBoolean()))
            val out = t.call("operators", "Renest")(Renest(restrict(hits), docs.schema))
            op.result = summarize(t.collect(out))
          case "has_parent" =>
            val parents = t.call("operators", "Search.conjEquals")(Search.conjEquals(root,
              Seq("o_orderdate" -> day(r), "o_orderstatus" -> r.get("status").asText())))
            val out = t.call("operators", "Search.hasParent")(
              Search.hasParent(lineitems, parents, "__parentKey", "__key")).select("__key")
            op.result = t.collect(out).map(_.getString(0)).sorted.mkString(",")
          case "routing" =>
            val out = t.call("operators", "Search.byRouting")(Search.byRouting(nodes, key)).select("key")
            op.result = t.collect(out).map(_.getString(0)).sorted.mkString(",")
          case "cond_read" =>
            val tag = if (r.get("revalidate").asBoolean()) etagCache.get(key) else None
            val req = Seq((key, tag)).toDF("key", "ifNoneMatch")
            val out = t.call("operators", "Etag.conditionalRead")(Etag.conditionalRead(etags, req))
              .select("status", "etag")
            val row = t.collect(out).head
            val etag = Option(row.getAs[String]("etag"))
            etag.foreach(etagCache(key) = _)
            op.result = s"${row.getAs[Int]("status")}:${etag.getOrElse("")}:${tag.isDefined}"
          case "patch" =>
            val cur = t.call("streaming", "Ingest.readStateKey")(Ingest.readStateKey(spark, state, key))
            val merged = t.call("operators", "MergePatch.json")(
              MergePatch.json(cur, Seq((key, r.get("patch").asText())).toDF("key", "patch")))
            val doc = t.collect(merged).headOption.map(_.getAs[String]("doc"))
              .getOrElse(throw new IllegalStateException(s"PATCH of absent key $key"))
            write("update", key, doc)
          case "put" => write("update", key, r.get("doc").asText())
          case "delete" => write("delete", key, null)
        }
      }
    }

    val reqs = Files.readAllLines(ctx.run.resolve("requests.jsonl")).asScala.map(Json.parse)
    val block = reqs.count(_.has("warmup")) // the warm-up is one block
    reqs.take(block).foreach(serve(_, pass = -1))
    ctx.phase("warmup")
    Main.setupDone(ctx)

    val first = t.ops.size
    // whole blocks (one request of each kind, see gen.py), so that every
    // kind has a timed sample per block
    val blocks = Main.rounds(ctx, perRoundS = 4.0, min = 2)
    ctx.result("blocks") = blocks
    val wall = Main.timed(blocks * block) { i => serve(reqs(block + i), pass = i / block) }
    val timedOps = t.ops.drop(first).toSeq
    Main.timedDone(ctx, wall, timedOps)
    ctx.result("state_files") = Main.filesUnder(state)
    ctx.result("state_bytes") = Main.bytesUnder(state)

    // the whole live state, for the checker's final comparison (untimed)
    val w = Files.newBufferedWriter(ctx.run.resolve("final_state.jsonl"))
    try Ingest.readState(spark, state).collect().foreach { row =>
      w.write(Json.write(Map("key" -> row.getString(0), "doc" -> row.getString(1)))); w.write('\n')
    } finally w.close()
  }
}
