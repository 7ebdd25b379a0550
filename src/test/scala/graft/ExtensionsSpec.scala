package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("custom kernels are callable from SQL after registration") {
    GraftExtensions.register(spark)
    graft.sources.Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("e50")
    val viaSql = spark.sql(
      """SELECT a.vec_id ia, b.vec_id ib, cosine_sim(a.embedding, b.embedding) c
        |FROM e50 a JOIN e50 b ON a.vec_id < b.vec_id""".stripMargin)
    val viaApi = {
      val e = graft.sources.Tables.embeddings(spark, sf).limit(50)
      e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
    }
    assert(viaSql.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      viaApi.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)

    val sig = spark.sql(
      "SELECT minhash_sig(hashed_shingles(split('a b c d e f g', ' '), 3), 4) s")
      .head().getSeq[Long](0)
    assert(sig.length == 4 && sig.forall(_ >= 0))

    assert(spark.sql(
      "SELECT sorted_jaccard(array(1L,2L,3L), array(2L,3L,4L)) j")
      .head().getDouble(0) == 0.5)

    // json_merge_patch from SQL == the same kernel through the Scala API
    // (reference semantics: explicit null ASSIGNS null — m1_null_clear's
    // fidelity contract — it does not delete the member as RFC 7386 would;
    // nested objects merge recursively, new members append)
    val patchSql = spark.sql(
      """SELECT json_merge_patch('{"a":1,"b":{"x":1,"y":2},"c":3}',
        |'{"b":{"y":null,"z":9},"c":null,"d":4}') m""".stripMargin)
      .head().getString(0)
    val patchApi = spark.range(1).select(
      graft.plans.JsonExpressions.jsonMergePatch(
        lit("""{"a":1,"b":{"x":1,"y":2},"c":3}"""),
        lit("""{"b":{"y":null,"z":9},"c":null,"d":4}""")).as("m"))
      .head().getString(0)
    assert(patchSql == patchApi)
    assert(patchSql == """{"a":1,"b":{"x":1,"y":null,"z":9},"c":null,"d":4}""", patchSql)

    // simhash_tokens from SQL == TextFunctions' simhash column expression
    val shSql = spark.sql(
      "SELECT simhash_tokens(split('spark query window data', ' '), 16) s")
      .head().getLong(0)
    val shApi = spark.range(1).select(
      graft.plans.ShingleExpression.simhashTokens(
        split(lit("spark query window data"), " "), 16).as("s"))
      .head().getLong(0)
    assert(shSql == shApi)
  }

  test("every function in the extension table resolves through SQL after register") {
    GraftExtensions.register(spark)
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct == names, s"duplicate names in the function table: $names")
    names.foreach { n =>
      val described = spark.sql(s"DESCRIBE FUNCTION $n").collect().map(_.getString(0))
      assert(described.headOption.contains(s"Function: $n"),
        s"$n does not resolve: ${described.toSeq}")
    }
  }
}
