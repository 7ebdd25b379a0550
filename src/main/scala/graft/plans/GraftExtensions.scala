package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the custom kernels: registers every entry of
  * [[GraftExtensions.functions]] (`cosine_sim`, `minhash_sig`, ...) as a
  * SQL function, so `spark.sql(...)` users (and the thrift/Connect
  * surface on a real cluster) reach the same codegen'd expressions as the
  * Scala API.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (the standard extension hook);
  *  - [[GraftExtensions.register]] for an already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}

object GraftExtensions {
  /** The k argument must be a foldable integer — accept any integral
    * literal type, fail with a named error otherwise (a bare
    * `.asInstanceOf[Int]` would throw an opaque ClassCastException on a
    * BIGINT literal and an eval error on a non-foldable column). */
  private[plans] def intArg(fn: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: second argument must be an integer literal")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        if (l < Int.MinValue || l > Int.MaxValue) // .toInt would silently
          // wrap (4294967296 → k=0: empty signatures that LSH-match everything)
          throw new IllegalArgumentException(s"$fn: integer argument out of range: $l")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(s"$fn: expected an integer literal, got $other")
    }
  }

  /** Every SQL function the engine exposes, name → expression builder:
    * the one table both registration paths read. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (args => CosineSimilarity(args(0), args(1))),
    "sorted_jaccard" -> (args => SortedArrayJaccard(args(0), args(1))),
    "minhash_sig" -> (args => MinHashSignature(args(0), intArg("minhash_sig", args(1)))),
    "hashed_shingles" -> (args => HashedShingles(args(0), intArg("hashed_shingles", args(1)))),
    "json_merge_patch" -> (args => JsonMergePatch(args(0), args(1))),
    "simhash_tokens" -> (args => SimHashTokens(args(0), intArg("simhash_tokens", args(1)))))

  /** Imperative registration on a live session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
