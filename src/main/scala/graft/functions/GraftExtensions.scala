package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions hook exposing the native expressions to SQL:
  *
  * {{{
  * val spark = graft.LocalSession(4,
  *   "spark.sql.extensions" -> "graft.functions.GraftExtensions")
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * spark.sql("SELECT minhash_signature(text, 3, 16) ...")
  * }}}
  *
  * `GraftExtensions.register(spark)` does the same for an already-running
  * session (used by tests and interactive sessions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // opt-in nested-loop lint (spark.graft.planGuard.enabled) — see
    // graft.plans.PlanGuardRule
    e.injectQueryStagePrepRule(graft.plans.PlanGuardRule(_))
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[Native.CosineSimilarity].getName,
        "cosine_similarity"),
      (exprs: Seq[Expression]) =>
        Native.CosineSimilarity(exprs(0), exprs(1))),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[Native.MinHashSignature].getName,
        "minhash_signature"),
      (exprs: Seq[Expression]) =>
        Native.MinHashSignature(exprs(0),
          intArg(exprs(1), "n"), intArg(exprs(2), "numHashes"))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[Native.WordShingles].getName,
        "word_shingles"),
      (exprs: Seq[Expression]) =>
        Native.WordShingles(exprs(0), intArg(exprs(1), "n"))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Native.SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => Native.SimHash64(exprs(0))),
    (FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[Native.WinnowFingerprints].getName,
        "winnow_fingerprints"),
      (exprs: Seq[Expression]) =>
        Native.WinnowFingerprints(exprs(0),
          intArg(exprs(1), "k"), intArg(exprs(2), "w")))
  )

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.GraftSqlBridge.registerFunction(
        spark, id, info, builder)
    }
}
