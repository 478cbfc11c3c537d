package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expressions._

/** SQL-surface registration for graft's custom Catalyst expressions, so
  * they're callable from `spark.sql(...)` exactly like built-ins:
  *
  *   SELECT l2_distance(a.embedding, b.embedding), hash_embed(text, 64) ...
  *
  * [[GraftExtensions]] injects them into every session built with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Float, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: java.math.BigDecimal, _) =>
      v.doubleValue()
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "l2_distance" -> (es => L2DistanceExpr(es(0), es(1))),
    "dot_product" -> (es => DotProductExpr(es(0), es(1))),
    "cosine_sim" -> (es => CosineSimExpr(es(0), es(1))),
    "hash_embed" -> (es => HashEmbed(es(0),
      if (es.length > 1) intLit(es(1), "hash_embed dim") else 64)),
    "simhash" -> (es => SimHash(es(0))),
    "dhash" -> (es => DHash(es(0))),
    "wav_samples" -> (es => WavSamples(es(0))),
    "l2_normalize" -> (es => NormalizeExpr(es(0))),
    "vector_sum_fp" -> (es => VectorSumFp(es(0),
      if (es.length > 1) intLit(es(1), "vector_sum_fp dim") else 64)
      .toAggregateExpression()),
    "minhash_sig" -> (es => MinHashSig(es(0),
      if (es.length > 1) intLit(es(1), "minhash_sig numHashes") else 8,
      if (es.length > 2) intLit(es(2), "minhash_sig shingleN") else 3)),
    "shingles" -> (es => Shingles(es(0),
      if (es.length > 1) intLit(es(1), "shingles n") else 3,
      distinct = false)),
    "repetition_ratio" -> (es => RepetitionRatio(es(0),
      if (es.length > 1) intLit(es(1), "repetition_ratio n") else 3)),
    "cms_estimate" -> (es => CmsEstimate(es(0), es(1))),
    "mmr_greedy" -> (es => MmrGreedy(es(0),
      intLit(es(1), "mmr_greedy k"),
      if (es.length > 2) doubleLit(es(2), "mmr_greedy lambda") else 0.5)
      .toAggregateExpression())
  )
}

/** The engine's one install point, `spark.sql.extensions=graft.GraftExtensions`
  * (as [[GraftSession.local]] sets it): the SQL functions of
  * [[GraftFunctions.builders]], the opt-in [[graft.plans.LshKnnRule]]
  * (gated by `spark.graft.ann.autoLsh`) and the as-of join's
  * [[graft.plans.AsOfStrategy]]. Extensions are part of every session's
  * state, so `newSession()` children and streaming clones get all three.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        (es: Seq[Expression]) => b(es)))
    }
    ext.injectOptimizerRule(graft.plans.LshKnnRule(_))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
  }
}
