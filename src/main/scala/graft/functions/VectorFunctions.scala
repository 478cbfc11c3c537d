package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

import graft.expressions.{CosineSimExpr, DotProductExpr, L2DistanceExpr, NormalizeExpr, VectorSumFp}

/** Vector distance / similarity column functions over `ARRAY<FLOAT>` /
  * `ARRAY<DOUBLE>` columns.
  *
  * Spark-native analogue of pgvector's distance operators used by the
  * reference: `<->` L2 (reference `rag.py:78`), plus the `<=>` cosine and
  * `<#>` inner-product analogues the reference's stack supports.
  *
  * Primary forms are fused codegen Catalyst expressions (tight primitive
  * loop inside whole-stage codegen — see graft.expressions); the
  * `*Composed` twins are the built-in `zip_with`+`aggregate` formulations
  * kept for cross-checking. Both accumulate left-to-right in double, so
  * results are bit-identical to each other and to the SQL oracle's
  * left-associated sum chains.
  *
  * Scale note: narrow per-row expressions — no shuffle, perfectly
  * distributed; at 100 TB the cost is a single scan.
  */
object VectorFunctions {

  private def bridge2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                          org.apache.spark.sql.catalyst.expressions.Expression) =>
                          org.apache.spark.sql.catalyst.expressions.Expression)
                     (a: Column, b: Column): Column =
    GraftBridge.column(f(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Euclidean (L2) distance — pgvector `<->` (reference `rag.py:78`). */
  def l2(a: Column, b: Column): Column = bridge2(L2DistanceExpr)(a, b)

  /** Inner product — pgvector `<#>` analogue (negated there; plain dot here). */
  def dot(a: Column, b: Column): Column = bridge2(DotProductExpr)(a, b)

  /** Cosine similarity — pgvector `<=>` is `1 - cosine`; we expose similarity. */
  def cosine(a: Column, b: Column): Column = bridge2(CosineSimExpr)(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  // ---- composed (built-in HOF) twins, for cross-checks and reference ----

  private def d(c: Column): Column = c.cast("double")

  private def zipSum(a: Column, b: Column, f: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, (x, y) => f(d(x), d(y))), lit(0.0), (acc, v) => acc + v)

  def l2SqComposed(a: Column, b: Column): Column =
    zipSum(a, b, (x, y) => (x - y) * (x - y))

  def l2Composed(a: Column, b: Column): Column = sqrt(l2SqComposed(a, b))

  /** L2-normalize a vector to unit length (elements widened to double;
    * zero vector stays zero). Single-pass expression — the composed
    * `transform(a, _ / norm(a))` form is O(d²) per row.
    */
  def normalize(a: Column): Column =
    GraftBridge.column(NormalizeExpr(GraftBridge.expression(a)))

  /** Dimension guard: Spark has no fixed-length vector type (SURVEY.md §1.4
    * hard part (a)) — enforce via predicate, e.g. `df.filter(dimIs(col, 384))`.
    */
  def dimIs(a: Column, dim: Int): Column = size(a) === lit(dim)

  // ---- signed random projection (Johnson–Lindenstrauss reduction) ----

  /** Deterministic ±1 sign for projection-matrix cell (i, j), both
    * 0-based — a dense Achlioptas sign matrix derived from a fixed
    * integer formula, so the SQL oracle (OracleGen.randProjChain)
    * materializes the identical constant term for term. Distances in the
    * projected space approximate the originals within JL distortion at
    * outDim/inDim of the arithmetic and memory bandwidth — the 100 TB
    * first-pass lever: scan 8-d projections, exact-rerank only a
    * candidate head.
    */
  def randProjSign(i: Int, j: Int): Int =
    if (((i + 1) * 1315423911L + (j + 1) * 2654435761L) % 4294967296L
        < 2147483648L) 1 else -1

  /** One projected coordinate: the ±-signed left-associated sum of the
    * input elements widened to double. Pure built-in arithmetic — stays
    * inside whole-stage codegen, bit-identical to the oracle's chain
    * (Catalyst does not reassociate floating-point Add).
    */
  def randProjDim(vec: Column, j: Int, inDim: Int): Column =
    (0 until inDim).map { i =>
      val e = d(vec(i))
      if (randProjSign(i, j) > 0) e else -e
    }.reduceLeft(_ + _)

  /** Full projection as an `ARRAY<DOUBLE>` column. */
  def randProject(vec: Column, inDim: Int, outDim: Int): Column =
    array((0 until outDim).map(j => randProjDim(vec, j, inDim)): _*)

  /** Driver-side projection of a constant query vector with the same
    * left-to-right association the SQL constant chain folds — the
    * resulting doubles are bit-identical to the oracle's.
    */
  def randProjectQuery(q: Seq[Double], outDim: Int): IndexedSeq[Double] =
    (0 until outDim).map { j =>
      q.indices.map(i => if (randProjSign(i, j) > 0) q(i) else -q(i))
        .reduceLeft(_ + _)
    }

  /** Element-wise vector sum aggregate in 1e-12 fixed point — the custom
    * UDAF (TypedImperativeAggregate) surface; order/partitioning-exact.
    */
  def vectorSumFp(a: Column, dim: Int): Column =
    GraftBridge.column(
      VectorSumFp(GraftBridge.expression(a), dim).toAggregateExpression())
}
