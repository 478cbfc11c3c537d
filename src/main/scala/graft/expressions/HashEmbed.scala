package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic, model-free text embedding as a native Catalyst expression.
  *
  * Stand-in for the reference's `SentenceTransformer.encode` stage
  * (reference `rag.py:27,49,72-73`): same pipeline position (text → fixed-dim
  * float vector, applied per row and per query), but reproducible so the
  * DuckDB oracle can recompute it (SURVEY.md §7 hard part (b)). A real model
  * would slot in behind the same column-function interface via batched
  * `mapPartitions`.
  *
  * Algorithm (signed feature hashing, "hashing trick"):
  *   tokens  = lower(trim(text)) split on \s+, empties dropped (the
  *             engine's one tokenizer, [[Tokens]])
  *   bucket  = int(md5(token)[hex chars 4..6]) % dim
  *   sign    = +1 if hex char 7 of md5(token) is even, else -1
  *   counts[bucket] += sign                    (exact integer math)
  *   embedding = counts / sqrt(Σ counts²)      (zero vector if norm is 0)
  *
  * All intermediate state is integral, so results are bit-identical across
  * engines; only the final division/sqrt are floating-point, and those are
  * exactly-rounded IEEE ops on identical inputs.
  *
  * Scale: O(tokens) per row, no shuffle — a narrow projection that
  * distributes perfectly. Native doGenCode (a direct static call) keeps the
  * surrounding operators in one whole-stage-codegen span with no
  * per-row InternalRow boxing.
  */
case class HashEmbed(child: Expression, dim: Int)
    extends UnaryExpression {

  // read once, on first evaluation or codegen, as Spark's `Lower` does
  private final lazy val useICU = Tokens.icuCaseMappings

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hash_embed expects STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    HashEmbed.evalUTF8(input.asInstanceOf[UTF8String], dim, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.HashEmbed$$.MODULE$$.evalUTF8($c, $dim, $useICU);")

  override def prettyName: String = "hash_embed"
  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}

object HashEmbed {

  /** Entry point shared by interpreted eval and generated code. */
  def evalUTF8(s: UTF8String, dim: Int, useICU: Boolean): GenericArrayData =
    new GenericArrayData(embedTokens(Tokens.split(s, useICU), dim))

  /** Per-thread digest — `MessageDigest.getInstance` per token was the
    * hot-loop cost (provider lookup + allocation per call).
    */
  private[expressions] val threadMd5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def md5(token: String): Array[Byte] = {
    val md = threadMd5.get()
    md.reset()
    md.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** (bucket, sign) for one token. Hex positions match the SQL oracle
    * (`substr(md5(t), 4..7, 1)`, 1-based) — hex char 2i is the high
    * nibble of digest byte i, 2i+1 the low nibble, so chars 3..6 are
    * read straight off digest bytes 1..3 with no hex string built.
    */
  def bucketSign(token: String, dim: Int): (Int, Int) = {
    val d = md5(token)
    (bucket(d, dim), sign(d))
  }

  private def bucket(d: Array[Byte], dim: Int): Int =
    ((d(1) & 0xf) * 256 + ((d(2) >> 4) & 0xf) * 16 + (d(2) & 0xf)) % dim

  private def sign(d: Array[Byte]): Int = if ((((d(3) >> 4) & 0xf) & 1) == 0) 1 else -1

  /** The engine's tokens of `text` (see [[Tokens]]). */
  def tokens(text: String): Array[String] = Tokens.of(text)

  /** Driver-side embedding, for query vectors (reference `rag.py:72-73`
    * embeds the query the same way as rows); equal to the column form
    * under the active session's case mapping.
    */
  def embed(text: String, dim: Int): Array[Double] =
    embedTokens(Tokens.split(UTF8String.fromString(text), Tokens.icuCaseMappings), dim)

  /** Each token's md5 is taken straight off the lowered bytes: no String
    * per token.
    */
  private def embedTokens(t: Tokens.Split, dim: Int): Array[Double] = {
    val counts = new Array[Long](dim)
    val md = threadMd5.get()
    var j = 0
    while (j < t.n) {
      md.reset()
      md.update(t.bytes, t.start(j), t.end(j) - t.start(j))
      val d = md.digest()
      counts(bucket(d, dim)) += sign(d)
      j += 1
    }
    var norm2 = 0L
    var i = 0
    while (i < dim) { norm2 += counts(i) * counts(i); i += 1 }
    if (norm2 == 0L) new Array[Double](dim)
    else {
      val n = math.sqrt(norm2.toDouble)
      counts.map(c => c.toDouble / n)
    }
  }
}
