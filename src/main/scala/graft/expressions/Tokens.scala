package graft.expressions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of lowercased text as one native pass per row — the
  * engine's only tokenizer, equal to Spark's composed
  * `filter(split(lower(trim(x)), "\\s+"), t => t =!= "")`:
  *
  *   - trim: Spark's UTF8_BINARY `trim` (spaces only, `UTF8String.trim`);
  *   - lower: Spark's UTF8_BINARY `lower`, byte for byte (see
  *     `Tokens.lower`);
  *   - split on `\s+`, empties dropped.
  *
  * Why native: Spark's `lower` under the default
  * `spark.sql.icu.caseMappings.enabled` goes through
  * `CollationAwareUTF8String`, whose static initializer builds a title-case
  * lookup table over the whole code-point range (about 1.6 s on first use in
  * a JVM, even for pure-ASCII input, and every other task waits on the
  * class-init lock); and the `filter` lambda evaluates interpreted.
  */
case class Tokens(child: Expression) extends UnaryExpression {

  // read once, on first evaluation or codegen, as Spark's `Lower` does
  private final lazy val useICU = Tokens.icuCaseMappings

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens expects STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    Tokens.evalUTF8(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Tokens$$.MODULE$$.evalUTF8($c, $useICU);")

  override def prettyName: String = "tokens"
  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {

  /** The session's `spark.sql.icu.caseMappings.enabled`, read the way
    * Spark's `Lower` reads it.
    */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** Spark's `lower` on UTF8_BINARY: `CollationSupport.Lower.execBinaryICU`
    * (`CollationAwareUTF8String.toLowerCase`: ASCII fast path, else ICU's
    * root-locale `UCharacter.toLowerCase` of the valid string) when
    * `useICU`, else `execBinary` (the JVM's `UTF8String.toLowerCase`) —
    * without loading `CollationAwareUTF8String`.
    */
  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (!useICU) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): `[ \t\n\x0B\f\r]`. All
    * are single bytes that never occur inside a UTF-8 multi-byte sequence,
    * so splitting the (valid) lowered bytes equals splitting the string.
    */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Lowercased bytes of one text and the `[start, end)` byte bounds of its
    * `n` tokens, stored pairwise in `bounds`.
    */
  private[expressions] final class Split(val bytes: Array[Byte], bounds: Array[Int], val n: Int) {
    def start(i: Int): Int = bounds(2 * i)
    def end(i: Int): Int = bounds(2 * i + 1)
    /** Token `i` as a view over `bytes` (no copy). */
    def token(i: Int): UTF8String = UTF8String.fromBytes(bytes, start(i), end(i) - start(i))
  }

  private[expressions] def split(s: UTF8String, useICU: Boolean): Split = {
    // lowered text is always valid UTF-8 (ASCII, or re-encoded from a String)
    val bytes = lower(s.trim(), useICU).getBytes
    var bounds = new Array[Int](32)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        val start = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        if (2 * n + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
        bounds(2 * n) = start
        bounds(2 * n + 1) = i
        n += 1
      }
    }
    new Split(bytes, bounds, n)
  }

  /** Entry point shared by interpreted eval and generated code. */
  def evalUTF8(s: UTF8String, useICU: Boolean): GenericArrayData = {
    val t = split(s, useICU)
    val out = new Array[Any](t.n)
    var i = 0
    while (i < t.n) { out(i) = t.token(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Driver-side form, under the active session's case mapping. */
  def of(text: String): Array[String] = {
    val t = split(UTF8String.fromString(text), icuCaseMappings)
    Array.tabulate(t.n)(i => t.token(i).toString)
  }
}

/** Overlapping token windows of a text as one native pass per row: the
  * [[Tokens]] of the text, windows of `size` tokens every `stride` tokens
  * (`1 + (n - 1) / stride` windows for `n > 0` tokens, none for null or
  * token-free text), each joined with single spaces.
  *
  * Each element is `(chunk, chunk_tokens)`; `chunk_tokens` is the window's
  * length, which equals re-tokenizing the chunk because tokens hold no
  * `\s` and are joined by single spaces.
  */
case class ChunkWindows(child: Expression, size: Int, stride: Int) extends UnaryExpression {
  require(size > 0 && stride > 0, "chunkSize and stride must be positive")

  private final lazy val useICU = Tokens.icuCaseMappings

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(ChunkWindows.WindowType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"chunk_windows expects STRING input, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any =
    ChunkWindows.evalUTF8(child.eval(input).asInstanceOf[UTF8String], size, stride, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.expressions.ChunkWindows$$.MODULE$$.evalUTF8(
          ${c.isNull} ? null : ${c.value}, $size, $stride, $useICU);""",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "chunk_windows"
  override protected def withNewChildInternal(newChild: Expression): ChunkWindows =
    copy(child = newChild)
}

object ChunkWindows {
  val WindowType: StructType = StructType(Seq(
    StructField("chunk", StringType, nullable = false),
    StructField("chunk_tokens", LongType, nullable = false)))

  def evalUTF8(s: UTF8String, size: Int, stride: Int, useICU: Boolean): GenericArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val t = Tokens.split(s, useICU)
    val count = if (t.n == 0) 0 else (t.n - 1) / stride + 1
    val out = new Array[Any](count)
    var w = 0
    while (w < count) {
      val first = w * stride
      val last = math.min(first + size, t.n)
      var len = last - first - 1
      var i = first
      while (i < last) { len += t.end(i) - t.start(i); i += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      i = first
      while (i < last) {
        if (i > first) { buf(pos) = ' '; pos += 1 }
        val l = t.end(i) - t.start(i)
        System.arraycopy(t.bytes, t.start(i), buf, pos, l)
        pos += l
        i += 1
      }
      out(w) = new GenericInternalRow(Array[Any](UTF8String.fromBytes(buf), (last - first).toLong))
      w += 1
    }
    new GenericArrayData(out)
  }
}
