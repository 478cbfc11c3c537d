package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The native tokenizer against the Spark expression it replaces,
  * `filter(split(lower(trim(x)), "\\s+"), t => t =!= "")`, under both case
  * mappings and with whole-stage codegen, expression codegen and
  * interpreted evaluation.
  */
class TokensSpec extends SparkSpec {

  /** Spark's composed tokenizer — the reference the kernel must equal. */
  private def composed(x: Column): Column =
    filter(split(lower(trim(x)), "\\s+"), t => t =!= "")

  private val texts: Seq[Option[Array[Byte]]] = Seq(
    "Hello WORLD  MiXeD case",
    "ΟΔΟΣ ΟΔΟΣ. ΣΟΦΟΣ", // final sigma
    "İstanbul İ", // U+0130
    "ß ẞ STRASSE Maße",
    "a\tb\nc\r\n d\u00a0e \u000b f\fg", // NBSP (U+00A0) is not \s
    "\u0001abc", // U+0001 is neither trimmed nor \s
    "Ünïcödé WORD 中文 ✓",
    "   ",
    " \t\n ",
    ""
  ).map(s => Some(s.getBytes("UTF-8"))) ++ Seq(
    Some(Array(0x41, 0xff, 0x42, 0x20, 0xc3, 0x20, 0x61, 0xe2, 0x82).map(_.toByte)), // invalid UTF-8
    Some(Array(0xc0, 0x80, 0x20, 0x5a, 0xed, 0xa0, 0x80).map(_.toByte)), // overlong NUL, surrogate
    None)

  /** The inputs as a parquet scan (so projections over them are compiled,
    * not folded into a local relation), strings cast from bytes.
    */
  private lazy val input: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("tokens-spec").resolve("in").toString
    texts.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "b")
      .write.parquet(dir)
    spark.read.parquet(dir).select($"id", $"b".cast("string").as("s"))
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val evalModes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def tokensById(f: Column => Column): Map[Long, Option[Seq[String]]] =
    input.select(col("id"), f(col("s"))).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap

  for (icu <- Seq("true", "false"); (mode, confs) <- evalModes)
    test(s"tokens equal Spark's composed tokenizer (icu case mappings $icu, $mode)") {
      withConfs(("spark.sql.icu.caseMappings.enabled" -> icu) +: confs: _*) {
        val want = tokensById(composed)
        val got = tokensById(TextFunctions.tokens)
        assert(got.size == texts.size)
        assert(got == want)
        val counts = input.select(col("id"), TextFunctions.tokenCount(col("s"))).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(counts == want.map { case (i, t) => i -> t.map(_.size.toLong) })
      }
    }

  test("spot values: final sigma, dotted I, NBSP and control characters") {
    val got = tokensById(TextFunctions.tokens)
    val (odos, sofos) = ("\u03bf\u03b4\u03bf\u03c2", "\u03c3\u03bf\u03c6\u03bf\u03c2")
    assert(got(1L).contains(Seq(odos, odos + ".", sofos)))
    assert(got(2L).contains(Seq("i\u0307stanbul", "i\u0307")))
    assert(got(4L).contains(Seq("a", "b", "c", "d\u00a0e", "f", "g")))
    assert(got(5L).contains(Seq("\u0001abc")))
    assert(got(7L).contains(Nil) && got(9L).contains(Nil))
    assert(got(texts.size - 1L).isEmpty)
  }

  test("driver-side tokens equal the column form") {
    val got = tokensById(TextFunctions.tokens)
    texts.zipWithIndex.foreach {
      case (Some(b), i) =>
        val s = new String(b, "UTF-8")
        if (s.getBytes("UTF-8").sameElements(b))
          assert(got(i.toLong).contains(graft.expressions.HashEmbed.tokens(s).toList), s)
      case (None, _) =>
    }
  }
}
