package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

import graft.expressions.{HashEmbed, RepetitionRatio, Shingles, SimHash, Tokens}

/** Text-pipeline column functions: embedding, templating, tokenization,
  * intent rules — the reference's text stages re-expressed as codegen-friendly
  * Spark columns (no Python UDFs, no driver loops).
  */
object TextFunctions {

  /** Deterministic hash embedding (see HashEmbed). Default dim matches the
    * driver testdata's 64-dim vectors; the reference uses 384 (`rag.py:35`).
    */
  def hashEmbed(text: Column, dim: Int = 64): Column =
    GraftBridge.column(HashEmbed(GraftBridge.expression(text), dim))

  /** Canonical embed-text template — byte-compatible shape with the
    * reference's f-string (`rag.py:48`):
    * "{name}, category: {category}, color: {color}, price: {price}$,
    *  image: {img_url}, description: {description}".
    */
  def productContent(name: Column, category: Column, color: Column,
                     price: Column, imgUrl: Column, description: Column): Column =
    concat(
      name, lit(", category: "), category,
      lit(", color: "), color,
      lit(", price: "), price.cast("string"), lit("$"),
      lit(", image: "), imgUrl,
      lit(", description: "), description)

  /** Whitespace tokens of lowercased text, empties dropped — the shared
    * tokenization of HashEmbed, the chunker and the text-analysis ops.
    *
    * Equal to Spark's `filter(split(lower(trim(text)), "\\s+"), t => t =!= "")`
    * under either `spark.sql.icu.caseMappings.enabled`, but one native pass
    * per row (see graft.expressions.Tokens): it mirrors Spark's UTF8_BINARY
    * `trim` and `lower` (ICU root case mapping, ASCII fast path) without
    * Spark's `CollationAwareUTF8String`, whose one-time title-case table
    * build costs about 1.6 s in the first `lower()` of a JVM, and without
    * the interpreted `filter` lambda.
    */
  def tokens(text: Column): Column =
    GraftBridge.column(Tokens(GraftBridge.expression(text)))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** PII regexes — shared verbatim with the oracle SQL (both Java regex
    * and RE2 dialects accept them) so redaction is engine-identical.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else sees the text: emails then phone numbers replaced by
    * typed placeholders (order matters and is mirrored in the oracle).
    * Narrow per-row regex work; at 100 TB this is scan-bound and
    * embarrassingly parallel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** 32-bit SimHash fingerprint (see graft.expressions.SimHash). */
  def simhash(text: Column): Column =
    GraftBridge.column(SimHash(GraftBridge.expression(text)))

  /** Word n-gram shingles, single native pass (see graft.expressions.Shingles;
    * same semantics as Dedup.shingles (+ array_distinct when `distinct`),
    * ~20x faster than the interpreted higher-order-function chain).
    */
  def shingles(text: Column, n: Int = 3, distinct: Boolean = false): Column =
    GraftBridge.column(Shingles(GraftBridge.expression(text), n, distinct))

  /** C4/Gopher-style duplicate-shingle ratio in [0, 1) — one native pass. */
  def repetitionRatio(text: Column, n: Int = 3): Column =
    GraftBridge.column(RepetitionRatio(GraftBridge.expression(text), n))

  /** Single source of truth for the intent-routing word lists — shared by
    * the column classifier, the driver-side Rag.intentOf, and the oracle
    * SQL builder (SparkEntry) so they can never desynchronize.
    */
  val ProductWords: Seq[String] = Seq("order", "customer", "part", "value")
  val AdviceWords: Seq[String] = Seq("slow", "fast", "query")

  /** Rule-based 3-class intent router — M1 semantics (reference
    * `rag.py:93-123`): product_search / niche_advice / mixed, with
    * product_search as the fallback class (`rag.py:121-123`).
    */
  def classifyIntent(text: Column,
                     productWords: Seq[String] = ProductWords,
                     adviceWords: Seq[String] = AdviceWords): Column = {
    val t = lower(text)
    def hasAny(ws: Seq[String]): Column =
      ws.map(w => t.contains(w)).reduce(_ || _)
    val isProduct = hasAny(productWords)
    val isAdvice = hasAny(adviceWords)
    when(isProduct && isAdvice, lit("mixed"))
      .when(isAdvice, lit("niche_advice"))
      .otherwise(lit("product_search")) // fallback class, rag.py:121-123
  }
}
