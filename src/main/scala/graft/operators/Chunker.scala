package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.expressions.ChunkWindows

/** Document chunking for embedding pipelines — the UDTF/Generator shape
  * (SURVEY.md §2.11): split each document into overlapping token windows
  * (size `chunkSize`, stride `stride`), one row per chunk after explode.
  * The standard RAG pre-embedding stage the reference applies implicitly by
  * embedding whole short documents; required for long documents at scale.
  *
  * Narrow (no shuffle); chunk count per doc = ceil(tokens / stride). The
  * windows are one native kernel per row (graft.expressions.ChunkWindows
  * over the engine tokenizer, TextFunctions.tokens), not a composed
  * `transform(sequence(...), i => array_join(slice(tokens, ...), " "))`:
  * Spark evaluates that lambda interpreted, and it re-tokenizes the
  * document for every window.
  */
object Chunker {

  /** Array of (chunk, chunk_tokens) windows of a text column. */
  private def windows(text: Column, chunkSize: Int, stride: Int): Column =
    GraftBridge.column(ChunkWindows(GraftBridge.expression(text), chunkSize, stride))

  /** Array of chunk strings for a text column (empty for null text). */
  def chunkTokens(text: Column, chunkSize: Int = 20, stride: Int = 10): Column =
    windows(text, chunkSize, stride).getField("chunk")

  /** Exploded chunk rows: (idCol, chunk_idx, chunk, chunk_tokens). */
  def chunk(df: DataFrame, idCol: Column, textCol: Column,
            chunkSize: Int = 20, stride: Int = 10): DataFrame =
    df.select(idCol.as("id"),
        posexplode(windows(textCol, chunkSize, stride)).as(Seq("chunk_idx", "w")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("w.chunk").as("chunk"), col("w.chunk_tokens").as("chunk_tokens"))
}
