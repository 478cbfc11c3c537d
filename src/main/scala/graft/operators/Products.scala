package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Mime
import graft.tables.{Staging, Tables}

/** The reference's ingestion pipelines as end-to-end builders.
  *
  * E2 (products): CSV → 7-col projection → canonical content template →
  * embed → product_embeddings store (reference `products_import.py` +
  * `rag.py:22-62`). Unlike the reference — which `fetchall()`s every row to
  * the client and embeds row-at-a-time (`rag.py:41,46-50`) — this is a
  * single narrow Spark pipeline: no driver materialization, no shuffle,
  * embarrassingly parallel, writable straight to a partitioned store.
  *
  * E1 (emails): raw messages → MIME parse/filter/re-agg → embed →
  * email_texts store (reference `email_fetching.py`), with the store's
  * implicit embedding (`email_fetching.py:54-57`) made explicit.
  */
object Products {

  /** products → (product_id, content, embedding): the D2 table builder. */
  def buildProductEmbeddings(products: DataFrame, dim: Int = 64): DataFrame =
    products.select(
        col("id").as("product_id"),
        TextFunctions.productContent(
          col("name"), col("category"), col("color"),
          col("price"), col("img_url"), col("description")).as("content"))
      .withColumn("embedding", TextFunctions.hashEmbed(col("content"), dim))

  /** CSV path → product_embeddings parquet sink (S5 analogue). */
  def importAndEmbed(spark: SparkSession, csvPath: String, outPath: String,
                     dim: Int = 64): Unit =
    buildProductEmbeddings(Tables.productsCsv(spark, csvPath), dim)
      .write.mode("append").parquet(outPath)

  /** Stage a products CSV (S2 sink shape — header + the reference's 7
    * columns) derived deterministically from the part table, once per
    * sf dir (guarded by the writer's _SUCCESS marker). Column mapping
    * matches q_product_content so the oracle can reconstruct the rows
    * from the part parquet without reading the CSV.
    */
  def stageProductsCsv(spark: SparkSession, sfDir: String): String = {
    // _v1: bump when the column derivation changes; the path also embeds a
    // content fingerprint of the source dir so regenerated testdata can
    // never serve a stale staged CSV (see Staging)
    val out = Staging.stagedPath("products_csv_v1", sfDir)
    Staging.once(out)(Staging.written(out)) {
      Tables.part(spark, sfDir).select(
          col("p_partkey").as("id"),
          col("p_name").as("name"),
          col("p_retailprice").as("price"),
          concat(lit("img-"), col("p_partkey").cast("string")).as("img_url"),
          col("p_brand").as("color"),
          col("p_type").as("category"),
          concat(lit("size "), col("p_size").cast("string")).as("description"))
        .write.mode("overwrite").option("header", "true").csv(out)
    }
  }

  /** raw messages (id, raw) → email_texts (id, document, embedding): D3. */
  def buildEmailTexts(messages: DataFrame, dim: Int = 64): DataFrame =
    Mime.ingest(messages, col("id"), col("raw"))
      .withColumn("embedding", TextFunctions.hashEmbed(col("document"), dim))
}
