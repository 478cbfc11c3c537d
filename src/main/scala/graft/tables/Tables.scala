package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-first readers for the driver testdata (TESTDATA.md / FIXTURES.md §B)
  * plus the reference's product-CSV schema (reference `data/dummy-products.csv:1`,
  * `products_import.py:20`). Explicit schemas — never inference in production
  * paths (SURVEY.md §1.4): at 100 TB a schema-inference pass is a full extra
  * scan of the data.
  */
object Tables {

  /** reference `data/dummy-products.csv` header — id,name,price,img_url,color,category,description */
  val productsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("price", DoubleType),
    StructField("img_url", StringType),
    StructField("color", StringType),
    StructField("category", StringType),
    StructField("description", StringType)
  ))

  /** reference `email_fetching.py:54-57` — email_texts(id, document, embedding) */
  val emailTextsSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("document", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))
  ))

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  /** `events` with `ts` ALWAYS exposed as BIGINT epoch-nanoseconds,
    * whatever the parquet writer chose physically. Generations of the
    * driver testdata have shipped `ts` as TIMESTAMP(NANOS) (readable only
    * as long via nanosAsLong), as TIMESTAMP(MICROS) naive
    * (TIMESTAMP_NTZ), and could ship instant-semantics TIMESTAMP; the
    * engine's event-time arithmetic (`ts div 1000` → micros) and the
    * DuckDB oracle's `epoch_us(ts)` agree under every variant only if
    * this reader pins one logical type. Session timezone is UTC in every
    * entry point, so the NTZ reinterpretation is exact.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** [[table]], but routed through any type-normalizing reader the table
    * has (currently just [[events]]'s ts pinning) — for staging code that
    * derives layouts from a table by name.
    */
  def tableNormalized(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else table(spark, sfDir, name)

  /** Products CSV reader — same shape the reference bulk-loads via COPY
    * (`products_import.py:18-20`). Header skipped, RFC-4180 quoting.
    */
  def productsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(productsSchema)
      .csv(path)
}
