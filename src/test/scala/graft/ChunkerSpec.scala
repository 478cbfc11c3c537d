package graft

import org.apache.spark.sql.functions._

import graft.operators.Chunker

class ChunkerSpec extends SparkSpec {

  test("overlapping windows with stride; tail window shorter") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("id", "t")
    val out = Chunker.chunk(df, $"id", $"t", chunkSize = 3, stride = 2)
      .orderBy($"chunk_idx").collect()
    assert(out.map(_.getAs[String]("chunk")).toSeq ==
      Seq("a b c", "c d e", "e"))
    assert(out.map(_.getAs[Long]("chunk_tokens")).toSeq == Seq(3L, 3L, 1L))
  }

  test("empty text produces no chunks; single token one chunk") {
    import spark.implicits._
    val df = Seq((1L, "   "), (2L, "hello")).toDF("id", "t")
    val out = Chunker.chunk(df, $"id", $"t").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("chunk") == "hello")
  }

  test("chunk count is ceil(n/stride) formula") {
    import spark.implicits._
    val text = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("id", "t")
    val n = Chunker.chunk(df, $"id", $"t", chunkSize = 20, stride = 10).count()
    assert(n == 3) // windows at 0, 10, 20
  }

  /** The composed chunker the native windows replaced: re-tokenize per
    * window, then re-tokenize each chunk to count it.
    */
  private def composedChunks(df: org.apache.spark.sql.DataFrame, chunkSize: Int, stride: Int) = {
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(trim(c)), "\\s+"), t => t =!= "")
    val t = toks(col("t"))
    val n = size(t)
    val count = (floor((n - 1).cast("double") / stride) + 1).cast("int")
    val windows = when(n > 0,
      transform(sequence(lit(0), count - 1),
        i => array_join(slice(t, i * stride + 1, lit(chunkSize)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col("id"), posexplode(windows).as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_tokens", size(toks(col("chunk"))).cast("long"))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
  }

  private lazy val documents = {
    import spark.implicits._
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream("perfbench/data/sf0.1_documents.txt.gz"))
    val docs =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val rows = docs.zipWithIndex.map { case (d, i) => (i.toLong, Option(d)) } ++
      Seq((-1L, Option.empty[String]), (-2L, Some(" \t ")), (-3L, Some("One  TWO\tthree")))
    spark.sparkContext.parallelize(rows, 4).toDF("id", "t")
  }

  for ((chunkSize, stride) <- Seq((40, 32), (20, 10), (3, 2)))
    test(s"native windows equal the composed expression over the sf0.1 documents ($chunkSize, $stride)") {
      val want = composedChunks(documents, chunkSize, stride)
      val got = Chunker.chunk(documents, col("id"), col("t"), chunkSize, stride)
      assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }

  test("chunkTokens is the windows' text; null text gives no windows") {
    import spark.implicits._
    val df = Seq((1L, Option("a B c D e")), (2L, Option.empty[String])).toDF("id", "t")
    val out = df.select(Chunker.chunkTokens($"t", 3, 2)).collect().map(_.getSeq[String](0))
    assert(out.toSeq == Seq(Seq("a b c", "c d e", "e"), Nil))
  }
}
