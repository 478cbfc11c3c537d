package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.tables.Tables

class VectorSumFpSpec extends SparkSpec {

  test("sums match a hand-computed fixed-point fold") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(0.5, 0.25)), (1, Seq(0.5, -0.25)), (2, Seq(1.0, 0.0))
    ).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(VectorFunctions.vectorSumFp($"v", 2).as("s"))
      .orderBy($"g").collect()
    assert(out(0).getSeq[Long](1) == Seq(1000000000000L, 0L))
    assert(out(1).getSeq[Long](1) == Seq(1000000000000L, 0L))
  }

  test("result is identical under different partitionings (order-exact)") {
    val emb = Tables.embeddings(spark, sf0001)
    def run(parts: Int): Map[Int, Seq[Long]] =
      emb.repartition(parts)
        .groupBy(col("label"))
        .agg(VectorFunctions.vectorSumFp(col("embedding"), 64).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(run(1) == run(13))
  }

  test("works through the SQL registry") {
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_vsf")
    val viaSql = spark.sql(
      "SELECT label, vector_sum_fp(embedding, 64) AS s FROM emb_vsf GROUP BY label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val viaCol = Tables.embeddings(spark, sf0001)
      .groupBy(col("label"))
      .agg(VectorFunctions.vectorSumFp(col("embedding"), 64).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol)
  }

  test("null vectors are skipped, null elements contribute zero") {
    import spark.implicits._
    val df = Seq(
      (1, Option(Seq(Option(1.0), None))),
      (1, None: Option[Seq[Option[Double]]])
    ).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(VectorFunctions.vectorSumFp($"v", 2).as("s")).collect()
    assert(out(0).getSeq[Long](1) == Seq(1000000000000L, 0L))
  }
}
