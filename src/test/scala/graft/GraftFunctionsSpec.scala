package graft

class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions evaluate like their Column twins") {
    // the cluster install path: the session's only hook is the conf
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") == "graft.GraftExtensions")
    val fresh = spark.newSession()
    GraftFunctions.builders.foreach { case (name, _) =>
      assert(fresh.catalog.functionExists(name), s"$name not resolvable in a new session")
    }
    val row = spark.sql(
      """SELECT l2_distance(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS l2,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       cosine_sim(array(2.0D, 0.0D), array(1.0D, 0.0D)) AS cs,
        |       simhash('hello world') AS sh,
        |       hash_embed('hello world', 16) AS he,
        |       minhash_sig('a b c d e', 4, 3) AS mh
        |""".stripMargin).head()
    assert(row.getAs[Double]("l2") == 5.0)
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[Double]("cs") == 1.0)
    assert(row.getAs[Long]("sh") == graft.expressions.SimHash.fingerprint("hello world"))
    assert(row.getSeq[Double](4) == graft.expressions.HashEmbed.embed("hello world", 16).toSeq)
    assert(row.getSeq[String](5) ==
      graft.expressions.MinHashSig.signature("a b c d e", 4, 3).toSeq)
  }

  test("SQL functions survive filters/aggregates in a real query") {
    spark.read.parquet(s"$sf0001/documents.parquet").createOrReplaceTempView("docs_v")
    val n = spark.sql(
      "SELECT count(*) FROM docs_v WHERE simhash(text) != 0").head().getLong(0)
    assert(n > 0)
  }
}
