package graft

class SketchSpec extends SparkSpec {

  test("approx_count_distinct estimate lands within rsd bounds of exact") {
    val rows = SparkEntry.queries("q_approx_distinct")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val exact = graft.tables.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val flag = r.getString(0)
      val est = r.getLong(1).toDouble
      val ex = exact(flag).toDouble
      // rsd 0.02 → allow generous 5x band
      assert(math.abs(est - ex) / ex < 0.10, s"$flag: est=$est exact=$ex")
    }
  }

  test("cms_estimate: one-sided CMS bound holds and SQL surface works") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted skew: key 1 -> 1000, key 2 -> 50, keys 3..102 -> 1 each
    val rows = Seq.fill(1000)(1L) ++ Seq.fill(50)(2L) ++ (3L to 102L)
    val df = rows.toDF("k")
    val sk = df.agg(
      count_min_sketch(col("k"), lit(0.001), lit(0.99), lit(42)).as("cms"),
      count(lit(1)).as("n_total"))
    sk.createOrReplaceTempView("sk")
    val est = spark.sql(
      """SELECT cms_estimate(cms, 1L) AS e1, cms_estimate(cms, 2L) AS e2,
        |       cms_estimate(cms, 999L) AS e_absent, n_total FROM sk""".stripMargin)
      .head()
    val eps = math.ceil(est.getLong(3) * 0.001).toLong
    assert(est.getLong(0) >= 1000L && est.getLong(0) <= 1000L + eps)
    assert(est.getLong(1) >= 50L && est.getLong(1) <= 50L + eps)
    assert(est.getLong(2) <= eps, "absent key estimate bounded by eps*N")
    // bench-path flag query: every top-5 row within bound
    val hh = SparkEntry.queries("q_heavy_hitters")(spark, sf0001).collect()
    assert(hh.length == 5 && hh.forall(_.getBoolean(2)))
  }
}
