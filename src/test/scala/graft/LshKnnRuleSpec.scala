package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Knn}
import graft.oracle.OracleGen.QueryVec
import graft.tables.Tables

class LshKnnRuleSpec extends SparkSpec {

  private def knnDf = knnOn(spark)
  private def knnOn(s: org.apache.spark.sql.SparkSession) = Knn.knn(
    Tables.embeddings(s, sf0001), col("embedding"), col("vec_id"), QueryVec.values, 5)

  test("rule off by default: plan keeps the full scan") {
    // injected by GraftExtensions, not by mutating the session
    assert(spark.experimental.extraOptimizations.isEmpty)
    spark.conf.unset("spark.graft.ann.autoLsh")
    val plan = knnDf.queryExecution.optimizedPlan.toString
    assert(!plan.contains("dot_product")) // no bucket filter injected
    assert(knnDf.count() == 5)
  }

  test("rule on: tolerates a Filter between Sort and Project") {
    import graft.functions.VectorFunctions
    spark.conf.set("spark.graft.ann.autoLsh", "true")
    try {
      // a non-deterministic predicate cannot be pushed below the Project,
      // so the optimized shape is Limit(Sort(Filter(Project(...)))) — the
      // case the v1 rule silently skipped. rand(42) <= 1.0 keeps all rows.
      val df = Tables.embeddings(spark, sf0001)
        .withColumn("distance",
          VectorFunctions.l2(col("embedding"), typedlit(QueryVec.values)))
        .filter(rand(42) <= 1.0)
        .orderBy(col("distance"), col("vec_id"))
        .limit(5)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("dot_product"), "bucket filter must be injected through the Filter")
      val rewritten = df.collect().map(_.getAs[Long]("vec_id")).toSeq
      val direct = Ann.annLsh(Tables.embeddings(spark, sf0001), col("embedding"),
          col("vec_id"), QueryVec.values, 5)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(rewritten == direct)
    } finally spark.conf.unset("spark.graft.ann.autoLsh")
  }

  test("rule on: injects the LSH bucket filter and matches annLsh output") {
    spark.conf.set("spark.graft.ann.autoLsh", "true")
    try {
      val df = knnDf
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("dot_product")) // bucket CASE chain present
      val rewritten = df.collect().map(_.getAs[Long]("vec_id")).toSeq
      val direct = Ann.annLsh(Tables.embeddings(spark, sf0001), col("embedding"),
          col("vec_id"), QueryVec.values, 5)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(rewritten == direct)
      assert(rewritten.nonEmpty)
    } finally spark.conf.unset("spark.graft.ann.autoLsh")
    // a child session inherits the rule; the gate conf alone enables it
    val child = spark.newSession()
    child.conf.set("spark.graft.ann.autoLsh", "true")
    assert(knnOn(child).queryExecution.optimizedPlan.toString.contains("dot_product"))
  }
}
