package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per suite (lazy, reused across
  * suites within the same JVM via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // InferFiltersFromGenerate turns explode(hash_embed(text)) into a
    // triple evaluation of the embed (size>0 + isnotnull + the generator
    // itself, measured 3x on q_embed_docs) once pushdown substitutes the
    // alias; for this engine's explode-over-computed-array shapes the
    // inferred filter is pure recomputation, so the rule is excluded.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.ui.enabled", "false")
    // fork-free `file:` filesystem, as in Streaming.streamSession
    .config(graft.tables.LocalFs.sparkConfs)
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** All nodes of a physical-plan subtree, looking through AQE wrappers,
    * query stages, and subqueries — for plan-shape assertions.
    */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val inner = p match {
      case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
      case s: QueryStageExec        => flattenPlan(s.plan)
      case _                        => p.children.flatMap(flattenPlan)
    }
    (p +: inner) ++ p.subqueries.flatMap(flattenPlan)
  }

  /** All nodes of a DataFrame's executed plan (see [[flattenPlan]]). */
  def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    flattenPlan(df.queryExecution.executedPlan)
}
