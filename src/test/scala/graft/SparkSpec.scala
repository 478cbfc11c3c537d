package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per suite (lazy, reused across
  * suites within the same JVM via getOrCreate), with Bench's exact confs
  * at a fixed width of 4, which the specs' plan and layout assertions
  * are written against.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

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
