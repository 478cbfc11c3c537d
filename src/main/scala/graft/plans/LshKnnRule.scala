package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Ascending, Attribute, EqualTo, Expression, GreaterThan, If, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.expressions.L2DistanceExpr
import graft.operators.Ann

/** Opt-in optimizer rule (SURVEY.md §4 custom-work item (2)): recognize the
  * exact-KNN shape
  *
  *   Limit k (Sort [alias(distance) ASC, ...] (Project [.., distance :=
  *     l2_distance(vec, LITERAL query), ..] child))
  *
  * and narrow the scan to the query's LSH bucket before the sort — turning
  * a full O(n) distance scan into an O(n / 2^H) bucket probe with identical
  * downstream ordering. The rewrite changes exact KNN into approximate
  * (bucket-local) KNN, so it is OFF by default and gated behind
  *
  *   spark.graft.ann.autoLsh = true   (numPlanes: spark.graft.ann.planes)
  *
  * Injected into every session by [[graft.GraftExtensions]].
  */
case class LshKnnRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.ann.autoLsh").exists(_.toBoolean)
  private def numPlanes: Int =
    spark.conf.getOption("spark.graft.ann.planes").map(_.toInt).getOrElse(4)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case l @ GlobalLimit(_, LocalLimit(_,
          // only nearest-k (ascending distance) matches the LSH locality
          // premise — a farthest-k (descending) query must stay exact
          s @ Sort(SortOrder(sortKey: Attribute, Ascending, _, _) +: _, true,
            sortChild, _))) =>
        // tolerate an intervening Filter (e.g. a post-projection predicate
        // on the distance or a metadata column) between Sort and Project
        val (interFilter, projOpt) = sortChild match {
          case p: Project => (None, Some(p))
          case f @ Filter(_, p: Project) => (Some(f), Some(p))
          case _ => (None, None)
        }
        projOpt match {
          case Some(p @ Project(projectList, child)) =>
            projectList.collectFirst {
              case a @ Alias(L2DistanceExpr(vec, Literal(q, ArrayType(DoubleType, _))), _)
                  if a.exprId == sortKey.exprId => (vec, q)
            } match {
              case Some((vec, q)) if !alreadyRewritten(child) =>
                val qVals = q.asInstanceOf[ArrayData].toDoubleArray().toSeq
                val planes = numPlanes
                val qBucket = Ann.bucketOfQuery(qVals, planes)
                // bucket predicate as a raw (already-resolved) Catalyst tree —
                // the optimizer runs post-analysis, so Column-API nodes
                // (unresolved functions) must not be injected here
                val bucketOfVec: Expression = (0 until planes).map { j =>
                  val plane = Literal.create(Ann.plane(j, qVals.length).toArray,
                    ArrayType(DoubleType, containsNull = false))
                  If(GreaterThan(graft.expressions.DotProductExpr(vec, plane), Literal(0.0)),
                    Literal(1 << j), Literal(0)): Expression
                }.reduce((a, b) => Add(a, b))
                val rewrittenProj = Project(projectList,
                  Filter(EqualTo(bucketOfVec, Literal(qBucket)), child))
                val newSortChild: LogicalPlan = interFilter
                  .map(f => f.copy(child = rewrittenProj): LogicalPlan)
                  .getOrElse(rewrittenProj)
                l.withNewChildren(Seq(l.children.head.withNewChildren(Seq(
                  s.copy(child = newSortChild)))))
              case _ => l
            }
          case None => l
        }
    }
  }

  /** Idempotency guard: injected optimizer rules run in fixed-point
    * batches, so without this the rule would stack an identical Filter on
    * every iteration (up to maxIterations). Our injected filter is
    * recognizable by the DotProductExpr bucket chain.
    */
  private def alreadyRewritten(child: LogicalPlan): Boolean = child match {
    case Filter(cond, _) =>
      cond.exists(_.isInstanceOf[graft.expressions.DotProductExpr])
    case _ => false
  }
}
