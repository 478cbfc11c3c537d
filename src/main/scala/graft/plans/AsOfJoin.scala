package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Custom whole-operator as-of join — the SURVEY.md §2.3 preference-(c)
  * ladder: LogicalPlan + Strategy + physical exec, for an operator Spark's
  * DataFrame API lacks as a primitive.
  *
  * Semantics (left-outer as-of, pandas merge_asof-complete):
  *  - direction = backward: for every left row, the single right row with
  *    the same key and the greatest right-time <= left-time (ties: MIN
  *    tie value);
  *  - direction = forward: the right row with the smallest right-time >=
  *    left-time (ties: MIN tie value);
  *  - toleranceUs bounds |left-time - right-time|; misses become nulls.
  *
  * Equivalent to the join+window composition (SparkEntry `q_asof_join`)
  * but in ONE pass: no intermediate multiplication of matches, no
  * row_number shuffle — each side is hash-partitioned on its key and
  * sorted (key, time) by EnsureRequirements, then merged per partition in
  * O(|L| + |R|).
  *
  * Scale: exactly the sort-merge-join shape — one shuffle per side, linear
  * merge, no state beyond the last-match row. At 100 TB this beats the
  * compositional form, whose join can fan out to |matches-per-event| rows
  * before row_number prunes them.
  *
  * v1 contract: key and time expressions must be LongType (cast upstream).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, leftTime: Expression,
                        rightKey: Expression, rightTime: Expression,
                        rightTie: Expression, forward: Boolean,
                        toleranceUs: Long)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan =
    copy(left = l, right = r)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, tie, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, tie, fwd, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, leftTime: Expression,
                        rightKey: Expression, rightTime: Expression,
                        rightTie: Expression, forward: Boolean,
                        toleranceUs: Long)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on their keys, sort (key, time) within — the
  // sort-merge-join requirements, satisfied by EnsureRequirements.
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  // backward: tie DESC so pick-last-eligible selects max time then MIN tie
  // (matching the row_number oracle ORDER BY time DESC, tie ASC, rn = 1);
  // forward: tie ASC so the buffered HEAD is min time then MIN tie
  // (oracle ORDER BY time ASC, tie ASC, rn = 1).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, if (forward) Ascending else Descending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val nRight = right.output.length
    val fwd = forward
    val tol = toleranceUs

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      // downstream operators (and a bare collect) expect UnsafeRow output
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(output, output)
      // last right row (copied — unsafe rows are reused) with key == curKey
      var matchKey = 0L
      var matchTime = 0L
      var hasMatch = false
      var matchRow: InternalRow = null

      lIter.map { lRow =>
        val kv = lk.eval(lRow)
        val tv = lt.eval(lRow)
        if (kv == null || tv == null) {
          // SQL comparison semantics: NULL key/time never matches
          toUnsafe(joined(lRow, nullRight))
        } else {
          val k = kv.asInstanceOf[Long]
          val t = tv.asInstanceOf[Long]
          if (hasMatch && matchKey != k) { hasMatch = false; matchRow = null }
          var advancing = true
          if (!fwd) {
            // backward: consume all rights <= t for this key, keep the last
            while (advancing && rBuf.hasNext) {
              val head = rBuf.head
              val hkv = rk.eval(head)
              if (hkv == null) { rBuf.next() } // NULL right key never matches
              else {
                val hk = hkv.asInstanceOf[Long]
                if (hk < k) { rBuf.next() } // keys before ours: discard
                else if (hk == k) {
                  val htv = rt.eval(head)
                  if (htv == null) { rBuf.next() } // NULL right time never matches
                  else if (htv.asInstanceOf[Long] <= t) {
                    matchTime = htv.asInstanceOf[Long]
                    matchRow = rBuf.next().copy(); matchKey = k; hasMatch = true
                  } else advancing = false
                } else advancing = false
              }
            }
            if (hasMatch && matchKey == k && t - matchTime <= tol)
              toUnsafe(joined(lRow, matchRow))
            else toUnsafe(joined(lRow, nullRight))
          } else {
            // forward: discard rights < t for this key (left times ascend,
            // so they can never serve a later left row either); the HEAD,
            // if on our key, is the first eligible (min time, min tie) —
            // NOT consumed, it may serve subsequent left rows too
            var out: InternalRow = nullRight
            while (advancing && rBuf.hasNext) {
              val head = rBuf.head
              val hkv = rk.eval(head)
              if (hkv == null) { rBuf.next() }
              else {
                val hk = hkv.asInstanceOf[Long]
                if (hk < k) { rBuf.next() }
                else if (hk == k) {
                  val htv = rt.eval(head)
                  if (htv == null) { rBuf.next() }
                  else if (htv.asInstanceOf[Long] < t) { rBuf.next() }
                  else {
                    if (htv.asInstanceOf[Long] - t <= tol) out = head.copy()
                    advancing = false
                  }
                } else advancing = false
              }
            }
            toUnsafe(joined(lRow, out))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsOfJoinExec =
    copy(left = l, right = r)
}

/** Public API. Key/time are column NAMES resolved against each side.
  * `direction`: "backward" (default) or "forward"; `toleranceUs` bounds
  * the time distance of a match (default unbounded).
  */
object AsOf {
  def join(left: DataFrame, leftKey: String, leftTime: String,
           right: DataFrame, rightKey: String, rightTime: String,
           rightTie: String, direction: String = "backward",
           toleranceUs: Long = Long.MaxValue): DataFrame = {
    val forward = direction match {
      case "backward" => false
      case "forward" => true
      case other => throw new IllegalArgumentException(
        s"direction must be 'backward' or 'forward', got '$other'")
    }
    require(toleranceUs >= 0, "toleranceUs must be non-negative")
    val spark = left.sparkSession
    val lp = GraftBridge.logicalPlan(left)
    val rp = GraftBridge.logicalPlan(right)
    def attr(p: LogicalPlan, name: String): Attribute = {
      val a = p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${p.output.map(_.name).mkString(", ")}"))
      require(a.dataType == org.apache.spark.sql.types.LongType,
        s"as-of join v1 requires BIGINT key/time columns; $name is ${a.dataType.catalogString}")
      a
    }
    GraftBridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      attr(lp, leftKey), attr(lp, leftTime),
      attr(rp, rightKey), attr(rp, rightTime), attr(rp, rightTie),
      forward, toleranceUs))
  }
}
