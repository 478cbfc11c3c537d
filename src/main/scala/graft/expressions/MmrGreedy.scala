package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Greedy maximal-marginal-relevance selection as ONE imperative aggregate
  * (the VectorSumFp UDAF pattern): buffer the small retrieval head
  * `struct(id BIGINT, vec ARRAY<DOUBLE>, dist DOUBLE)`, then run the whole
  * k-step greedy loop inside eval() — replacing the k-job
  * select/broadcast/localCheckpoint driver loop with a single pass whose
  * only distributed work is collecting ≤ N head rows into the buffer.
  *
  * Arithmetic contract (bit-identical to the SQL oracle's unrolled CTE
  * replay and to the previous composed-column formulation):
  * score = λ·(−dist) − (1−λ)·max_sel dot(vec, svec), the dot accumulating
  * left-to-right from 0.0, ((0.0 + a0·b0) + a1·b1)…, the order the
  * oracle's aggregate(zip_with(...)) chain sums in; the first pick
  * (empty selection) scores λ·(−dist) with NO redundancy term. Ties break on lowest id, which also
  * makes the selection a pure function of the row SET — buffer
  * concatenation order (partitioning, merge order) cannot change it. Two
  * preconditions keep that true: rows whose score evaluates to NaN (NaN
  * dist or vec slot) are SKIPPED — NaN compares false against everything,
  * so letting it stand as "best" would make the pick buffer-order-
  * dependent; and ids are assumed unique (the KNN/ANN retrieval-head
  * shape) — duplicate ids cannot both be selected, but which copy's vec
  * drives later redundancy terms would follow buffer order.
  *
  * Output: ARRAY<STRUCT<rnk BIGINT, id BIGINT, dist DOUBLE>> in selection
  * order, ≤ k entries (fewer when the head has fewer distinct ids).
  */
case class MmrGreedy(
    child: Expression,
    k: Int,
    lambda: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, Array[Double], Double)]]
  with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rnk", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mmr_greedy expects STRUCT<BIGINT, ARRAY<DOUBLE>, DOUBLE>, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): ArrayBuffer[(Long, Array[Double], Double)] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Long, Array[Double], Double)],
                      input: InternalRow): ArrayBuffer[(Long, Array[Double], Double)] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2))
        buf += ((row.getLong(0), row.getArray(1).toDoubleArray(), row.getDouble(2)))
    }
    buf
  }

  override def merge(buf: ArrayBuffer[(Long, Array[Double], Double)],
                     other: ArrayBuffer[(Long, Array[Double], Double)]): ArrayBuffer[(Long, Array[Double], Double)] =
    buf ++= other

  /** Left-associated from 0.0: ((0.0 + a0·b0) + a1·b1)… */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  override def eval(buf: ArrayBuffer[(Long, Array[Double], Double)]): Any = {
    val selected = ArrayBuffer.empty[(Long, Array[Double], Double)]
    val selectedIds = scala.collection.mutable.Set.empty[Long]
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      var bestIdx = -1
      var bestScore = 0.0
      var bestId = 0L
      var i = 0
      while (i < buf.length) {
        val (id, vec, dist) = buf(i)
        if (!selectedIds.contains(id)) {
          val score =
            if (selected.isEmpty) lambda * -dist
            else {
              var maxSim = dot(vec, selected.head._2)
              var j = 1
              while (j < selected.length) {
                val s = dot(vec, selected(j)._2)
                if (s > maxSim) maxSim = s
                j += 1
              }
              lambda * -dist - (1 - lambda) * maxSim
            }
          if (!java.lang.Double.isNaN(score) &&
              (bestIdx < 0 || score > bestScore ||
                (score == bestScore && id < bestId))) {
            bestIdx = i; bestScore = score; bestId = id
          }
        }
        i += 1
      }
      if (bestIdx < 0) exhausted = true
      else {
        selected += buf(bestIdx)
        selectedIds += buf(bestIdx)._1
        step += 1
      }
    }
    new GenericArrayData(selected.zipWithIndex.map { case ((id, _, dist), i) =>
      InternalRow((i + 1).toLong, id, dist)
    }.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[(Long, Array[Double], Double)]): Array[Byte] = {
    val size = 4 + buf.map(t => 8 + 8 + 4 + 8 * t._2.length).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(buf.length)
    buf.foreach { case (id, vec, dist) =>
      bb.putLong(id); bb.putDouble(dist); bb.putInt(vec.length)
      vec.foreach(bb.putDouble)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Array[Double], Double)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ArrayBuffer[(Long, Array[Double], Double)](n)
    var i = 0
    while (i < n) {
      val id = bb.getLong
      val dist = bb.getDouble
      val len = bb.getInt
      val vec = new Array[Double](len)
      var j = 0
      while (j < len) { vec(j) = bb.getDouble; j += 1 }
      buf += ((id, vec, dist))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MmrGreedy =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MmrGreedy =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MmrGreedy =
    copy(child = newChild)

  override def prettyName: String = "mmr_greedy"
}
