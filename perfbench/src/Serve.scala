package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.expressions.HashEmbed
import graft.functions.VectorFunctions
import graft.operators.{Ann, IvfIndex, Rag, VectorStore}

/** Driver-side copy of a built corpus, used to check served answers: the
  * corpus rows with their vectors, and each vector's store bucket and IVF
  * cell (which fix the rows a probe may return).
  */
final class Reference(spark: SparkSession, val layouts: Layouts) {
  private val rows = spark.read.parquet(layouts.corpus)
    .select(col("id"), col("text"), col("embedding")).collect().sortBy(_.getLong(0))
  val ids: Array[Long] = rows.map(_.getLong(0))
  val texts: Array[String] = rows.map(_.getString(1))
  val vecs: Array[Array[Double]] = rows.map(_.getSeq[Double](2).toArray)
  val bucket: Array[Int] = {
    val m = spark.read.parquet(layouts.store).select(col("vec_id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.map(m)
  }
  val cell: Array[Int] = {
    val m = IvfIndex.probe(spark, layouts.ivf, Array.fill(Pipeline.Dim)(0.0).toSeq, Pipeline.Nlist)
      .select(col("id"), col("cell")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.map(m)
  }
  def textOf(id: Long): String = texts(java.util.Arrays.binarySearch(ids, id))

  def exactTopK(q: Array[Double], k: Int, keep: Int => Boolean = _ => true): Seq[(Double, Long)] =
    Stats.topK(q, ids, vecs, k, keep)
  /** Exact top-k among the rows of the store buckets a multi-probe reads. */
  def storeTopK(q: Array[Double], k: Int): Seq[(Double, Long)] = {
    val probes = Ann.probesOf(q.toSeq, Pipeline.NumPlanes).toSet
    exactTopK(q, k, i => probes(bucket(i)))
  }
  /** Exact top-k among the rows of the IVF cells a probe reads. */
  def ivfTopK(q: Array[Double], k: Int, nprobe: Int): Seq[(Double, Long)] = {
    val cells = Ann.ivfProbes(q.toSeq, Pipeline.Nlist, nprobe).toSet
    exactTopK(q, k, i => cells(cell(i)))
  }
}

/** Outcome of one served request. `latencyMs` is the time inside the layer
  * call; the answer check runs outside it.
  */
final case class Answer(ok: Boolean, error: String, latencyMs: Double)

/** Single-query retrieval requests, each a call into a public serving
  * function whose answer is checked against the [[Reference]].
  */
object Serve {
  val K = 10
  val Nprobe = 2
  val RagK = 5
  /** One round of the closed loop: each request type's share of the mix. */
  val Round: Seq[String] = Seq.fill(4)("store") ++ Seq.fill(4)("ivf") ++ Seq.fill(2)("rag")

  def sameRanking(got: Seq[(Double, Long)], want: Seq[(Double, Long)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((d1, i1), (d2, i2)) =>
      i1 == i2 && math.abs(d1 - d2) <= 1e-9
    }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** IVF probe plus exact re-rank: the k nearest rows of the probed cells. */
  def ivfQuery(spark: SparkSession, path: String, q: Seq[Double], k: Int): Seq[(Double, Long)] =
    IvfIndex.probe(spark, path, q, Nprobe)
      .withColumn("distance", VectorFunctions.l2(col("embedding"), typedlit(q)))
      .orderBy(col("distance"), col("id")).limit(k)
      .select(col("distance"), col("id")).collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq

  def request(spark: SparkSession, tr: Trace, ref: Reference, kind: String, text: String,
              reqId: Long): Answer = tr.span(s"request.$kind", reqId) {
    val q = HashEmbed.embed(text, Pipeline.Dim)
    val qs = q.toSeq
    val L = ref.layouts
    kind match {
      case "store" =>
        val (got, ms) = timed(tr.span("VectorStore.queryL2") {
          VectorStore.queryL2(spark, L.store, "embedding", "vec_id", qs, K)
            .select(col("distance"), col("vec_id")).collect()
            .map(r => (r.getDouble(0), r.getLong(1))).toSeq
        })
        Answer(sameRanking(got, ref.storeTopK(q, K)),
          "queryL2 top-k differs from brute force over its probed buckets", ms)
      case "ivf" =>
        val (got, ms) = timed(tr.span("IvfIndex.probe")(ivfQuery(spark, L.ivf, qs, K)))
        Answer(sameRanking(got, ref.ivfTopK(q, K, Nprobe)),
          "IVF probe + re-rank differs from brute force over its probed cells", ms)
      case "rag" =>
        val (got, ms) = timed(tr.span("Rag.ragQuery") {
          Rag.ragQuery(spark.read.parquet(L.corpus), col("id"), col("text"), text, RagK, Pipeline.Dim)
            .select(col("intent"), col("context")).collect().head
        })
        val intent = Rag.intentOf(text)
        val want =
          if (intent == "niche_advice") "General niche advice requested."
          else ref.exactTopK(q, RagK).map { case (_, id) => ref.textOf(id) }.mkString("\n\n")
        Answer(got.getString(0) == intent && got.getString(1) == want,
          "RAG context differs from the brute-force top-k context", ms)
    }
  }
}
