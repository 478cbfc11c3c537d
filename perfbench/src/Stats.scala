package perfbench

/** Progress lines on standard error, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: => String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1e3}%.1fs] $msg")
}

/** Summary statistics and output scorers used by every workload. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, or None when fewer
    * than ten samples lie beyond it: a tail percentile is reported only
    * when at least ten measurements are slower than it.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    if (xs.isEmpty) return None
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
    if (s.size - rank < 10 && p > 50) None else Some(s(rank - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Share of the reference top-k ids that the answer returned. */
  def recallAtK(answer: Seq[Long], reference: Seq[Long]): Double = {
    require(reference.nonEmpty, "recall against an empty reference")
    answer.toSet.intersect(reference.toSet).size.toDouble / reference.size
  }

  /** Share of planted near-duplicate pairs (dup, original) whose two ids the
    * dedup stage put in one component. `component` maps an id to its
    * component label; an id missing from it is a singleton.
    */
  def dedupRecall(planted: Seq[(Long, Long)], component: Long => Long): Double = {
    require(planted.nonEmpty, "dedup recall without planted pairs")
    planted.count { case (a, b) => component(a) == component(b) }.toDouble / planted.size
  }

  /** Driver-side exact L2 distance: the same left-to-right sum of squared
    * differences the engine's l2 expression evaluates.
    */
  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Brute-force top-k ids by (distance, id) over `ids`/`vecs`. */
  def topK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Double]], k: Int,
           keep: Int => Boolean = _ => true): IndexedSeq[(Double, Long)] = {
    // the k smallest so far, largest on top
    val ord = Ordering[(Double, Long)]
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        val c = (l2(q, vecs(i)), ids(i))
        if (heap.size < k) heap.enqueue(c)
        else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
      }
      i += 1
    }
    heap.toIndexedSeq.sorted(ord)
  }
}
