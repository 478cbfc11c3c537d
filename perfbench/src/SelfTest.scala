package perfbench

/** Tests of the benchmark's own helpers: `python3 perfbench/run.py --self-test`.
  * Exits non-zero on the first failed case.
  */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit =
    if (ok) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }

  /** `args(0)`: the root of the checkout, which holds the bundled documents. */
  def main(args: Array[String]): Unit = {
    val docs = Gen.documents(args(0))
    expect(docs.size == 5000 && docs.forall(d => (10 to 100).contains(d.split(' ').length)),
      "bundled sf0.1 documents: 5000 texts of 10..100 words")
    val perm = Gen.permutation(7, docs.size)
    expect(perm.sorted == docs.indices && perm == Gen.permutation(7, docs.size) &&
      perm != Gen.permutation(8, docs.size), "permutation is a seeded reordering of every doc_id")

    // generator: same seed → same inputs, other seed → other inputs
    def box(seed: Long) = Gen.mailbox(seed, docs, Gen.permutation(seed, docs.size).take(300), 0.1, idBase = 1)
    val a = box(7)
    val b = box(7)
    val c = box(8)
    expect(a == b, "same seed gives identical mailboxes")
    expect(a != c, "different seed gives a different mailbox")
    val originals = a.filter(_.dupOf < 0)
    expect(originals.size == 300 && originals.zip(perm.take(300)).forall { case (m, d) =>
      val (got, doc) = (m.body.split(' '), docs(d).split(' '))
      got.length == doc.length && got.zip(doc).count { case (x, y) => x != y } <= 1
    }, "the originals are the picked documents in order, at most one word made PII")
    expect(a.exists(_.dupOf >= 0) && a.exists(_.raw.contains("multipart/mixed")),
      "mailbox plants near-duplicates and multipart messages")
    expect(a.filter(_.dupOf >= 0).forall(m => a.exists(o => o.id == m.dupOf && o.dupOf < 0)),
      "every planted duplicate points at an original")
    val pool = Gen.queryPool(7, a, 50)
    expect(pool == Gen.queryPool(7, a, 50) && pool != Gen.queryPool(8, a, 50),
      "query pool is a function of the seed")
    val s1 = Gen.queryStream(7, pool, 0.3).take(200).toSeq
    expect(s1 == Gen.queryStream(7, pool, 0.3).take(200).toSeq, "query stream is a function of the seed")
    val repeats = s1.indices.count(i => s1.take(i).contains(s1(i)))
    expect(repeats >= 40, s"query stream repeats earlier texts ($repeats of 200)")

    // percentile: a tail percentile needs ten samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.percentile(xs, 90).contains(90.0), "p90 of 1..100 is 90")
    expect(Stats.percentile(xs.take(99), 90).isEmpty, "p90 of 99 samples is withheld")
    expect(Stats.percentile(xs.take(199), 95).isEmpty && Stats.percentile(xs ++ xs, 95).isDefined,
      "p95 needs 200 samples")
    expect(Stats.percentile(Seq(3.0, 1.0, 2.0), 50).contains(2.0), "p50 of three samples")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of an even count")

    // recall and dedup recall on hand-built cases
    expect(Stats.recallAtK(Seq(1L, 2L, 3L, 9L), Seq(1L, 2L, 3L, 4L)) == 0.75, "recall@4 with one miss")
    expect(Stats.recallAtK(Seq(4L, 3L, 2L, 1L), Seq(1L, 2L, 3L, 4L)) == 1.0, "recall ignores order")
    val comp = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
    expect(Stats.dedupRecall(Seq((2L, 1L), (4L, 3L), (5L, 1L), (6L, 3L)), id => comp.getOrElse(id, id)) == 0.5,
      "dedup recall counts pairs that share a component")
    val ids = Array(10L, 11L, 12L)
    val vecs = Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(0.0, 1.0))
    expect(Stats.topK(Array(0.0, 1.0), ids, vecs, 2).map(_._2) == Seq(10L, 12L),
      "brute-force top-k breaks distance ties by id")

    // span arithmetic: self time and residual
    def sp(id: Int, parent: Int, t0: Long, t1: Long) = {
      val s = new Span(id, s"s$id", parent, 0L, t0); s.t1 = t1; s
    }
    val spans = Seq(sp(1, -1, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 50, 70))
    expect(Trace.selfMs(spans)(1) == 50 / 1e6, "self time excludes children")
    expect(Trace.residualMs(spans) == 0.0, "non-overlapping children leave no residual")
    expect(Trace.residualMs(spans :+ sp(4, 1, 30, 60)) > 0, "overlapping children leave a residual")
    expect(Trace.uncoveredMs(0, 100, Seq((10L, 40L), (30L, 50L), (90L, 120L))) == 50.0,
      "uncovered time merges overlapping job intervals")

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
