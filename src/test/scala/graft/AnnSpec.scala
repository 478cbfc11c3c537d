package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Knn}
import graft.oracle.OracleGen.QueryVec
import graft.tables.Tables

class AnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001)

  test("lsh buckets are within [0, 2^H)") {
    val buckets = emb.select(Ann.bucketOf(col("embedding"), 4, 64).as("b"))
      .agg(min(col("b")), max(col("b"))).head()
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) < 16)
  }

  test("annLsh results are a subset of brute-force knn over the same bucket") {
    val ann = Ann.annLsh(emb, col("embedding"), col("vec_id"), QueryVec.values, 5)
      .collect()
    assert(ann.nonEmpty)
    val dists = ann.map(_.getAs[Double]("distance"))
    assert(dists.sameElements(dists.sorted))
    // every ANN hit exists in the exact knn result over a larger k
    val exact = Knn.knn(emb, col("embedding"), col("vec_id"), QueryVec.values, 500)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("distance")).toMap
    ann.foreach { r =>
      assert(exact(r.getAs[Long]("vec_id")) == r.getAs[Double]("distance"))
    }
  }

  test("query bucket matches column bucket computed on the query vector") {
    import spark.implicits._
    val qb = Ann.bucketOfQuery(QueryVec.values, 4)
    val colB = Seq(1).toDF("x")
      .select(Ann.bucketOf(typedlit(QueryVec.values), 4, 64)).head().getInt(0)
    assert(qb == colB)
  }

  test("multi-probe LSH: recall@5 >= 0.8 vs exact, never below single-probe") {
    val exact = Knn.knn(emb, col("embedding"), col("vec_id"), QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val single = Ann.annLsh(emb, col("embedding"), col("vec_id"), QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val multi = Ann.annLshMulti(emb, col("embedding"), col("vec_id"), QueryVec.values, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recallMulti = (multi & exact).size.toDouble / exact.size
    val recallSingle = (single & exact).size.toDouble / exact.size
    assert(recallMulti >= 0.8, s"multi-probe recall@5 = $recallMulti")
    assert(recallMulti >= recallSingle)
    // probe set = own bucket + H distinct single-bit flips
    val probes = Ann.probesOf(QueryVec.values, 4)
    assert(probes.distinct.size == 5)
    assert(probes.tail.forall(p =>
      java.lang.Integer.bitCount(p ^ probes.head) == 1))
  }

  test("hierarchical graph ANN: recall floor, sub-scan visited set, no cartesian") {
    val visited = Ann.graphAnnHierarchical(emb, col("vec_id"),
      col("embedding"), QueryVec.values, sampleMod = 16, beam = 16,
      hops = 6, edgesPerBucket = 3)
    // the edge builds and the walk are equi-joins throughout
    val plan = visited.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "graph build/walk must never cross-join")
    // the walk budget is FIXED (seeds + hops·beam·edges), so at this
    // 500-vector corpus it visits most rows — the sub-scan property shows
    // at real sizes and is hash-checked by q_graph_ann_recall's n_scored
    // (396/2000 at sf0.01, 919/20000 at sf0.1); here just assert the
    // budget didn't degenerate into a full scan
    val rows = visited.collect()
    val n = emb.count()
    assert(rows.length < n,
      s"beam search visited every row: ${rows.length} of $n")
    val annTop = rows.sortBy(r => (r.getDouble(1), r.getLong(0)))
      .take(10).map(_.getLong(0)).toSet
    val exact = Knn.knn(emb, col("embedding"), col("vec_id"),
      QueryVec.values, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (annTop & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"graph-ANN recall@10 = $recall")
    // visited distances are the true L2s (spot-check against exact knn)
    val exactD = Knn.knn(emb, col("embedding"), col("vec_id"),
        QueryVec.values, 500)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("distance")).toMap
    rows.filter(r => exactD.contains(r.getLong(0)))
      .foreach(r => assert(exactD(r.getLong(0)) == r.getDouble(1)))
  }

  test("bucketed cosine pairs: plan has no cartesian product, result within bucket") {
    val pairs = Ann.topCosinePairsBucketed(emb, col("vec_id"), col("embedding"), 10)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "bucketed pair mining must not cross-join")
    assert(!plan.contains("BroadcastNestedLoop"), "bucket equality must be an equi-join key")
    val rows = pairs.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val sims = rows.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("hard negatives: bucket equi-join plan, mid-band sims, per-anchor cap") {
    val negs = Ann.hardNegatives(emb, col("vec_id"), col("embedding"),
      lo = 0.2, hi = 0.8, perAnchor = 2)
    val plan = negs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoop"))
    val rows = negs.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getDouble(2); s >= 0.2 && s < 0.8 && r.getLong(0) != r.getLong(1)
    })
    val perAnchor = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(perAnchor.forall(_ <= 2))
  }

  test("probeMasks enumerates exactly the <=b-bit masks") {
    assert(Ann.probeMasks(4, 1).toSet == Set(0, 1, 2, 4, 8))
    assert(Ann.probeMasks(5, 2).size == 1 + 5 + 10)
    assert(Ann.probeMasks(5, 2).forall(m => Integer.bitCount(m) <= 2))
    assert(Ann.probeMasks(3, 3).size == 8) // full probe = scan everything
  }

  test("annJoin: equi-join plan (no cartesian), subset of knnJoin candidates") {
    val queries = emb.filter(col("vec_id") < 3)
    val aj = Ann.annJoin(queries, emb, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), k = 5, numPlanes = 5, probeBits = 2)
    val plan = aj.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "probe join must be an equi-join on bucket")
    val rows = aj.collect()
    // exactly k rows per query, rn dense 1..k
    assert(rows.groupBy(_.getLong(0)).values.forall(g =>
      g.map(_.getLong(3)).sorted.sameElements(1L to 5L)))
    // every ANN hit is a true corpus row whose distance the exact join
    // agrees on: distances ascend with rn per query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val d = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(d.sameElements(d.sorted))
    }
  }

  test("topCosinePairs is symmetric-free (a<b) and descending") {
    val pairs = Ann.topCosinePairs(emb.limit(50), col("vec_id"), col("embedding"), 10)
      .collect()
    assert(pairs.length == 10)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val sims = pairs.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("bitextMine: margin invariants, one best pair per anchor, no cartesian") {
    val mined = Ann.bitextMine(emb, col("vec_id"), col("embedding"),
      col("label") % 2 === 0, k = 4, marginFpMin = 0L)
    val plan = mined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from the bucket equi-join only")
    val rows = mined.collect()
    assert(rows.nonEmpty)
    // one best pair per a-side anchor
    val aIds = rows.map(_.getAs[Long]("a_id"))
    assert(aIds.distinct.length == aIds.length)
    // sides are disjoint by construction (label parity)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r.getAs[Long]("a_id")) % 2 == 0 &&
      labels(r.getAs[Long]("b_id")) % 2 == 1))
    // margins are positive (non-negative cosines over positive denoms)
    // and the criterion DISCRIMINATES both ways: some pairs clear the
    // declared query's 1.05 floor (mutual stand-outs), some sit below it
    // (margin < 1 is the non-mutual case — b's own neighbourhood holds
    // better partners than a, exactly what the criterion filters out)
    val margins = rows.map(_.getAs[Long]("margin_fp"))
    assert(margins.forall(_ > 0L))
    assert(margins.exists(_ >= 1050L) && margins.exists(_ < 1050L))
  }

  test("persisted graph-ANN index: query from stage ≡ in-memory hierarchical") {
    import graft.operators.GraphAnnIndex
    val idx = java.nio.file.Files.createTempDirectory("graft_gann").toString
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), idx,
      sampleMod = 16, edgesPerBucket = 3)
    assert(GraphAnnIndex.exists(idx))
    val staged = GraphAnnIndex.query(spark, idx, QueryVec.values,
        beam = 16, hops = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val mem = Ann.graphAnnHierarchical(emb, col("vec_id"), col("embedding"),
        QueryVec.values, sampleMod = 16, beam = 16, hops = 6,
        edgesPerBucket = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(staged == mem, "staged-index walk must visit exactly the " +
      "in-memory path's (id, distance) set")
  }

  test("queryBatch: per-query row-identical to the single-query walk") {
    import graft.operators.GraphAnnIndex
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_gann_b").toString
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), idx,
      sampleMod = 16, edgesPerBucket = 3)
    val qs = Seq(0, 2, 5).map(b =>
      (b.toLong, graft.oracle.OracleGen.QueryVec.shiftedValues(b)))
    val batch = GraphAnnIndex.queryBatch(spark, idx,
        qs.toDF("q_id", "q_vec"), beam = 16, hops = 6)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((b, vec) <- qs) {
      val single = GraphAnnIndex.query(spark, idx, vec, beam = 16, hops = 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(b) == single,
        s"batched walk for query $b must equal its single-query walk")
    }
    // a wrong-dim vector anywhere in the batch is refused up front —
    // the batch form of query()'s dim require (silently probing wrong
    // buckets otherwise)
    val badQs = Seq((9L, Seq(1.0, 2.0, 3.0))).toDF("q_id", "q_vec")
    intercept[IllegalArgumentException] {
      GraphAnnIndex.queryBatch(spark, idx, badQs, beam = 16, hops = 6)
    }
  }

  test("graph-ANN append ≡ rebuild; untouched adjacency partitions unread") {
    import graft.operators.GraphAnnIndex
    val inc = java.nio.file.Files.createTempDirectory("graft_gann_inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft_gann_full").toString
    val oldPart = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val newPart = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    GraphAnnIndex.build(oldPart, col("vec_id"), col("embedding"), inc,
      sampleMod = 16, edgesPerBucket = 3)
    // buckets the batch lands in — the ONLY adjacency partitions append
    // may rewrite; snapshot every other partition's file listing
    val bNew = newPart.select(Ann.bucketOf(col("embedding"), 4, 64).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    def partFiles(adj: String): Map[String, Seq[(String, Long, Long)]] =
      Option(new java.io.File(s"$inc/$adj").listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("d_bucket="))
        .filterNot(d => bNew(d.getName.stripPrefix("d_bucket=").toInt))
        .map(d => d.getName -> d.listFiles().toSeq.sortBy(_.getName)
          .map(f => (f.getName, f.length, f.lastModified)))
        .toMap
    val before = partFiles("base_adj")
    GraphAnnIndex.append(newPart, col("vec_id"), col("embedding"), inc)
    // 1. untouched destination-bucket partitions are byte-untouched —
    //    the maintenance really was incremental, not a rewrite
    assert(partFiles("base_adj") == before,
      "append rewrote an adjacency partition outside the batch's buckets")
    // 2. the maintained index is edge-for-edge the full rebuild
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), full,
      sampleMod = 16, edgesPerBucket = 3)
    def edges(path: String, adj: String): Set[(Long, Long, Int)] =
      spark.read.parquet(s"$path/$adj")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Int]("d_bucket"))).toSet
    assert(edges(inc, "base_adj") == edges(full, "base_adj"))
    assert(edges(inc, "coarse_adj") == edges(full, "coarse_adj"))
    def nodes(path: String): Set[(Long, Int)] =
      spark.read.parquet(s"$path/nodes")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("bucket"))).toSet
    assert(nodes(inc) == nodes(full))
    // 3. and serves identical query results
    val a = GraphAnnIndex.query(spark, inc, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = GraphAnnIndex.query(spark, full, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a == b)
    // 4. idempotence: re-appending the same rows is a no-op
    val snap = partFiles("base_adj")
    GraphAnnIndex.append(newPart, col("vec_id"), col("embedding"), inc)
    assert(partFiles("base_adj") == snap)
    // 5. the append's node scans are bucket-partition-PRUNED: a filter
    //    on the bucket partition key reads only the listed buckets'
    //    directories (without it each append read the whole node table
    //    — append cost ∝ corpus instead of ∝ neighbourhood)
    val someBuckets = bNew.toSeq.sorted.take(2)
    val scanned = GraphAnnIndex.prunedNodes(
        spark.read.parquet(s"$inc/nodes"), someBuckets)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => someBuckets.exists(b => f.contains(s"bucket=$b/"))),
      s"pruned scan read files outside buckets $someBuckets: $scanned")
  }

  test("graph-ANN append, FORCED incremental-merge shape ≡ rebuild " +
      "(the cost-model switch picks between two edge-identical plans)") {
    import graft.operators.GraphAnnIndex
    val inc = java.nio.file.Files.createTempDirectory("graft_gann_im").toString
    val full = java.nio.file.Files.createTempDirectory("graft_gann_imf").toString
    val oldPart = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val newPart = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    GraphAnnIndex.build(oldPart, col("vec_id"), col("embedding"), inc,
      sampleMod = 16, edgesPerBucket = 3)
    // ratio 0 ⟹ any stored count admits the merge — the branch the
    // default-ratio append ≡ rebuild test never takes at spec scale
    spark.conf.set("graft.graphann.incrementalMinRatio", "0")
    try GraphAnnIndex.append(newPart, col("vec_id"), col("embedding"), inc)
    finally spark.conf.unset("graft.graphann.incrementalMinRatio")
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), full,
      sampleMod = 16, edgesPerBucket = 3)
    def edges(path: String, adj: String): Set[(Long, Long, Int)] =
      spark.read.parquet(s"$path/$adj")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Int]("d_bucket"))).toSet
    assert(edges(inc, "base_adj") == edges(full, "base_adj"),
      "forced-incremental append must produce the rebuild's base edges")
    assert(edges(inc, "coarse_adj") == edges(full, "coarse_adj"),
      "forced-incremental append must produce the rebuild's coarse edges")
    val a = GraphAnnIndex.query(spark, inc, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = GraphAnnIndex.query(spark, full, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a == b)
  }

  test("graph-ANN legacy (gen-0) index: walks are CACHED under a listing " +
      "fingerprint, and a rebuild whose gen bump never landed (the " +
      "crash that keeps gen at 0) still invalidates — no stale serve") {
    import graft.operators.GraphAnnIndex
    val p = java.nio.file.Files.createTempDirectory("graft_gann_leg")
      .toString + "/idx"
    def makeLegacy(): Unit = {
      // strip the token: committedGen reads 0, as a pre-gen layout does
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p, "_GEN"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p, "_COUNT"))
    }
    val oldPart = emb.filter(col("vec_id") < 128)
    GraphAnnIndex.build(oldPart, col("vec_id"), col("embedding"), p,
      sampleMod = 16, edgesPerBucket = 3)
    makeLegacy()
    assert(GraphAnnIndex.committedGen(p) == 0L)
    def visitedIds() = GraphAnnIndex.query(spark, p, QueryVec.values,
      beam = 16, hops = 6).collect().map(_.getLong(0)).toSet
    val v0 = visitedIds() // populates the fingerprint-keyed cache
    assert(v0.nonEmpty && v0.forall(_ < 128))
    assert(visitedIds() == v0) // warm re-walk, same bytes
    // rebuild at the SAME path on a DIFFERENT corpus, then strip _GEN
    // again — the "crashed between writeMeta and bumpGen" state every
    // legacy layout aliases at token 0. The fingerprint key must see
    // the changed listings and refuse the cached pre-rebuild relations.
    GraphAnnIndex.build(emb.filter(col("vec_id") >= 128 && col("vec_id") < 256),
      col("vec_id"), col("embedding"), p, sampleMod = 16, edgesPerBucket = 3)
    makeLegacy()
    val v1 = visitedIds()
    assert(v1.nonEmpty && v1.forall(id => id >= 128 && id < 256),
      s"stale cache served pre-rebuild ids: ${v1.filter(_ < 128)}")
  }

  test("graph-ANN keeps no ids/ sidecar: admission and delete read nodes/") {
    import graft.operators.GraphAnnIndex
    import scala.jdk.CollectionConverters._
    val idx = java.nio.file.Files.createTempDirectory("graft_gann_adm").toString
    def noIds(step: String): Unit = assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "ids")),
      s"$step created ids/")
    def nodeIds(): Seq[Long] = spark.read.parquet(s"$idx/nodes")
      .collect().map(_.getAs[Long]("id")).toSeq
    def nodeFiles(): Set[String] = {
      val root = java.nio.file.Paths.get(idx, "nodes")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString).toSet
      finally walk.close()
    }
    GraphAnnIndex.build(emb.filter(col("vec_id") >= 8),
      col("vec_id"), col("embedding"), idx, sampleMod = 16, edgesPerBucket = 3)
    noIds("build")
    // a small append lands exactly one node file per touched bucket
    val batch = emb.filter(col("vec_id") < 8)
    val touched = batch.select(Ann.bucketOf(col("embedding"), 4, 64))
      .distinct().collect().map(r => s"bucket=${r.getInt(0)}").toSet
    val before = nodeFiles()
    GraphAnnIndex.append(batch, col("vec_id"), col("embedding"), idx)
    noIds("append")
    val added = nodeFiles() -- before
    assert(added.size == touched.size &&
      added.map(f => f.takeWhile(_ != '/')) == touched,
      s"append added $added for touched buckets $touched")
    assert(nodeIds().contains(1L))
    // a CHANGED-vector re-append is refused by id, not by vector
    // bucket: negating the vector flips every LSH hyperplane sign
    // (different bucket), so a vector-bucket prune of the node table
    // would miss the stored twin and insert a duplicate id
    val negated = emb.filter(col("vec_id") === 1)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    assert(negated.select(Ann.bucketOf(col("embedding"), 4, 64)).head().getInt(0) !=
      emb.filter(col("vec_id") === 1)
        .select(Ann.bucketOf(col("embedding"), 4, 64)).head().getInt(0))
    val n = nodeIds().size
    GraphAnnIndex.append(negated, col("vec_id"), col("embedding"), idx)
    assert(nodeIds().size == n, "duplicate id admitted")
    import spark.implicits._
    GraphAnnIndex.delete(Seq(1L).toDF("id"), idx)
    assert(!nodeIds().contains(1L) && nodeIds().size == n - 1)
    noIds("delete")
    GraphAnnIndex.upsert(negated.withColumn("vec_id", lit(2L)),
      col("vec_id"), col("embedding"), idx)
    assert(nodeIds().count(_ == 2L) == 1 && nodeIds().size == n - 1)
    noIds("upsert")
    GraphAnnIndex.compact(spark, idx)
    noIds("compact")
  }

  test("graph-ANN recover: a logged maintenance commit rolls forward " +
      "whole; an unlogged stage discards; second writer refused") {
    import graft.operators.GraphAnnIndex
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_gann_rc").toString
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), idx,
      sampleMod = 16, edgesPerBucket = 3)
    def snap(rel: String): Seq[String] =
      spark.read.parquet(s"$idx/$rel").collect().map(_.toString).sorted.toSeq
    val nodesBefore = snap("nodes")
    val adjBefore = snap("base_adj")
    // crashed writer pre-intent: orphan stage + intent marker, reads
    // refuse, recover discards — nothing happened
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "_COMMIT_STAGE", "0"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(idx, "_APPENDING"))
    intercept[IllegalStateException](GraphAnnIndex.readMeta(idx))
    GraphAnnIndex.recover(idx)
    assert(snap("nodes") == nodesBefore && snap("base_adj") == adjBefore)
    assert(GraphAnnIndex.readMeta(idx) != null) // healthy again
    // second writer refused while the lock is held
    graft.tables.WriterLock.withLock(idx) {
      intercept[IllegalStateException](
        GraphAnnIndex.delete(Seq(1L).toDF("id"), idx))
    }
    // a real delete after everything ≡ rebuild-on-remaining (the
    // multi-relation commit applied whole)
    GraphAnnIndex.delete(
      emb.filter(col("vec_id") % 11 === 0).select(col("vec_id").as("id")),
      idx)
    val rem = java.nio.file.Files.createTempDirectory("graft_gann_rcr").toString
    GraphAnnIndex.build(emb.filter(col("vec_id") % 11 =!= 0),
      col("vec_id"), col("embedding"), rem,
      sampleMod = 16, edgesPerBucket = 3)
    def snapOf(p: String, rel: String): Seq[String] =
      spark.read.parquet(s"$p/$rel").collect().map(_.toString).sorted.toSeq
    for (rel <- Seq("nodes", "base_adj", "coarse_adj"))
      assert(snapOf(idx, rel) == snapOf(rem, rel), rel)
  }

  test("graph-ANN delete ≡ rebuild-on-remaining; only the victim's " +
      "neighbourhood partitions rewritten") {
    import graft.operators.GraphAnnIndex
    import spark.implicits._
    val inc = java.nio.file.Files.createTempDirectory("graft_gann_del").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_gann_ref").toString
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), inc,
      sampleMod = 16, edgesPerBucket = 3)
    // ONE victim → affected = the ≤2-bit neighbourhood of its bucket
    // (11 of 16); the other 5 partitions must be byte-untouched
    val victim = 48L // coarse member too (48 % 16 == 0) — both layers repair
    val vBucket = emb.filter(col("vec_id") === victim)
      .select(Ann.bucketOf(col("embedding"), 4, 64)).head().getInt(0)
    val affected = Ann.probeMasks(4, 2).map(_ ^ vBucket).toSet
    def partFiles(adj: String): Map[String, Seq[(String, Long, Long)]] =
      Option(new java.io.File(s"$inc/$adj").listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("d_bucket="))
        .filterNot(d => affected(d.getName.stripPrefix("d_bucket=").toInt))
        .map(d => d.getName -> d.listFiles().toSeq.sortBy(_.getName)
          .map(f => (f.getName, f.length, f.lastModified)))
        .toMap
    val before = partFiles("base_adj")
    assert(before.nonEmpty, "test needs untouched partitions to check")
    GraphAnnIndex.delete(Seq(victim).toDF("id"), inc)
    assert(partFiles("base_adj") == before,
      "delete rewrote a partition outside the victim's neighbourhood")
    GraphAnnIndex.build(emb.filter(col("vec_id") =!= victim),
      col("vec_id"), col("embedding"), ref, sampleMod = 16, edgesPerBucket = 3)
    def edges(path: String, adj: String): Set[(Long, Long)] =
      spark.read.parquet(s"$path/$adj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(inc, "base_adj") == edges(ref, "base_adj"))
    assert(edges(inc, "coarse_adj") == edges(ref, "coarse_adj"))
    def nodeIds(path: String): Set[Long] =
      spark.read.parquet(s"$path/nodes")
        .collect().map(_.getAs[Long]("id")).toSet
    assert(nodeIds(inc) == nodeIds(ref) && !nodeIds(inc)(victim))
    val a = GraphAnnIndex.query(spark, inc, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = GraphAnnIndex.query(spark, ref, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a == b)
    // deleting an absent id is a no-op
    val snap = edges(inc, "base_adj")
    GraphAnnIndex.delete(Seq(victim).toDF("id"), inc)
    assert(edges(inc, "base_adj") == snap)
  }

  test("graph-ANN upsert ≡ rebuild-with-replacements; compact is invariant " +
      "and shrinks file counts") {
    import graft.operators.GraphAnnIndex
    val inc = java.nio.file.Files.createTempDirectory("graft_gann_up").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_gann_upr").toString
    GraphAnnIndex.build(emb, col("vec_id"), col("embedding"), inc,
      sampleMod = 16, edgesPerBucket = 3)
    // re-embed every vec_id ≡ 0 (mod 9): reversed vector (a real move)
    val moved = emb.filter(pmod(col("vec_id"), lit(9)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    GraphAnnIndex.upsert(moved, col("vec_id"), col("embedding"), inc)
    val refCorpus = emb.filter(pmod(col("vec_id"), lit(9)) =!= 0)
      .select(col("vec_id"), col("embedding")).unionByName(moved)
    GraphAnnIndex.build(refCorpus, col("vec_id"), col("embedding"), ref,
      sampleMod = 16, edgesPerBucket = 3)
    def edges(path: String, adj: String): Set[(Long, Long)] =
      spark.read.parquet(s"$path/$adj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(inc, "base_adj") == edges(ref, "base_adj"))
    assert(edges(inc, "coarse_adj") == edges(ref, "coarse_adj"))
    val q1 = GraphAnnIndex.query(spark, inc, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // compact: results identical, data files per partition drop to one
    GraphAnnIndex.compact(spark, inc)
    val q2 = GraphAnnIndex.query(spark, inc, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(q1 == q2, "compaction must not change query results")
    assert(edges(inc, "base_adj") == edges(ref, "base_adj"))
    val perPart = Option(new java.io.File(s"$inc/nodes").listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perPart.nonEmpty && perPart.forall(_ == 1),
      "each compacted partition must hold exactly one data file")
  }

  test("graph-ANN query-relation cache invalidates on EVERY mutation — " +
      "a walk after append/delete/compact/rebuild never serves the " +
      "pre-mutation relations") {
    import graft.operators.GraphAnnIndex
    val p = java.nio.file.Files.createTempDirectory("graft_gann_gen")
      .toString + "/idx"
    val oldPart = emb.filter(col("vec_id") < 128)
    val newPart = emb.filter(col("vec_id") >= 128 && col("vec_id") < 256)
    GraphAnnIndex.build(oldPart, col("vec_id"), col("embedding"), p,
      sampleMod = 16, edgesPerBucket = 3)
    def visitedIds() = GraphAnnIndex.query(spark, p, QueryVec.values,
      beam = 16, hops = 6).collect().map(_.getLong(0)).toSet
    val gen0 = GraphAnnIndex.committedGen(p)
    assert(gen0 != 0L, "build must commit a generation token")
    val v0 = visitedIds() // populates the cache at gen0
    assert(v0.forall(_ < 128))
    // append: gen bumps, and the cached pre-append relations must NOT
    // serve — the new ids are reachable immediately
    GraphAnnIndex.append(newPart, col("vec_id"), col("embedding"), p)
    val gen1 = GraphAnnIndex.committedGen(p)
    assert(gen1 != gen0, "append must bump the generation")
    val v1 = visitedIds()
    assert(v1.exists(id => id >= 128 && id < 256),
      "post-append walk must see admitted ids (stale cache would not)")
    // delete: victims vanish from the walk at once
    GraphAnnIndex.delete(
      emb.filter(col("vec_id") >= 128).select(col("vec_id")), p,
      idName = "vec_id")
    assert(GraphAnnIndex.committedGen(p) != gen1)
    assert(visitedIds().forall(_ < 128))
    // compact: row-invariant, still a fresh generation (files moved)
    val before = visitedIds()
    GraphAnnIndex.compact(spark, p)
    assert(visitedIds() == before)
    // a NO-OP append (all ids already stored) commits nothing and must
    // not bump — the cache keeps serving, which is the cheap case
    val genC = GraphAnnIndex.committedGen(p)
    GraphAnnIndex.append(oldPart, col("vec_id"), col("embedding"), p)
    assert(GraphAnnIndex.committedGen(p) == genC,
      "an admission no-op must not invalidate the cache")
    // delete-and-REBUILD at the same path: the token is nanotime-unique,
    // so a fresh index can never alias a stale cache entry
    GraphAnnIndex.build(newPart, col("vec_id"), col("embedding"), p,
      sampleMod = 16, edgesPerBucket = 3)
    assert(GraphAnnIndex.committedGen(p) != genC)
    val vR = visitedIds()
    assert(vR.nonEmpty && vR.forall(id => id >= 128 && id < 256),
      "post-rebuild walk must serve the NEW corpus only")
  }

  test("graph-ANN fragmentation: 1.0 on a fresh build, appends add files " +
      "to touched partitions, compactIfFragmented fires past the " +
      "threshold and walks are invariant") {
    import graft.operators.GraphAnnIndex
    val p = java.nio.file.Files.createTempDirectory("graft_gann_frag").toString
    GraphAnnIndex.build(emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
      col("vec_id"), col("embedding"), p, sampleMod = 16, edgesPerBucket = 3)
    assert(GraphAnnIndex.fragmentation(p) == 1.0)
    assert(!GraphAnnIndex.compactIfFragmented(spark, p))
    Seq(0, 3, 6).foreach { w =>
      GraphAnnIndex.append(emb.filter(pmod(col("vec_id"), lit(9)) === w),
        col("vec_id"), col("embedding"), p)
    }
    val frag = GraphAnnIndex.fragmentation(p)
    assert(frag > 2.0, s"3 waves must fragment past 2 files/partition: $frag")
    val before = GraphAnnIndex.query(spark, p, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(GraphAnnIndex.compactIfFragmented(spark, p))
    assert(GraphAnnIndex.fragmentation(p) == 1.0)
    assert(!GraphAnnIndex.compactIfFragmented(spark, p))
    val after = GraphAnnIndex.query(spark, p, QueryVec.values)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(before == after)
  }

  test("graph-ANN index: a torn append is refused, not silently served") {
    import graft.operators.GraphAnnIndex
    val idx = java.nio.file.Files.createTempDirectory("graft_gann_torn").toString
    GraphAnnIndex.build(emb.limit(100), col("vec_id"), col("embedding"), idx,
      sampleMod = 16, edgesPerBucket = 3)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(idx, "_APPENDING"))
    val e = intercept[IllegalStateException] {
      GraphAnnIndex.query(spark, idx, QueryVec.values)
    }
    assert(e.getMessage.contains("unfinished maintenance"))
    // recover heals in place (no rebuild): the intent clears and the
    // committed state serves
    GraphAnnIndex.recover(idx)
    assert(GraphAnnIndex.query(spark, idx, QueryVec.values).count() > 0)
  }
}
