package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphAnnIndex, IvfIndex, Pq, Retrieval,
  VectorStore}
import graft.oracle.OracleGen.QueryVec
import graft.tables.Tables

/** BACKWARD-COMPAT sweep: every persisted layout must read a stage
  * written by an OLDER writer — either transparently (legacy fallback /
  * one-time migration) or with an explicit rebuild message, never a
  * silent wrong answer. The postings stage's generation-0 fallback got
  * this treatment in round 16 (RetrievalSpec); these are the other five
  * layouts, each exercised against a hand-degraded "pre-gen" fixture
  * (the current writer's output with the newer-format artifacts
  * stripped, which is byte-what an old writer produced).
  */
class LayoutCompatSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val emb = Tables.embeddings(spark, sf0001)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_compat_$tag")
      .resolve("s").toString

  test("windows: a pre-generation stage (no _GEN commit file) reads as " +
      "generation 0 — same MaxSim rows, and maintenance re-commits") {
    val p = tmp("win")
    Retrieval.stageWindows(docs, col("doc_id"), col("text"), p)
    val q = "customer order for table part data".split(" ").toSeq
    val before = Retrieval.maxSimPrunedFromStage(spark, p, q)
      .collect().map(_.toString).sorted.toSeq
    // strip the commit file — the legacy (pre-generation) layout
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p, "_GEN"))
    val legacy = Retrieval.maxSimPrunedFromStage(spark, p, q)
      .collect().map(_.toString).sorted.toSeq
    assert(legacy == before, "gen-0 fallback must not change a row")
    assert(Retrieval.committedWinGen(p) == 0L)
    // maintenance on the legacy stage refuses with the EXPLICIT rebuild
    // message (never a silent misread), naming the in-place migration…
    val e = intercept[IllegalArgumentException] {
      Retrieval.appendWindows(docs.limit(0), col("doc_id"), col("text"), p)
    }
    assert(e.getMessage.contains("predates the generation-committed") &&
      e.getMessage.contains("compactWindows"))
    // …and the named migration upgrades in place: append then works
    Retrieval.compactWindows(spark, p)
    Retrieval.appendWindows(docs.limit(0), col("doc_id"), col("text"), p)
    val after = Retrieval.maxSimPrunedFromStage(spark, p, q)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  /** What an older writer left beside an index's data relation: the
    * `ids/` sidecar, either the v2 layout (id, key, ib) partitioned by id
    * bucket with its `_IDS_V2` marker, or the pre-ib layout without one —
    * (id, cell) for the IVF index, (id) alone for the graph index.
    * `key` is the IVF `cell` or the graph `bucket`.
    */
  private def plantLegacyIds(p: String, graph: Boolean, v2: Boolean): Unit = {
    val (rel, id, key) =
      if (graph) ("nodes", "id", "bucket") else ("cells", "vec_id", "cell")
    val ids = spark.read.parquet(s"$p/$rel")
      .select(col(id).cast("long").as("id"), col(key))
    if (v2) {
      ids.withColumn("ib",
          pmod(crc32(col("id").cast("string")), lit(64L)).cast("int"))
        .write.partitionBy("ib").parquet(s"$p/ids")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(p, "ids", "_IDS_V2"))
    } else (if (graph) ids.select(col("id")) else ids)
      .coalesce(1).write.parquet(s"$p/ids")
  }

  test("ivf: an index carrying an older build's ids/ sidecar (with or " +
      "without _IDS_V2) serves identically — re-appending stored ids is " +
      "a no-op, delete ≡ rebuild-on-remaining") {
    val rem = tmp("ivfrem")
    IvfIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id",
      "embedding", rem, nlist = 8, dim = 64)
    def rows(path: String): Seq[String] =
      spark.read.parquet(s"$path/cells").collect().map(_.toString).sorted.toSeq
    for (v2 <- Seq(true, false)) {
      val p = tmp(s"ivf$v2")
      IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
      val probe = () => IvfIndex.probe(spark, p, QueryVec.values, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
      val before = probe()
      val stored = rows(p)
      plantLegacyIds(p, graph = false, v2)
      assert(probe() == before, s"legacy ids/ (v2=$v2) must not change a probe")
      IvfIndex.append(emb.limit(64), p)
      assert(rows(p) == stored,
        s"re-admitting stored ids beside a legacy ids/ (v2=$v2) must be a no-op")
      IvfIndex.delete(emb.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id")), p, idName = "vec_id")
      assert(rows(p) == rows(rem), s"delete ≡ rebuild-on-remaining (v2=$v2)")
    }
  }

  test("ivf: compact removes an older build's ids/ sidecar (with or " +
      "without _IDS_V2) without stranding the intent marker") {
    for (v2 <- Seq(true, false)) {
      val p = tmp(s"ivfc$v2")
      IvfIndex.build(emb, "vec_id", "embedding", p, nlist = 8, dim = 64)
      val probe = () => IvfIndex.probe(spark, p, QueryVec.values, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
      val before = probe()
      plantLegacyIds(p, graph = false, v2)
      IvfIndex.compact(spark, p)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(p, "_APPENDING")),
        s"compact must not strand the intent marker (v2=$v2)")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "ids")),
        s"compact removes the legacy ids/ (v2=$v2)")
      assert(probe() == before, s"compact is probe-invariant (v2=$v2)")
      // and the compacted index still takes normal maintenance
      IvfIndex.append(emb.limit(64), p)
      assert(probe() == before)
    }
  }

  test("graph-ann: an index carrying an older build's ids/ sidecar (with " +
      "or without _IDS_V2) walks identically — re-appending stored ids " +
      "is a no-op, delete ≡ rebuild-on-remaining") {
    val corpus = emb.filter(col("vec_id") < 192)
    val rem = tmp("gannrem")
    GraphAnnIndex.build(corpus.filter(col("vec_id") % 3 =!= 0),
      col("vec_id"), col("embedding"), rem, sampleMod = 4, edgesPerBucket = 8)
    def rows(path: String): Seq[Seq[String]] =
      Seq("nodes", "base_adj", "coarse_adj").map(r => spark.read
        .parquet(s"$path/$r").collect().map(_.toString).sorted.toSeq)
    for (v2 <- Seq(true, false)) {
      val p = tmp(s"gann$v2")
      GraphAnnIndex.build(corpus, col("vec_id"), col("embedding"), p,
        sampleMod = 4, edgesPerBucket = 8)
      val walk = () => GraphAnnIndex.query(spark, p, QueryVec.values)
        .collect().map(_.toString).sorted.toSeq
      val before = walk()
      val stored = rows(p)
      plantLegacyIds(p, graph = true, v2)
      assert(walk() == before, s"legacy ids/ (v2=$v2) must not change a walk")
      GraphAnnIndex.append(corpus.limit(64), col("vec_id"), col("embedding"), p)
      assert(rows(p) == stored,
        s"re-admitting stored ids beside a legacy ids/ (v2=$v2) must be a no-op")
      GraphAnnIndex.delete(corpus.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id")), p, idName = "vec_id")
      assert(rows(p) == rows(rem), s"delete ≡ rebuild-on-remaining (v2=$v2)")
    }
  }

  test("graph-ann: compact removes an older build's ids/ sidecar (with " +
      "or without _IDS_V2) without stranding the intent marker") {
    for (v2 <- Seq(true, false)) {
      val p = tmp(s"gannc$v2")
      GraphAnnIndex.build(emb.filter(col("vec_id") < 192), col("vec_id"),
        col("embedding"), p, sampleMod = 4, edgesPerBucket = 8)
      val walk = () => GraphAnnIndex.query(spark, p, QueryVec.values)
        .collect().map(_.toString).sorted.toSeq
      val before = walk()
      plantLegacyIds(p, graph = true, v2)
      GraphAnnIndex.compact(spark, p)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(p, "_APPENDING")),
        s"compact must not strand the intent marker (v2=$v2)")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "ids")),
        s"compact removes the legacy ids/ (v2=$v2)")
      assert(walk() == before, s"compact is walk-invariant (v2=$v2)")
      // and the compacted index still takes an append
      val nNodes = spark.read.parquet(s"$p/nodes").count()
      GraphAnnIndex.append(emb.filter(col("vec_id") >= 192 &&
        col("vec_id") < 256), col("vec_id"), col("embedding"), p)
      assert(spark.read.parquet(s"$p/nodes").count() > nNodes)
    }
  }

  test("vector store: a pre-versioning store (no _VERSION/_RETAIN) " +
      "serves probes and takes every maintenance op; version-only ops " +
      "refuse with an explicit message") {
    val p = tmp("store")
    VectorStore.write(emb.select(col("vec_id"), col("label"),
      col("embedding")), col("embedding"), p)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, "_VERSION")))
    val before = VectorStore.queryL2(spark, p, "embedding", "vec_id",
      QueryVec.values, 5).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(before.nonEmpty)
    // the new writer's full maintenance surface works on the old layout
    VectorStore.upsert(emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("label"), col("embedding")),
      col("embedding"), p)
    VectorStore.delete(spark, p,
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
    VectorStore.compact(spark, p)
    VectorStore.recover(p) // no-op on healthy, must not misread layout
    val after = VectorStore.queryL2(spark, p, "embedding", "vec_id",
      QueryVec.values, Int.MaxValue).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(!after.exists(_ % 5 == 0), "deleted ids must stay deleted")
    // version-only surface refuses loudly, never misreads
    val e = intercept[IllegalArgumentException] {
      VectorStore.retain(p, keep = 1)
    }
    assert(e.getMessage.contains("not a versioned store"))
  }

  test("pq: a legacy un-versioned root publication (no _CURRENT) loads " +
      "as version 0 and republish supersedes it in place") {
    val p = tmp("pq")
    val pqEmb = emb.filter(col("vec_id") < 64)
    // produce the legacy layout: one versioned publish, then strip the
    // version artifacts so only root files remain — what the
    // pre-versioning writer left
    Pq.republish(pqEmb, col("vec_id"), col("embedding"), m = 4,
      subDim = 16, k = 4, iters = 1, path = p)
    val dir = java.nio.file.Paths.get(p)
    spark.read.parquet(s"$p/v1").coalesce(1).write.mode("overwrite")
      .parquet("file:" + p + "_root_tmp")
    java.nio.file.Files.walk(java.nio.file.Paths.get(p + "_root_tmp"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(f => java.nio.file.Files.copy(f,
        dir.resolve(f.getFileName.toString)))
    graft.tables.Staging.deleteRec(s"$p/v1")
    java.nio.file.Files.delete(dir.resolve("_CURRENT"))
    java.nio.file.Files.createFile(dir.resolve("_GRAFT_DONE"))
    assert(Pq.currentVersion(p) == 0L)
    val books = Pq.loadPublished(spark, p, m = 4)
    assert(books.length == 4, "legacy root publication must load")
    // a republish on the legacy path versions it (v1) and supersedes
    // the root files for readers from then on
    Pq.republish(pqEmb, col("vec_id"), col("embedding"), m = 4,
      subDim = 16, k = 4, iters = 1, path = p)
    assert(Pq.currentVersion(p) == 1L)
    assert(Pq.loadPublished(spark, p, m = 4).length == 4)
  }
}
