package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED hierarchical graph-ANN index — build once, query many.
  *
  * [[Ann.graphAnnHierarchical]] proves the distributed HNSW shape but
  * rebuilds both navigable graphs on every invocation; the reference's
  * Chroma store keeps its HNSW index durable across sessions
  * (`email_fetching.py:21-27` — `PersistentClient`, index implicit in
  * the collection). This object is that durability for the engine: the
  * node table and both layers' adjacency land on disk ONCE, and a query
  * is just the two beam walks against the staged relations — no
  * LSH-bucketing pass, no per-node top-k window, no corpus-wide edge
  * join at query time.
  *
  * Layout under `path` (the VectorStore discipline — the directory
  * layout IS the index, no server process, nothing rebuilt on restart):
  *
  *   nodes/        (id, vec, bucket)    partitioned by LSH `bucket`.
  *                 Its stored id column is also the admission and
  *                 delete lookup: parquet column pruning reads ids (and
  *                 buckets), not vectors, so an append writes exactly
  *                 one node file per touched bucket and nothing else.
  *                 An `ids/` sidecar left by an older build is ignored
  *                 by every reader and removed by [[compact]]
  *   coarse_adj/   (src, dst, d_bucket) partitioned by `d_bucket`
  *   base_adj/     (src, dst, d_bucket) partitioned by `d_bucket`
  *   _INDEX_META   parameters; written LAST via atomic rename — the
  *                 done marker certifying every part above landed whole
  *
  * The coarse layer is DERIVED (id % sampleMod == 0), so it needs no
  * separate node table. Adjacency is stored DIRECTED; the query path
  * pre-doubles it after the (already materialized) parquet read, which
  * is the cheap half of what [[Ann.graphAnnBeamFrom]]'s stage cut
  * already does.
  *
  * Partitioning `*_adj` by d_bucket is what makes maintenance
  * INCREMENTAL: a batch of new vectors landing in bucket set B changes
  * a stored (src, d_bucket) edge group iff d_bucket ∈ B (a new node
  * entered that destination bucket's ranking) or src is new. [[append]]
  * therefore rewrites exactly the B partitions (dynamic partition
  * overwrite) plus pure-append rows for new sources into untouched
  * partitions — never a full rebuild, and provably identical to one
  * (AnnSpec asserts append ≡ rebuild edge-for-edge AND that untouched
  * partition files are byte-untouched).
  *
  * Query results are row-identical to [[Ann.graphAnnHierarchical]] on
  * the same corpus — the oracle replay of the full build+walk is the
  * correctness gate for queries served from the stage.
  *
  * At 100 TB: nodes/ is bucket-partition-pruned for probe seeds, the
  * adjacency is a few edges per node (Σ C(H,0..b)/2^H of all-pairs paid
  * once at build), and each query hop is a broadcast semi-join against
  * the staged edge list plus a keyed vector fetch — hops·beam·degree
  * vector reads, never a corpus scan.
  */
object GraphAnnIndex {

  final case class Meta(sampleMod: Int, edgesPerBucket: Int, numPlanes: Int,
                        dim: Int, probeBits: Int)

  private def metaFile(path: String) =
    java.nio.file.Paths.get(path, "_INDEX_META")
  private def genFile(path: String) =
    java.nio.file.Paths.get(path, "_GEN")

  /** Committed-generation token (cf. Retrieval.committedGen): one
    * marker-file stat, rewritten (atomic rename, nanotime token — unique
    * across delete-and-rebuild at the same path, which a counter reset
    * to 0 would alias) at the END of every completed mutation. 0 = a
    * legacy index no new-writer mutation has touched yet. Its one job is
    * keying [[queryRels]]'s cache: same token ⟺ byte-identical committed
    * relations.
    */
  def committedGen(path: String): Long =
    if (java.nio.file.Files.exists(genFile(path)))
      java.nio.file.Files.readString(genFile(path)).trim.toLong
    else 0L

  private def bumpGen(path: String): Unit =
    graft.tables.Staging.publishText(genFile(path), System.nanoTime().toString)

  /** Best-effort stored-node-count HINT — the cost-model input that picks
    * between [[updateLayerOps]]'s two edge-identical `replaced` shapes
    * (full bucket recompute vs incremental top-k merge). It is ONLY a
    * hint: both shapes produce the same edges, so a stale or missing
    * count can never corrupt the index — it just picks the slower of two
    * correct plans (missing ⟹ full recompute, the small-index default;
    * a crash between commit and the hint write leaves it one wave low,
    * which only delays the switch by a batch). Written by build
    * (overlapped with the derived-relation writes) and maintained by
    * append/delete from counts their admission passes already collect.
    */
  private def countFile(path: String) =
    java.nio.file.Paths.get(path, "_COUNT")

  private def readCountHint(path: String): Option[Long] =
    if (java.nio.file.Files.exists(countFile(path)))
      scala.util.Try(java.nio.file.Files.readString(countFile(path))
        .trim.toLong).toOption
    else None

  private def writeCountHint(path: String, n: Long): Unit =
    graft.tables.Staging.publishText(countFile(path), n.toString)

  /** True iff a completed build exists at `path` (the done marker is
    * written last, so its presence certifies the whole layout).
    */
  def exists(path: String): Boolean =
    java.nio.file.Files.exists(metaFile(path))

  private def writeMeta(path: String, m: Meta): Unit =
    graft.tables.Staging.publishText(metaFile(path),
      s"${m.sampleMod} ${m.edgesPerBucket} ${m.numPlanes} ${m.dim} ${m.probeBits}")

  /** Read the index parameters; refuses an index with unfinished
    * maintenance (flagged by the `_APPENDING` intent marker or a pending
    * staged commit; heal with [[recover]] — every mutation is staged
    * whole under the [[graft.tables.Commit]] protocol before any live
    * directory is touched, so recovery rolls it forward or discards it,
    * never a rebuild).
    */
  def readMeta(path: String): Meta = {
    require(exists(path), s"$path is not a graph-ANN index (no _INDEX_META)")
    if (graft.tables.Commit.maintenancePending(path))
      throw new IllegalStateException(
        s"$path has unfinished maintenance (intent marker present) — a " +
          "writer crashed or is still running; heal with recover()")
    val p = java.nio.file.Files.readString(metaFile(path)).trim
      .split(" ").map(_.toInt)
    Meta(p(0), p(1), p(2), p(3), p(4))
  }

  /** Build the full index at `path` (wholesale overwrite of any previous
    * index there). The adjacency builds read the STAGED node table, so
    * the corpus lineage runs exactly once.
    */
  def build(corpus: DataFrame, idCol: Column, vecCol: Column, path: String,
            sampleMod: Int = 16, edgesPerBucket: Int = 3, numPlanes: Int = 4,
            dim: Int = 64, probeBits: Int = 2): Unit = {
    val spark = corpus.sparkSession
    graft.tables.Staging.deleteRec(path)
    graft.tables.Staging.writePartitioned(
      corpus.select(idCol.as("id"), vecCol.as("vec"),
        Ann.bucketOf(vecCol, numPlanes, dim).as("bucket")),
      "bucket", s"$path/nodes")
    val nodes = spark.read.parquet(s"$path/nodes")
    // the two derived adjacency layers each read only the STAGED nodes
    // and write disjoint directories — run them CONCURRENTLY (the
    // Commit.commit staging discipline): the done marker below still
    // lands strictly after both, so crash atomicity is unchanged. First
    // failure rethrows after all settle.
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      // the count-hint read overlaps the derived-relation writes below
      // (same staged nodes, zero extra wall-clock on the critical path)
      val counted = Future(nodes.count())
      val writes = Seq(
        Future(graft.tables.Staging.writePartitioned(
          Ann.neighborEdges(nodes.filter(col("id") % sampleMod === 0),
            col("id"), col("vec"), edgesPerBucket, numPlanes, dim, probeBits),
          "d_bucket", s"$path/coarse_adj")),
        Future(graft.tables.Staging.writePartitioned(
          Ann.neighborEdges(nodes, col("id"), col("vec"), edgesPerBucket,
            numPlanes, dim, probeBits),
          "d_bucket", s"$path/base_adj")))
      val settled = writes.map(f =>
        scala.util.Try(Await.result(f, Duration.Inf)))
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      scala.util.Try(Await.result(counted, Duration.Inf))
        .foreach(writeCountHint(path, _))
    }
    writeMeta(path, Meta(sampleMod, edgesPerBucket, numPlanes, dim, probeBits))
    bumpGen(path)
  }

  /** The query path's relations, pinned per COMMITTED GENERATION: the
    * node table and both layers' pre-doubled adjacency, localCheckpointed
    * and reused by every walk against the same committed index. A
    * streaming serve re-walks one static index every micro-batch, and
    * each walk used to re-read + re-double both adjacency relations AND
    * re-scan nodes/ once per hop for the vector fetch — per-batch fixed
    * cost that dwarfed the walk's useful work (the top two bench
    * queries). Invalidation is the one `_GEN` stat (or, for a legacy
    * gen-0 index, the [[legacyKey]] listing fingerprint): key changed ⟹
    * drop the entry, rebuild (old checkpoint blocks free via the context
    * cleaner once unreferenced). One entry per index path, and each
    * cache miss sweeps entries whose path no longer exists, so the
    * cache's footprint is the LIVE indexes' working set, not history.
    *
    * localCheckpoint, NOT persist(): Spark's CacheManager substitutes a
    * persisted plan into ANY later plan reading the same parquet path —
    * and external commits (this index's own maintenance moves files
    * directly) never invalidate that cache, so a persisted nodes/ read
    * would silently serve PRE-MUTATION bytes to every subsequent reader,
    * including the maintenance passes themselves (caught by AnnSpec's
    * pruned-scan assertion). A checkpointed plan is a LogicalRDD — it
    * matches nothing, so fresh reads stay reads. The cost is the
    * Stage.Local durability trade the walk already makes: losing an
    * executor fails the query, which simply re-runs.
    */
  private final case class QueryRels(gen: Long, nodes: DataFrame,
                                     g0: DataFrame, g1: DataFrame)
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[String, QueryRels]()

  /** Cache key for a LEGACY (gen-0) index: a fingerprint of the root +
    * all three walk relations' directory listings (names, lengths,
    * mtimes — 4 readdirs, no file reads), forced NEGATIVE so it can
    * never collide with a real nanotime token. `_GEN` is written after
    * the done marker, so gen 0 aliases "legacy index, stable" with
    * "rebuild crashed between writeMeta and bumpGen" — and every legacy
    * layout at a path shares the 0 token, so caching BY the 0 token
    * could keep serving pre-rebuild bytes (the exact stale-read class
    * the token exists to prevent). Keying by the listing fingerprint
    * keeps legacy indexes CACHED (a bench/serve walk against a legacy
    * stage would otherwise re-read + re-double both adjacencies every
    * walk, ~1 s each at sf0.1) while any rebuild — completed or torn —
    * changes the listings and therefore the key.
    */
  private def legacyKey(path: String): Long = {
    import graft.tables.Staging.dirFingerprint
    val fp = dirFingerprint(path) + dirFingerprint(s"$path/nodes") +
      dirFingerprint(s"$path/base_adj") + dirFingerprint(s"$path/coarse_adj")
    -(math.abs(scala.util.hashing.MurmurHash3.stringHash(fp).toLong) + 1L)
  }

  private def queryRels(spark: SparkSession, path: String): QueryRels = {
    val gen0 = committedGen(path)
    val gen = if (gen0 != 0L) gen0 else legacyKey(path)
    val hit = relCache.get(path)
    if (hit != null && hit.gen == gen &&
        (hit.nodes.sparkSession.sparkContext eq spark.sparkContext)) hit
    else relCache.synchronized {
      val again = relCache.get(path)
      if (again != null && again.gen == gen &&
          (again.nodes.sparkSession.sparkContext eq spark.sparkContext))
        again
      else {
        // Miss ⟹ we pay a rebuild anyway; piggyback an eviction sweep
        // so entries for deleted/rotated index paths (temp test dirs,
        // per-scale bench dirs, rebuild-at-new-path rotations) don't
        // pin checkpoint blocks for the context's lifetime. One stat
        // per OTHER cached path, only on the cold path.
        val it = relCache.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey != path && !exists(e.getKey)) it.remove()
        }
        val fresh = QueryRels(gen,
          spark.read.parquet(s"$path/nodes").localCheckpoint(),
          Ann.doubledAdj(spark.read.parquet(s"$path/base_adj"))
            .select(col("src"), col("dst")).localCheckpoint(),
          Ann.doubledAdj(spark.read.parquet(s"$path/coarse_adj"))
            .select(col("src"), col("dst")).localCheckpoint())
        relCache.put(path, fresh)
        fresh
      }
    }
  }

  /** Hierarchical beam-search query against the staged index — the walk
    * half of [[Ann.graphAnnHierarchical]], row-identical to it, with the
    * build half amortized into [[build]]. Returns the distinct visited
    * set (id, distance) across both layers, so callers can top-k AND
    * audit the scan fraction, exactly like the in-memory path.
    */
  def query(spark: SparkSession, path: String, queryVec: Seq[Double],
            beam: Int = 16, hops: Int = 6): DataFrame = {
    val m = readMeta(path)
    require(queryVec.length == m.dim,
      s"query dim ${queryVec.length} != index dim ${m.dim}")
    val r = queryRels(spark, path)
    val coarse = r.nodes.filter(col("id") % m.sampleMod === 0)
    // coarse entry: min id per bucket over the whole (small) coarse layer
    val seeds1 = coarse.groupBy(col("bucket")).agg(min(col("id")).as("id"))
      .select(col("id"))
    val v1 = Ann.graphAnnBeamFromPrepared(r.g1,
      coarse.select(col("id"), col("vec")), seeds1, queryVec, beam, hops)
    // base entry: best coarse hits ∪ the query's probe-bucket min-ids —
    // the probe filter hits the pinned node relation (and, cache-cold,
    // a partition-pruned scan of nodes/ — bucket is the partition key)
    val probes = Ann.probesOf(queryVec, m.numPlanes)
    val probeSeeds = r.nodes.filter(col("bucket").isin(probes: _*))
      .groupBy(col("bucket")).agg(min(col("id")).as("id"))
      .select(col("id"))
    val entry0 = v1.orderBy(col("distance").asc, col("id").asc)
      .limit(beam).select(col("id"))
      .unionAll(probeSeeds)
    val v0 = Ann.graphAnnBeamFromPrepared(r.g0,
      r.nodes.select(col("id"), col("vec")), entry0, queryVec, beam, hops)
    // both walks return LOCAL relations — driver-side dedup, no shuffle
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      (v1.collect() ++ v0.collect()).distinct.toSeq.asJava, v1.schema)
  }

  /** BATCHED multi-query serving against the staged index — ONE job set
    * walks every query in `queries` (q_id, q_vec), per-query
    * row-identical to [[query]] (AnnSpec asserts it; q_graph_ann_batch
    * replays every query's full walk in SQL). Entry mirrors the
    * single-query path per query: the coarse walk starts from the global
    * per-bucket min-ids (query-independent — crossed with the query
    * batch), the base walk from each query's best coarse hits ∪ its own
    * probe-bucket min-ids (the single-query path's own Ann.probesOf,
    * per collected query — the batch is request-sized by declaration).
    * Walking N queries costs ~1 walk's job count instead of N — the
    * serving fix for the per-query N+1.
    */
  def queryBatch(spark: SparkSession, path: String,
                 queries: DataFrame, beam: Int = 16,
                 hops: Int = 6): DataFrame = {
    import scala.jdk.CollectionConverters._
    val m = readMeta(path)
    val r = queryRels(spark, path)
    val coarse = r.nodes.filter(col("id") % m.sampleMod === 0)
    // the query batch is request-sized by declaration — collect it ONCE;
    // the dim check, the per-query probe sets (the single-query path's
    // own Ann.probesOf, so batch ≡ single by construction) and both
    // walks' query side all come from these rows with zero further jobs
    val qvSel = queries.select(col("q_id"), col("q_vec"))
    val qvSchema = qvSel.schema
    // same loud bound as Ann.graphAnnBeamBatchFromPrepared (which this
    // feeds): "request-sized" is enforced, not assumed (checked after
    // the one collect — see the walk's note on why not limit())
    val maxBatch = spark.conf.getOption("graft.ann.maxWalkBatch")
      .map(_.toInt).getOrElse(8192)
    val qvRows = qvSel.collect()
    require(qvRows.length <= maxBatch,
      s"graph-ANN query batch of ${qvRows.length} exceeds " +
        s"graft.ann.maxWalkBatch=$maxBatch; split the batch or raise " +
        "the bound")
    // the single-query path's require(queryVec.length == m.dim), batch
    // form — without it a wrong-dim vector probes wrong buckets and
    // walks to a plausible-looking but wrong visited set, no error
    // anywhere
    require(qvRows.forall(_.getSeq[Double](1).length == m.dim),
      s"query batch contains a q_vec whose dim != index dim ${m.dim}")
    val qvRel = spark.createDataFrame(qvRows.toSeq.asJava, qvSchema)
    val seeds1 = coarse.groupBy(col("bucket")).agg(min(col("id")).as("id"))
      .select(col("id"))
      .crossJoin(broadcast(qvRel.select(col("q_id"))))
    val v1 = Ann.graphAnnBeamBatchFromPrepared(r.g1,
      coarse.select(col("id"), col("vec")), seeds1, qvRel, beam, hops)
    // per-query probe seeds: own bucket + single-bit flips — driver-side
    // Ann.probesOf per query (≤ 2^numPlanes distinct buckets whatever
    // the batch size); min-id per (query, probed bucket) against the
    // pinned node relation, bucket-pruned to the probed set (and on a
    // cache-cold recompute, the same static partition prune as the
    // single-query path)
    val qprobeRows = qvRows.flatMap { qr =>
      Ann.probesOf(qr.getSeq[Double](1), m.numPlanes)
        .map(b => org.apache.spark.sql.Row(qr.get(0), b))
    }
    val qprobes = spark.createDataFrame(qprobeRows.toSeq.asJava,
      org.apache.spark.sql.types.StructType(qvSchema("q_id") ::
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType) :: Nil))
    val probedBuckets = qprobeRows.map(_.getInt(1)).distinct.toSeq
    val probeSeeds = r.nodes.filter(col("bucket").isin(probedBuckets: _*))
      .join(broadcast(qprobes), "bucket")
      .groupBy(col("q_id"), col("bucket")).agg(min(col("id")).as("id"))
      .select(col("q_id"), col("id"))
    // per-query top-beam of the coarse walk — v1 is a local relation
    // (the walk state lives on the driver), so this is a driver-side
    // sort, exactly the frontier window's (distance asc, id asc) order
    val entry0 = v1.collect().groupBy(_.get(0)).iterator.flatMap {
      case (_, rows) =>
        rows.sortBy(x => (x.getDouble(2), x.getLong(1))).take(beam)
    }.map(x => org.apache.spark.sql.Row(x.get(0), x.getLong(1))).toSeq
    val entry0Rel = spark.createDataFrame(entry0.asJava,
      org.apache.spark.sql.types.StructType(qvSchema("q_id") ::
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType) :: Nil))
    val v0 = Ann.graphAnnBeamBatchFromPrepared(r.g0,
      r.nodes.select(col("id"), col("vec")),
      entry0Rel.unionByName(probeSeeds.select(col("q_id"),
        col("id").cast("long").as("id"))), qvRel, beam, hops)
    // both walks return LOCAL relations (driver-held state) — the
    // distinct is a driver-side dedup, not a shuffle; distances for a
    // shared (q_id, id) are bit-identical (same kernel, same rows)
    spark.createDataFrame(
      (v1.collect() ++ v0.collect()).distinct.toSeq.asJava, v1.schema)
  }

  /** Incremental maintenance: admit new vectors (ids already present are
    * dropped) and update BOTH layers touching only the destination-bucket
    * partitions the batch lands in. Result is edge-for-edge identical to
    * a full [[build]] over old ∪ new:
    *
    *  - a stored (src, d_bucket) group re-ranks iff a new node entered
    *    d_bucket → those partitions (≤ |batch bucket set| ≤ 2^numPlanes)
    *    are rewritten via an INCREMENTAL MERGE of the stored top-k edges
    *    (re-scored) with only the NEW candidate pairs — identical edges
    *    to a bucket rebuild at cost ∝ the wave, see [[updateLayerOps]];
    *  - new sources' edges into untouched buckets are purely additive
    *    (nothing in those buckets moved) → plain partition append;
    *  - every other partition is never read or written;
    *  - admission ("is this id already stored?") anti-joins the batch
    *    against the node table's id column — column-pruned, so it reads
    *    ids, not vectors — and, keyed on the id alone, refuses a stored
    *    id re-arriving with a CHANGED vector (whose stored twin sits in
    *    another bucket).
    *
    * Crash safety: every relation's mutation stages whole and applies
    * under ONE [[graft.tables.Commit]] protocol round, so a crash leaves
    * the index fully pre-append (unlogged stage discarded) or fully
    * post-append (logged commit rolled forward) — [[recover]] heals
    * either way, never a rebuild; the `_APPENDING` marker brackets the
    * pass so readers never race the apply window.
    */
  def append(df: DataFrame, idCol: Column, vecCol: Column,
             path: String): Unit =
    graft.tables.WriterLock.withLock(path)(appendImpl(df, idCol, vecCol, path))

  private def appendImpl(df: DataFrame, idCol: Column, vecCol: Column,
                         path: String): Unit = {
    val m = readMeta(path)
    val spark = df.sparkSession
    val old = spark.read.parquet(s"$path/nodes")
    // one lineage cut on the admitted set: it feeds the stats collect,
    // both layers' updates and the node append — recomputing a
    // nondeterministic caller df between them could update adjacency for
    // a row the node table never gets. It runs BEFORE the intent marker:
    // evaluating the batch inside the marker window widens the span in
    // which readers are refused.
    val fresh = df.select(idCol.as("id"), vecCol.as("vec"),
        Ann.bucketOf(vecCol, m.numPlanes, m.dim).as("bucket"))
      .join(old.select(col("id")), Seq("id"), "left_anti")
      .localCheckpoint()
    // ONE metadata-sized action answers is-empty, both layers'
    // touched-bucket sets (bucket ids live in [0, 2^numPlanes)) AND the
    // wave size for the cost-model switch below — the per-layer collects
    // were 3 driver round-trips per append
    val stats = fresh.groupBy(col("bucket"))
      .agg(max(col("id") % m.sampleMod === 0).as("has_coarse"),
        count(lit(1)).as("n"))
      .collect()
    if (stats.nonEmpty) {
      val bNewBase = stats.map(_.getInt(0)).toSeq.sorted
      val bNewCoarse = stats.filter(_.getBoolean(1)).map(_.getInt(0)).toSeq.sorted
      val waveRows = stats.map(_.getLong(2)).sum
      // Cost-model switch for the `replaced` shape (both are
      // edge-identical — see updateLayerOps): the incremental merge's
      // extra joins only pay off once the buckets' accumulated
      // population dwarfs the wave (measured at sf0.1: 667-row waves on
      // a ≤1.3k-node index ran ~1 s/append SLOWER merged — stage count
      // dominates small data; at steady-state streaming scale the full
      // recompute's |srcAff pop|×|bucket pop| candidate set is the term
      // that grows with the corpus while the merge's stays ∝ wave).
      // Missing hint (legacy index) ⟹ full recompute, the safe default.
      val minRatio = spark.conf.getOption("graft.graphann.incrementalMinRatio")
        .map(_.toLong).getOrElse(8L)
      val prior = readCountHint(path)
      val incremental = prior.exists(_ >= minRatio * waveRows)
      graft.tables.Commit.beginMaintenance(path)
      // EVERY relation's mutation — both layers' replaced/added edge
      // partitions and the node rows — stages whole and applies under ONE
      // crash-safe commit: a crash leaves the index either fully
      // pre-append or fully post-append (recover() rolls a logged commit
      // forward), never torn between relations
      val ops =
        updateLayerOps(spark, path, old, fresh, bNewBase, "base_adj", m,
          incremental) ++
        updateLayerOps(spark, path,
          old.filter(col("id") % m.sampleMod === 0),
          fresh.filter(col("id") % m.sampleMod === 0), bNewCoarse,
          "coarse_adj", m, incremental) ++
        Seq(graft.tables.Commit.Add("nodes", "bucket", fresh))
      graft.tables.Commit.commit(path, ops)
      graft.tables.Commit.endMaintenance(path)
      prior.foreach(p => writeCountHint(path, p + waveRows))
      bumpGen(path)
    }
  }

  /** Heal the index after a crashed writer: a stale lock clears
    * (pid-checked), a logged maintenance commit rolls forward, an
    * unlogged one discards — see [[graft.tables.Commit.recover]].
    * Idempotent; a no-op on a healthy index.
    */
  def recover(path: String): Unit = {
    graft.tables.WriterLock.clearStale(path)
    graft.tables.Commit.recover(path)
    graft.tables.Commit.endMaintenance(path)
    // recovery may have rolled a logged commit forward — the committed
    // relations changed without the crashed writer's own gen bump
    if (exists(path)) bumpGen(path)
  }

  /** The bucket set a batch landing in `bNew` can TOUCH as edge sources:
    * a source can probe into bNew iff its own bucket is within probeBits
    * of some member — exactly bNew ⊕ every probe mask.
    */
  private def affectedBuckets(bNew: Seq[Int], m: Meta): Seq[Int] = {
    val masks = Ann.probeMasks(m.numPlanes, m.probeBits)
    bNew.flatMap(b => masks.map(b ^ _)).distinct.sorted
  }

  /** Bucket-partition-pruned node scan: the filter is on the PARTITION
    * key, so only the listed buckets' directories are read (AnnSpec
    * asserts the scanned file set) — the difference between append cost
    * ∝ the batch's neighbourhood and append cost ∝ the corpus.
    */
  private[graft] def prunedNodes(nodes: DataFrame,
                                 buckets: Seq[Int]): DataFrame =
    nodes.filter(col("bucket").isin(buckets: _*))

  /** One layer's incremental adjacency update. `all` = the layer's node
    * set INCLUDING the fresh rows; `freshL` = the fresh rows in this
    * layer. See [[append]] for the replace/add split proof sketch.
    *
    * Every node scan below is bucket-partition-pruned BEFORE probing:
    * the probe filter alone sits on the DERIVED probe column (bucket ⊕
    * mask), which cannot push through to the `bucket` partition key, so
    * without the pre-filter each append read the whole node table. The
    * pre-filters keep exactly the rows the probe/destination filters
    * keep (src.bucket ∈ bNew ⊕ masks ⟺ some probe lands in bNew;
    * d_bucket = probe ∈ the kept probe set), so the computed edges are
    * identical — AnnSpec asserts both the equivalence and the pruned
    * scan.
    */
  private def updateLayerOps(spark: SparkSession, path: String,
                             oldL: DataFrame, freshL: DataFrame,
                             bNew: Seq[Int], adjRel: String, m: Meta,
                             incremental: Boolean)
      : Seq[graft.tables.Commit.Op] = {
    if (bNew.isEmpty) return Nil
    val all = oldL.unionByName(freshL)
    val srcAff = affectedBuckets(bNew, m)
    // Groups whose ranking may have moved: destination bucket ∈ bNew.
    // TWO edge-identical shapes, picked by appendImpl's cost model:
    //
    // FULL RECOMPUTE — every adjacent source (old and new) vs the
    // bucket's full population, exactly what a rebuild ranks. Fewest
    // stages; candidate volume |srcAff pop| × |bucket pop| grows with
    // the corpus. Right below the switch ratio (small index / big wave).
    //
    // INCREMENTAL MERGE — the stored partition b is (invariant) exactly
    // the per-src top-k over b's pre-append population, and appends only
    // ADD candidates — so for an existing (src, b) group,
    // top-k(stored-k ∪ src×fresh_b) = top-k(old ∪ fresh): any old
    // candidate outside the stored k is dominated by k stored rows that
    // are still present. The merge ranks the stored edges (× k,
    // re-scored from the node vecs — edges don't store distances) plus
    // only the NEW pairs, so the per-batch job is ∝ the wave, not the
    // buckets' accumulated population — the difference between
    // steady-state append cost growing with the corpus and staying
    // flat. Its three candidate sources are disjoint (old ∩ fresh = ∅
    // by admission), so the union never double-counts a pair:
    //   (a) old→old: the stored groups, distances recomputed (same
    //       kernel, same vecs ⟹ same ranking a rebuild computes);
    //   (b) old→fresh: every affected old source vs the batch's rows
    //       in bNew (also creates groups for buckets fresh just
    //       populated — an unstored group has no old candidates);
    //   (c) fresh→anything: new sources vs the buckets' full population.
    val replaced =
      if (!incremental)
        topEdges(m,
          probed(m, prunedNodes(all, srcAff))
            .filter(col("probe").isin(bNew: _*))
            .join(dstSide(prunedNodes(all, bNew)),
              col("probe") === col("d_bucket") && col("src") =!= col("dst")))
      else {
        val cols = Seq(col("src"), col("s_vec"), col("dst"), col("d_vec"),
          col("d_bucket"))
        val stored = spark.read.parquet(s"$path/$adjRel")
          .filter(col("d_bucket").isin(bNew: _*)) // partition-pruned read
          .select(col("src"), col("dst"), col("d_bucket"))
        val rescored = stored
          .join(prunedNodes(all, srcAff) // src bucket ∈ bNew⊕masks (symmetry)
            .select(col("id").as("src"), col("vec").as("s_vec")), "src")
          .join(prunedNodes(all, bNew)
            .select(col("id").as("dst"), col("vec").as("d_vec")), "dst")
          .select(cols: _*)
        val oldIntoFresh = probed(m, prunedNodes(oldL, srcAff))
          .filter(col("probe").isin(bNew: _*))
          .join(dstSide(freshL),
            col("probe") === col("d_bucket") && col("src") =!= col("dst"))
          .select(cols: _*)
        val freshInto = probed(m, freshL).filter(col("probe").isin(bNew: _*))
          .join(dstSide(prunedNodes(all, bNew)),
            col("probe") === col("d_bucket") && col("src") =!= col("dst"))
          .select(cols: _*)
        topEdges(m, rescored.unionByName(oldIntoFresh).unionByName(freshInto))
      }
    // purely additive: new sources into untouched buckets (their stored
    // rankings contain no new node, so old rows there are final); the
    // reachable destination buckets are bNew ⊕ masks MINUS bNew
    val dstReach = srcAff.filterNot(bNew.toSet)
    val added = topEdges(m,
      probed(m, freshL).filter(!col("probe").isin(bNew: _*))
        .join(dstSide(prunedNodes(all, dstReach)),
          col("probe") === col("d_bucket") && col("src") =!= col("dst")))
    Seq(graft.tables.Commit.Replace(adjRel, "d_bucket", bNew, replaced),
      graft.tables.Commit.Add(adjRel, "d_bucket", added))
  }

  private def probed(m: Meta, src: DataFrame): DataFrame =
    src.withColumn("probe",
        explode(array(Ann.probeMasks(m.numPlanes, m.probeBits).map(mk =>
          col("bucket").bitwiseXOR(lit(mk))): _*)))
      .select(col("id").as("src"), col("vec").as("s_vec"), col("probe"))

  private def dstSide(all: DataFrame): DataFrame =
    all.select(col("id").as("dst"), col("vec").as("d_vec"),
      col("bucket").as("d_bucket"))

  private def topEdges(m: Meta, cand: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src"), col("d_bucket"))
      .orderBy(col("edge_dist").asc, col("dst").asc)
    cand.select(col("src"), col("dst"), col("d_bucket"),
        graft.functions.VectorFunctions.l2(col("s_vec"), col("d_vec"))
          .as("edge_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m.edgesPerBucket)
      .select(col("src"), col("dst"), col("d_bucket"))
  }

  /** Incremental DELETION — the tombstone path a corpus refresh needs
    * (cf. VectorStore.delete): drop the given ids from the node table
    * and repair the adjacency touching only the partitions a victim can
    * appear in. A victim occurs in partition d_bucket either as a
    * DESTINATION (d_bucket = its own bucket — that bucket's rankings
    * must re-rank without it, possibly pulling in new members) or as a
    * SOURCE (d_bucket within probeBits of its bucket — its out-edge rows
    * must go). So the affected set is exactly the buckets within
    * probeBits of any victim's bucket; every one is recomputed whole
    * over the REMAINING nodes (what a rebuild would rank), every other
    * partition is never read or written — cost bounded by the victims'
    * neighbourhood, not the index. A recomputed partition left with no
    * rows (its bucket emptied) gets its directory deleted explicitly —
    * dynamic overwrite cannot erase a partition it writes nothing into.
    * AnnSpec proves delete-then-query ≡ rebuild-on-remaining. Same
    * single-commit crash safety as [[append]]: a torn delete either
    * discards or rolls forward whole in [[recover]].
    */
  def delete(ids: DataFrame, path: String, idName: String = "id"): Unit =
    graft.tables.WriterLock.withLock(path)(deleteImpl(ids, path, idName))

  private def deleteImpl(ids: DataFrame, path: String,
                         idName: String): Unit = {
    val m = readMeta(path)
    val spark = ids.sparkSession
    val nodes = spark.read.parquet(s"$path/nodes")
    // victims (id, bucket): a semi-join on the node table's column-pruned
    // id and bucket columns — ids and buckets are read, vectors are not
    val victims = nodes.select(col("id"), col("bucket"))
      .join(ids.select(col(idName).cast("long").as("id")), Seq("id"),
        "left_semi")
      .localCheckpoint() // feeds the bucket collects AND both rewrites
    // metadata-sized: bucket lives in [0, 2^numPlanes)
    val vb = victims.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (vb.nonEmpty) {
      graft.tables.Commit.beginMaintenance(path)
      // LAZY remaining: each consumer prunes the node scan to its own
      // affected buckets BEFORE the anti-join applies (a checkpoint
      // here materialized the whole table per delete)
      val remaining = nodes.join(victims.select(col("id")), Seq("id"),
        "left_anti")
      val masks = Ann.probeMasks(m.numPlanes, m.probeBits)
      def affectedOf(vs: DataFrame): Seq[Int] =
        vs.select(col("bucket")).distinct().collect().map(_.getInt(0))
          .flatMap(b => masks.map(b ^ _)).distinct.sorted.toSeq
      val victimsC = victims.filter(col("id") % m.sampleMod === 0)
      // node table: rewrite the victim buckets only (the other buckets'
      // rows are untouched, emptied bucket dirs drop). All relations
      // stage whole and swap under ONE crash-safe commit, cf. appendImpl.
      val keptRows = remaining.filter(col("bucket").isin(vb: _*))
      val ops =
        rewriteLayerOps(remaining, affectedOf(victims), "base_adj", m) ++
        rewriteLayerOps(remaining.filter(col("id") % m.sampleMod === 0),
          affectedOf(victimsC), "coarse_adj", m) ++
        Seq(graft.tables.Commit.Replace("nodes", "bucket", vb, keptRows))
      graft.tables.Commit.commit(path, ops)
      graft.tables.Commit.endMaintenance(path)
      // count-hint decrement (victims is checkpointed — a cheap local
      // count); see readCountHint for why staleness is harmless
      readCountHint(path).foreach(p =>
        writeCountHint(path, math.max(0L, p - victims.count())))
      bumpGen(path)
    }
  }

  /** Re-embedding UPSERT — replace stored vectors (and insert unseen
    * ids): delete-then-append composition, each half touching only its
    * victim/batch neighbourhood, so an update wave costs its locality,
    * never a rebuild. Both halves are individually proven ≡ rebuild
    * (AnnSpec), so their composition is too; the intent markers make a
    * crash between the halves detectable like any torn maintenance.
    */
  def upsert(df: DataFrame, idCol: Column, vecCol: Column,
             path: String, idName: String = "id"): Unit =
    graft.tables.WriterLock.withLock(path) {
      deleteImpl(df.select(idCol.as(idName)), path, idName)
      appendImpl(df, idCol, vecCol, path)
    }

  /** Compact the index in place: rewrite each FRAGMENTED partition (>1
    * parquet file — the driver-side readdir names them) into one file;
    * a 1-file partition is already in compacted form, so rewriting it
    * would burn a scan + write for zero read-amplification gain — the
    * r19 full-rewrite compact spent most of its time re-writing the
    * adjacency partitions the append Replaces had ALREADY left at one
    * file. Each Replace's rows are the partition-pruned live read, so
    * the pass's cost is ∝ the fragmentation debt, not the index.
    * Results are invariant (AnnSpec asserts identical edges/nodes and
    * query output); cost is one pruned rewrite, no re-ranking. An `ids/`
    * sidecar left by an older build is removed here.
    */
  def compact(spark: SparkSession, path: String): Unit =
    graft.tables.WriterLock.withLock(path) {
      readMeta(path) // validates done marker + no torn maintenance
      import graft.tables.Staging.fragmentedPartitions
      val rels = Seq(("nodes", "bucket"), ("coarse_adj", "d_bucket"),
        ("base_adj", "d_bucket"))
      val ops = rels.flatMap { case (rel, pc) =>
        val frag = fragmentedPartitions(s"$path/$rel", pc)
        if (frag.isEmpty) Nil
        else Seq(graft.tables.Commit.Replace(rel, pc, frag,
          spark.read.parquet(s"$path/$rel").filter(col(pc).isin(frag: _*))))
      }
      if (ops.nonEmpty) {
        graft.tables.Commit.beginMaintenance(path)
        graft.tables.Commit.commit(path, ops)
        graft.tables.Commit.endMaintenance(path)
        bumpGen(path)
      }
      graft.tables.Staging.deleteRec(s"$path/ids")
    }

  /** The WORST relation's mean parquet files per live partition across
    * the three relations — the fragmentation streaming appends accrue
    * (each append lands one new file per touched nodes/ partition and
    * rewrites its affected adjacency partitions to one; builds and
    * compacts leave exactly one everywhere): the graph twin of
    * IvfIndex.fragmentation, measuring walk-side read amplification.
    * Max, not a blended mean — each walk stage reads ONE relation, and
    * the adjacency relations' rewrite-to-one would otherwise dilute the
    * nodes/ debt below any threshold. Driver-side readdir only; refuses
    * a torn stage via readMeta.
    */
  def fragmentation(path: String): Double = {
    readMeta(path)
    Seq("nodes", "base_adj", "coarse_adj").map(r =>
      graft.tables.Staging.filesPerPartition(Seq(s"$path/$r"))).max
  }

  /** The auto-compaction policy (cf. Retrieval.compactIfStale /
    * IvfIndex.compactIfFragmented): compact when mean files-per-partition
    * exceeds `maxFilesPerPartition`, so beam-walk read amplification
    * between maintenance passes is bounded by policy rather than operator
    * memory. Returns whether it fired; q_graph_ann_autocompact proves
    * fire/no-fire and that walk results are compaction-invariant.
    */
  def compactIfFragmented(spark: SparkSession, path: String,
                          maxFilesPerPartition: Double = 2.0): Boolean = {
    val f = fragmentation(path)
    if (f > maxFilesPerPartition) { compact(spark, path); true } else false
  }

  /** Recompute the given adjacency partitions whole over the remaining
    * node set as a staged Replace (any affected partition the
    * recomputation left empty is erased at apply time — see [[delete]]).
    */
  private def rewriteLayerOps(all: DataFrame, affected: Seq[Int],
                              adjRel: String,
                              m: Meta): Seq[graft.tables.Commit.Op] = {
    if (affected.isEmpty) return Nil
    val replaced = topEdges(m,
      probed(m, prunedNodes(all, affectedBuckets(affected, m)))
        .filter(col("probe").isin(affected: _*))
        .join(dstSide(prunedNodes(all, affected)),
          col("probe") === col("d_bucket") && col("src") =!= col("dst")))
    Seq(graft.tables.Commit.Replace(adjRel, "d_bucket", affected, replaced))
  }
}
