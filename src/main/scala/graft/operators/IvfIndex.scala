package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF layout with a full maintenance lifecycle — the
  * inverted-file counterpart of [[GraphAnnIndex]] (the reference's
  * one-shot `create_collection`, `email_fetching.py:27`, crashes on
  * re-run and forces a rebuild on any corpus refresh; this is the
  * incremental alternative at the IVF layout level, closing the same
  * gap q_ivf_layout's one-shot `partitionBy("cell")` write had).
  *
  * Layout under `path` (the directory IS the index):
  *
  *   cells/  cell=N/ (caller's columns)  partitioned by IVF cell —
  *           nearest static centroid of the vector ([[Ann.cellOf]]),
  *           deterministic per vector, so probes partition-prune to
  *           nprobe/nlist of the store and APPENDS land each batch row
  *           in exactly its own cell (purely additive: no ranks, no
  *           derived relations — append ≡ rebuild by construction)
  *   ids/    ib=N/ (id, cell)            admission sidecar partitioned
  *           by id hash: cells/ is partitioned by the VECTOR's cell, so
  *           an "is this id stored?" lookup cannot prune it; this
  *           relation can — admission anti-joins ∝ the batch's id
  *           buckets, and because it also records each id's CELL,
  *           [[delete]] learns the victims' cells without any corpus
  *           scan (unlike the postings stage, which has no forward
  *           index) and rewrites only those partitions
  *   _IVF_META   `nlist dim idName vecName`; written LAST via atomic
  *               rename — the done marker certifying the layout landed
  *   _APPENDING  maintenance-intent marker (crash ⇒ detected + refused)
  */
object IvfIndex {

  final case class Meta(nlist: Int, dim: Int, idName: String,
                        vecName: String)

  private def metaFile(path: String) =
    java.nio.file.Paths.get(path, "_IVF_META")
  private def intentFile(path: String) =
    java.nio.file.Paths.get(path, "_APPENDING")

  def exists(path: String): Boolean =
    java.nio.file.Files.exists(metaFile(path))

  private def writeMeta(path: String, m: Meta): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(path, "_IVF_META_TMP")
    Files.writeString(tmp, s"${m.nlist} ${m.dim} ${m.idName} ${m.vecName}")
    graft.tables.Staging.atomicPublish(tmp, metaFile(path))
  }

  def readMeta(path: String): Meta = {
    require(exists(path), s"$path is not an IVF index (no _IVF_META)")
    if (java.nio.file.Files.exists(intentFile(path)) ||
        graft.tables.Commit.pending(path))
      throw new IllegalStateException(
        s"$path has unfinished maintenance (intent marker present) — a " +
          "writer crashed or is still running; heal with recover()")
    val p = java.nio.file.Files.readString(metaFile(path)).trim.split(" ")
    Meta(p(0).toInt, p(1).toInt, p(2), p(3))
  }

  /** Heal the index after a crashed writer: stale lock cleared
    * (pid-checked), a logged maintenance commit rolled forward, an
    * unlogged one discarded — see [[graft.tables.Commit.recover]].
    */
  def recover(path: String): Unit = {
    graft.tables.WriterLock.clearStale(path)
    graft.tables.Commit.recover(path)
    java.nio.file.Files.deleteIfExists(intentFile(path))
  }

  /** Id-hash bucket of the admission sidecar (crc32, cf. the Retrieval
    * stages' db key and GraphAnnIndex's ib key).
    */
  private val NumIdBuckets = 64
  private def ibCol(id: org.apache.spark.sql.Column) =
    pmod(crc32(id.cast("string")), lit(NumIdBuckets.toLong)).cast("int")

  /** Sidecar read with the DECLARED schema (ids stored as LONG —
    * schema inference would open an arbitrary file's footer, defeating
    * the pruning this relation exists for; cf. GraphAnnIndex.IdsSchema).
    */
  private val IdsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("ib",
      org.apache.spark.sql.types.IntegerType)))
  /** Sidecar format marker: v2 = (id, cell, ib). A sidecar written
    * before the ib bucket column existed would read as all-null ib
    * under the declared schema — every stored id then INVISIBLE to the
    * bucket-pruned admission anti-join, i.e. silent re-admission
    * duplicates. Backward compat is a one-time MIGRATION, not a
    * refusal: the sidecar is derivable whole from the cells relation
    * (cf. GraphAnnIndex's `_IDS_V2` rebuild-from-nodes), so an old
    * index upgrades on first maintenance touch and serves identically.
    */
  private def idsMarker(path: String) =
    java.nio.file.Paths.get(path, "ids", "_IDS_V2")

  private def idsRel(spark: SparkSession, path: String): DataFrame = {
    if (!java.nio.file.Files.exists(idsMarker(path))) {
      val m = readMeta(path)
      val rebuilt = cellsRel(spark, path)
        .select(col(m.idName).cast("long").as("id"), col("cell"))
        .withColumn("ib", ibCol(col("id")))
      graft.tables.Staging.deleteRec(s"$path/ids")
      graft.tables.Staging.writePartitioned(rebuilt, "ib", s"$path/ids")
      java.nio.file.Files.createFile(idsMarker(path))
    }
    spark.read.schema(IdsSchema).parquet(s"$path/ids")
  }

  /** The cells relation read with the schema RECORDED AT BUILD TIME
    * (`_IVF_SCHEMA`, caller columns + cell): schema inference opens an
    * arbitrary file's footer at PLANNING time — before any partition
    * filter exists — defeating the pruning this layout exists for.
    * Pre-schema indexes fall back to inference.
    */
  private def cellsRel(spark: SparkSession, path: String): DataFrame =
    graft.tables.Staging.readLayout(spark, s"$path/cells",
      graft.tables.Staging.recordedSchema(
        java.nio.file.Paths.get(path, "_IVF_SCHEMA")))

  /** `cell` and `ib` are the index's own partition/sidecar keys: an input
    * that already carries either would be silently overwritten (and `ib`
    * dropped from the stored rows — schema drift between built and
    * appended partitions), so both are refused up front.
    */
  private def requireNoReservedCols(df: DataFrame): Unit =
    Seq("cell", "ib").foreach(c => require(!df.columns.contains(c),
      s"input already carries a '$c' column — rename it, the IVF index owns that name"))

  /** Build the index at `path` (wholesale overwrite): every caller
    * column rides into the cell partitions, the sidecar derives from
    * the STAGED rows (no second corpus pass).
    */
  def build(df: DataFrame, idName: String, vecName: String, path: String,
            nlist: Int = 8, dim: Int = 64): Unit = {
    val spark = df.sparkSession
    // validation BEFORE the destructive deleteRec: a rejected input must
    // leave a pre-existing index at `path` intact
    requireNoReservedCols(df)
    graft.tables.Staging.deleteRec(path)
    val withCell = df.withColumn("cell", Ann.cellOf(col(vecName), nlist, dim))
    graft.tables.Staging.writePartitioned(withCell, "cell", s"$path/cells")
    // record the cells schema so every reader declares it instead of
    // inferring (inference opens arbitrary footers pre-pruning — cellsRel)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_IVF_SCHEMA"), withCell.schema.json)
    graft.tables.Staging.writePartitioned(cellsRel(spark, path)
        .select(col(idName).cast("long").as("id"), col("cell"))
        .withColumn("ib", ibCol(col("id"))),
      "ib", s"$path/ids")
    java.nio.file.Files.createFile(idsMarker(path))
    writeMeta(path, Meta(nlist, dim, idName, vecName))
  }

  /** Incremental append: ids already stored are dropped (idempotent;
    * the anti-join runs against the sidecar PRUNED to the batch's id
    * buckets — a stored twin of an id always shares its bucket — so
    * admission is ∝ the batch, never the corpus, and correct even for
    * an id re-arriving with a CHANGED vector, which a cell-prune of the
    * data relation would miss). Admitted rows land purely additively in
    * their own cells; nothing that exists is read or rewritten —
    * append ≡ rebuild by construction, q_ivf_append hash-checks it.
    */
  def append(df: DataFrame, path: String): Unit =
    graft.tables.WriterLock.withLock(path)(appendImpl(df, path))

  private def appendImpl(df: DataFrame, path: String): Unit = {
    val m = readMeta(path)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val batch = df
      .withColumn("cell", Ann.cellOf(col(m.vecName), m.nlist, m.dim))
      .withColumn("ib", ibCol(col(m.idName)))
      .localCheckpoint() // feeds the bucket collect AND the admission join
    // metadata-sized collect: ib lives in [0, NumIdBuckets)
    val batchIbs = batch.select(col("ib")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val fresh = batch
      .join(idsRel(spark, path)
          .filter(col("ib").isin(batchIbs: _*))
          .select(col("id").as(m.idName)),
        Seq(m.idName), "left_anti")
      .localCheckpoint() // feeds both writes under one lineage cut
    if (fresh.isEmpty) return
    java.nio.file.Files.createFile(intentFile(path))
    // both relations' rows stage whole and move in under ONE crash-safe
    // commit — a crash leaves the index fully pre- or fully post-append
    graft.tables.Commit.commit(path, Seq(
      graft.tables.Commit.Add("cells", "cell", fresh.drop("ib")),
      graft.tables.Commit.Add("ids", "ib",
        fresh.select(col(m.idName).cast("long").as("id"), col("cell"),
          col("ib")))))
    java.nio.file.Files.delete(intentFile(path))
  }

  /** Incremental delete: the sidecar's recorded (id → cell) mapping
    * finds the victims' cells with an id-bucket-pruned lookup (NO
    * corpus scan), then only those cell partitions and the victims' id
    * partitions rewrite. Delete-then-probe ≡ rebuild-on-remaining —
    * q_ivf_delete hash-checks it.
    */
  def delete(ids: DataFrame, path: String, idName: String = "id"): Unit =
    graft.tables.WriterLock.withLock(path)(deleteImpl(ids, path, idName))

  private def deleteImpl(ids: DataFrame, path: String,
                         idName: String): Unit = {
    val m = readMeta(path)
    val spark = ids.sparkSession
    val idsB = ids.select(col(idName).as("id"))
      .withColumn("ib", ibCol(col("id")))
      .localCheckpoint()
    val vib = idsB.select(col("ib")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (vib.isEmpty) return
    val sidecar = idsRel(spark, path)
    val victims = sidecar.filter(col("ib").isin(vib: _*))
      .join(idsB.select(col("id")), Seq("id"), "left_semi")
      .localCheckpoint() // (id, cell, ib) — feeds both rewrites
    if (victims.isEmpty) return
    java.nio.file.Files.createFile(intentFile(path))
    // metadata-sized: cell lives in [0, nlist)
    val vcells = victims.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val keptRows = cellsRel(spark, path)
      .filter(col("cell").isin(vcells: _*))
      .join(victims.select(col("id").as(m.idName)), Seq(m.idName),
        "left_anti")
    val keptIds = sidecar.filter(col("ib").isin(vib: _*))
      .join(victims.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cell"), col("ib"))
    // staged whole, swapped under ONE crash-safe commit (the staging
    // write happens before any live dir is touched — no checkpoint
    // needed for the read-from-overwritten-dir hazard)
    graft.tables.Commit.commit(path, Seq(
      graft.tables.Commit.Replace("cells", "cell", vcells, keptRows),
      graft.tables.Commit.Replace("ids", "ib", vib, keptIds)))
    java.nio.file.Files.delete(intentFile(path))
  }

  /** Replace changed rows (and insert unseen ids): delete-then-append,
    * cf. [[GraphAnnIndex.upsert]]. A crash between the halves leaves
    * the consistent deleted state; re-running heals.
    */
  def upsert(df: DataFrame, path: String): Unit =
    graft.tables.WriterLock.withLock(path) {
      val m = readMeta(path)
      deleteImpl(df.select(col(m.idName)), path, m.idName)
      appendImpl(df, path)
    }

  /** Rewrite every partition into one file — the maintenance pass that
    * keeps file counts flat as streaming appends accumulate. Rows and
    * probe results are invariant (QuantizeIvfSpec asserts it).
    */
  def compact(spark: SparkSession, path: String): Unit =
    graft.tables.WriterLock.withLock(path) {
      val m = readMeta(path)
      // idsRel FIRST: on a pre-_IDS_V2 index it runs the one-time
      // sidecar migration, which re-reads meta — creating the intent
      // marker before that call would make readMeta refuse the index
      // mid-compact (and strand the marker on the throw), exactly on
      // the legacy layouts a maintenance pass is meant to upgrade.
      val ids = idsRel(spark, path)
      java.nio.file.Files.createFile(intentFile(path))
      graft.tables.Commit.commit(path, Seq(
        graft.tables.Commit.Replace("cells", "cell",
          (0 until m.nlist).toSeq, cellsRel(spark, path)),
        graft.tables.Commit.Replace("ids", "ib",
          (0 until NumIdBuckets).toSeq, ids)))
      java.nio.file.Files.delete(intentFile(path))
    }

  /** The WORST relation's mean parquet files per live partition (cells/
    * and ids/) — the fragmentation this layout accrues as appends
    * accumulate (every append lands exactly one new file per touched
    * partition, builds and compacts leave exactly one): the IVF twin of
    * the postings stage's staleFraction, measuring probe-side read
    * amplification instead of superseded rows. Max, not a blended mean:
    * a scan reads ONE relation's partitions, so the worst relation
    * bounds the amplification and averaging would let a clean sibling
    * hide another's debt. Driver-side readdir only; refuses a torn
    * stage.
    */
  def fragmentation(path: String): Double = {
    readMeta(path) // validates done marker + no torn maintenance
    Seq("cells", "ids").map(r =>
      graft.tables.Staging.filesPerPartition(Seq(s"$path/$r"))).max
  }

  /** The auto-compaction policy (cf. Retrieval.compactIfStale): compact
    * when the mean files-per-partition exceeds `maxFilesPerPartition`,
    * bounding probe read amplification between maintenance passes by
    * policy rather than operator memory. Returns whether it fired; a
    * freshly built or just-compacted index sits at 1.0 and never
    * re-triggers. q_ivf_autocompact proves fire/no-fire and that probe
    * results are compaction-invariant.
    */
  def compactIfFragmented(spark: SparkSession, path: String,
                          maxFilesPerPartition: Double = 2.0): Boolean = {
    val f = fragmentation(path)
    if (f > maxFilesPerPartition) { compact(spark, path); true } else false
  }

  /** Partition-pruned probe scan: the query's nprobe nearest cells
    * ([[Ann.ivfProbes]], driver-side — static centroids), read as a
    * PartitionFilters-pruned scan of nprobe/nlist of the store. The
    * exact re-rank is the caller's (same contract as q_ivf_layout).
    */
  def probe(spark: SparkSession, path: String, query: Seq[Double],
            nprobe: Int): DataFrame = {
    val m = readMeta(path)
    require(query.length == m.dim,
      s"query dim ${query.length} != index dim ${m.dim}")
    val cells = Ann.ivfProbes(query, m.nlist, nprobe)
    cellsRel(spark, path)
      .filter(col("cell").isin(cells: _*))
  }

  /** BATCHED multi-query probe + exact top-k — the IVF member of the
    * batched-serving family (VectorStore.queryL2Batch /
    * GraphAnnIndex.queryBatch / Retrieval.bm25BatchFromStage), closing
    * the last per-query-only serving path: ONE plan serves every query
    * in `queries` (q_id, q_vec) instead of N per-query [[probe]] scans
    * (the N+1 serving shape — the reference's per-item fetch loop,
    * email_fetching.py:38-40). The batch is collected driver-side
    * (broadcast-sized by declaration — it is broadcast into the cells
    * join either way) and each query's nprobe nearest cells come from
    * the SAME driver-side arithmetic the single-query probe uses
    * ([[Ann.ivfProbes]]) — batch ≡ N probes by construction; the cells
    * scan statically prunes to the UNION of the batch's probed cells
    * (≤ nlist partitions whatever the batch size) and the broadcast
    * (q_id, cell) routing joins each stored row to exactly the queries
    * probing its cell; the per-query exact top-k is one window.
    * Output: (q_id, rn, <id>, cell, distance) — per-query identical to
    * N single probes + re-ranks (QuantizeIvfSpec asserts it;
    * q_ivf_probe_batch hash-checks the per-query replay).
    *
    * BOUNDED-PLAN GUARD (cf. Retrieval.bm25BatchFromStage): the probed
    * cell union is ≤ nlist whatever the batch size, but a production
    * nlist is tens of thousands — past `pruneLiteralLimit` probed cells
    * the isin literal list is dropped and pruning rides the broadcast
    * cell equi-join itself (dynamic partition pruning on the `cell`
    * partition key; the join was always the routing semantics), keeping
    * the plan constant-size at any batch size, identical rows.
    *
    * WHY THE GUARD IS A MEASURED NO-OP AT MODEST NLIST (BENCH_SCALE
    * serving_ivf, literal_vs_guarded_at_10000 = 0.97): unlike BM25's
    * literal term list — an OPEN set that grows with the batch's
    * vocabulary, compounding planning cost (1.54x at 10k queries) —
    * the probed-cell union is a CLOSED set capped at nlist, so at
    * nlist ≤ pruneLiteralLimit the literal list saturates (every cell
    * listed) and its plan is constant-size at ANY batch size: there is
    * no hazard for the guard to prevent. The default 1024 is therefore
    * the per-surface threshold that keeps the (marginally faster)
    * static literal prune on every realistic probe union and engages
    * the join-pruned path exactly where literal planning would start
    * to compound — production nlist in the tens of thousands.
    */
  def probeBatch(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, nprobe: Int,
                 pruneLiteralLimit: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val m = readMeta(path)
    val qrows = queries.select(col("q_id"), col("q_vec")).collect()
      .map(r => (r.getAs[Number](0).longValue,
        r.getSeq[Double](1).toIndexedSeq))
    qrows.foreach { case (_, v) => require(v.length == m.dim,
      s"query dim ${v.length} != index dim ${m.dim}") }
    val routing = qrows.toSeq.flatMap { case (qid, v) =>
      Ann.ivfProbes(v, m.nlist, nprobe).map(c => (qid, c, v.toSeq))
    }
    val cells = routing.map(_._2).distinct.sorted
    val route = routing.toDF("q_id", "cell", "q_vec")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("distance").asc, col(m.idName).asc)
    val base = cellsRel(spark, path)
      .filter(if (cells.size <= pruneLiteralLimit)
        col("cell").isin(cells: _*) else lit(true))
      .join(broadcast(route), Seq("cell"))
      .withColumn("distance",
        graft.functions.VectorFunctions.l2(col(m.vecName), col("q_vec")))
    base.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col(m.idName), col("cell"),
        col("distance"))
  }
}
