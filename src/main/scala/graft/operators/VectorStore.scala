package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Persisted vector store with an LSH-partitioned layout — the engine's
  * answer to the reference's vector stores (pgvector table `rag.py:30-37`,
  * Chroma collection `email_fetching.py:21-27`), shaped for 100 TB:
  *
  *  - `write` lands vectors partitioned by their sign-bit LSH bucket
  *    (Ann.bucketOf), so the store directory layout IS the index — no
  *    server process, no in-memory graph, nothing to rebuild on restart.
  *  - `query` reads only the probed buckets: Spark's partition pruning
  *    turns the probe into a scan of (probes/2^H) of the data, then an
  *    exact re-rank inside (TakeOrderedAndProject — per-partition heaps).
  *  - multi-probe (query bucket + single-bit flips) is the recall lever,
  *    same tradeoff as Ann.annLshMulti but against the persisted layout.
  *
  * The bucket column rides along in the data, so exact brute-force over
  * the whole store (scan all partitions) remains available for recall
  * audits — the same store serves both paths.
  */
object VectorStore {

  /** Write (idCol, vecCol, carry...) partitioned by LSH bucket. Keeps all
    * input columns plus `bucket`.
    *
    * `retainHistory = true` turns on TIME TRAVEL for the store: every
    * subsequent committed rewrite (upsert/delete/compact) advances a
    * version counter and parks the replaced bucket directories under
    * `_history/<version>/` instead of deleting them, so [[readAsOf]] /
    * [[queryL2AsOf]] can reconstruct any committed version exactly. The
    * initial write is version 0. History cost is proportional to the
    * buckets each commit actually rewrites (untouched buckets are never
    * copied — the live dir simply remains the state for every version),
    * the same per-bucket granularity the commit protocol already has.
    */
  def write(df: DataFrame, vecCol: Column, path: String,
            numPlanes: Int = 4, dim: Int = 64,
            retainHistory: Boolean = false): Unit = {
    val rows = df.withColumn("bucket", Ann.bucketOf(vecCol, numPlanes, dim))
    graft.tables.Staging.writePartitioned(rows, "bucket", path)
    graft.tables.Staging.recordSchema(schemaFile(path), rows.schema, "bucket")
    if (retainHistory) {
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(path, "_RETAIN"))
      writeVersionFile(path, 0L)
    }
  }

  private def schemaFile(path: String) =
    java.nio.file.Paths.get(path, "_STORE_SCHEMA")

  /** The live-store read every path goes through, with the schema
    * recorded at write time (`_STORE_SCHEMA`): a request plans without a
    * schema-inference job, and a store whose every row was deleted reads
    * as empty. Stores written before the file existed fall back to
    * inference.
    */
  private def readStore(spark: SparkSession, path: String): DataFrame =
    graft.tables.Staging.readLayout(spark, path,
      graft.tables.Staging.recordedSchema(schemaFile(path)))

  // ---- time travel (versioned stores) ----

  private def isVersioned(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_RETAIN"))

  /** A marker file's number, 0 when the file is absent. */
  private def readLong(path: String, name: String): Long = {
    val f = java.nio.file.Paths.get(path, name)
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toLong
    else 0L
  }

  /** The `_history/<n>` commit numbers present on disk. */
  private def historyVersions(path: String): Seq[Long] =
    Option(new java.io.File(path, "_history").listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(d => d.isDirectory && d.getName.nonEmpty &&
        d.getName.forall(_.isDigit))
      .map(_.getName.toLong)

  /** Latest committed version of a versioned store, worked out from
    * durable state: commit n's parked buckets land in `_history/<n>`
    * before its `_VERSION` publish, and [[retain]] only reclaims
    * `_history/<n>` below its durable `_RETAIN_FLOOR`, so the newest of
    * the three is the version even when a writer died between its commit
    * and its `_VERSION` publish — and the next commit never reuses a
    * history slot that already holds parked buckets.
    */
  def currentVersion(path: String): Long =
    (readLong(path, "_VERSION") +: retentionFloor(path) +:
      historyVersions(path)).max

  private def writeVersionFile(path: String, n: Long): Unit =
    graft.tables.Staging.publishText(
      java.nio.file.Paths.get(path, "_VERSION"), n.toString)

  /** Oldest version still reconstructable (0 until [[retain]] first runs). */
  def retentionFloor(path: String): Long = readLong(path, "_RETAIN_FLOOR")

  private def writeFloorFile(path: String, n: Long): Unit =
    graft.tables.Staging.publishText(
      java.nio.file.Paths.get(path, "_RETAIN_FLOOR"), n.toString)

  /** Delete every `_history/<n>` with n ≤ floor. Only called AFTER the
    * floor file durably points past those commits, so a crash mid-delete
    * leaves directories no read path can reach; [[recover]] and the next
    * [[retain]] finish the job.
    */
  private def gcHistory(path: String, floor: Long): Unit =
    historyVersions(path).filter(_ <= floor).foreach(n =>
      graft.tables.Staging.deleteRec(s"$path/_history/$n"))

  /** HISTORY RETENTION GC: keep the newest `keep` versions reconstructable
    * ([cur − keep + 1, cur]) and reclaim the history older versions pin —
    * without this, a continuously-ingesting versioned store's `_history/`
    * grows without bound (every rewritten bucket copy is kept forever).
    *
    * Reading version v needs exactly the parked commits n > v (readAsOf's
    * earliest-parking rule), so with floor = cur − keep + 1 every
    * `_history/<n>` with n ≤ floor is unreachable from any retained
    * version and is deleted whole. Crash-safe in the same
    * durable-intent-first style as the commit protocol: the floor file
    * advances via atomic rename BEFORE any deletion, [[readAsOf]] refuses
    * versions below the durable floor, so a crash mid-GC can only leave
    * directories no read path consults — recover()/the next retain
    * finishes deleting them. The floor never moves backward.
    */
  def retain(path: String, keep: Long): Unit =
    graft.tables.WriterLock.withLock(path) {
      graft.tables.Commit.requireNoPending(path)
      require(keep >= 1, s"retain: keep must be ≥ 1, got $keep")
      require(isVersioned(path), s"$path is not a versioned store " +
        "(write(..., retainHistory = true))")
      val floor = math.max(0L, currentVersion(path) - keep + 1)
      if (floor > retentionFloor(path)) writeFloorFile(path, floor)
      gcHistory(path, retentionFloor(path))
    }

  /** Append new vectors into an existing store, idempotent on `idName`:
    * rows whose id is already present are dropped (anti-join against the
    * store's id projection — a column-pruned scan that never touches the
    * vectors), the rest land in their bucket partitions. The reference's
    * store is append-on-add (`email_fetching.py:54-57`, `rag.py:52-59`);
    * this is that ingest path against the partitioned layout. The layout
    * invariant (bucket = partition directory) is preserved, so probes
    * against an appended store prune exactly like against a fresh write;
    * periodic compaction (rewrite of a bucket's small files) is an
    * orthogonal maintenance pass that never changes results.
    *
    * Committed as a rewrite of the affected buckets like upsert/delete/
    * compact — on versioned stores because a raw dynamic-partition append
    * would surface the new rows in every historical version and leave
    * currentVersion behind, and on UNVERSIONED stores because a crash
    * mid-append would otherwise strand partial row files with no intent
    * for [[recover]] to heal. Cost is a rewrite of the affected buckets
    * rather than a pure row append, bounded by the buckets the batch
    * actually lands in.
    */
  def append(df: DataFrame, vecCol: Column, path: String,
             idName: String = "vec_id", numPlanes: Int = 4,
             dim: Int = 64): Unit = graft.tables.WriterLock.withLock(path) {
    graft.tables.Commit.requireNoPending(path)
    val spark = df.sparkSession
    val existing = readStore(spark, path).select(col(idName))
    // Materialize the admitted rows ONCE (lineage cut, cf. Stage.Local)
    // before anything reads them: `fresh` feeds both the affected-bucket
    // list and the staged write, and recomputing a nondeterministic
    // caller df between the two could stage a bucket that is missing
    // from the swap list (or vice versa).
    val fresh = df.withColumn("bucket", Ann.bucketOf(vecCol, numPlanes, dim))
      .join(existing, Seq(idName), "left_anti")
      .localCheckpoint()
    val affected = fresh.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    commitBuckets(path, affected, readStore(spark, path)
      .filter(col("bucket").isin(affected.toSeq: _*))
      .unionByName(fresh))
  }

  /** Every mutation (append/upsert/delete/compact) commits through
    * [[graft.tables.Commit]] as ONE Replace of the `affected` buckets of
    * the store root, under the writer's [[graft.tables.WriterLock]]; see
    * Commit for the stage/intent/apply protocol and its crash recovery.
    * On a versioned store the replaced buckets park in `_history/<n>` for
    * the commit's version n, which is then published as `_VERSION`.
    * Nothing to commit when no bucket is affected. Each writer first
    * refuses a pending `_COMMIT` ([[graft.tables.Commit.requireNoPending]])
    * under its lock, so a writer over an unfinished commit fails before
    * it runs any Spark job.
    */
  private def commitBuckets(path: String, affected: Set[Int],
                            rows: DataFrame): Unit =
    if (affected.nonEmpty) {
      val version = if (isVersioned(path)) Some(currentVersion(path) + 1) else None
      graft.tables.Commit.commit(path, Seq(graft.tables.Commit.Replace("",
        "bucket", affected.toSeq.sorted, rows, version.map(n => s"_history/$n"))))
      version.foreach(writeVersionFile(path, _))
    }

  /** The stage-dir suffixes of the store's commit protocol before it
    * moved onto [[graft.tables.Commit]]: a `path + sfx` sibling dir,
    * certified by a `_COMMIT` intent of `sfx`, then `v<N>` (versioned) or
    * `-`, then the affected bucket ids — or, older still, `sfx` then the
    * bucket ids alone.
    */
  private val LegacyStages =
    Seq("__upserting", "__deleting", "__compacting", "__appending")

  /** Hand a legacy intent (see [[LegacyStages]]) over to Commit, which
    * then rolls it forward like its own. An unrecognized layout refuses:
    * misreading a bucket line as a version marker would silently drop
    * that bucket from the roll-forward.
    */
  private def adoptLegacyIntent(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val intent = Paths.get(path, "_COMMIT")
    val lines =
      if (Files.exists(intent)) Files.readAllLines(intent).asScala.toSeq
      else Nil
    def digits(s: String) = s.nonEmpty && s.forall(_.isDigit)
    lines match {
      case sfx +: rest if LegacyStages.contains(sfx) =>
        val (version, buckets) = rest match {
          case v +: bs if v.startsWith("v") && digits(v.tail) =>
            (Some(v.tail.toLong), bs)
          case "-" +: bs => (None, bs)
          case bs => (None, bs)
        }
        if (!buckets.forall(digits)) throw new IllegalStateException(
          s"$path/_COMMIT has an unrecognized intent layout — refusing to " +
            "recover (a partial roll-forward could drop a bucket); inspect " +
            "the intent file and stage directory by hand")
        graft.tables.Commit.adoptReplace(path, Paths.get(path + sfx), "",
          "bucket", buckets.map(_.toInt), version.map(n => s"_history/$n"))
      case _ => () // none, or Commit's own layout
    }
  }

  /** Recover a store from a crashed writer: a stale writer lock clears
    * (pid-checked), a logged commit rolls forward — including one a
    * writer of the store's older protocol logged — and an unlogged one is
    * discarded ([[graft.tables.Commit.recover]]). Idempotent; a no-op on a
    * healthy store. Run before reading or writing a store whose last
    * writer may have died mid-commit.
    */
  def recover(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    graft.tables.WriterLock.clearStale(path)
    adoptLegacyIntent(path)
    graft.tables.Commit.recover(path)
    Files.deleteIfExists(Paths.get(path, "_COMMIT_STAGING"))
    LegacyStages.foreach(sfx => graft.tables.Staging.deleteRec(path + sfx))
    if (isVersioned(path)) writeVersionFile(path, currentVersion(path))
    // a retain() that died mid-GC advanced the floor durably but may have
    // left partially-deleted (already unreachable) history dirs — finish
    // reclaiming them
    val floor = retentionFloor(path)
    if (floor > 0) gcHistory(path, floor)
  }

  /** Partition-targeted upsert — the re-embedding migration path: replace
    * the stored vectors of the given ids (and insert unseen ids),
    * rewriting ONLY the bucket partitions that hold an old copy of an
    * updated id or receive a new row. Affected buckets are identified by
    * two metadata-sized aggregations (at most 2^numPlanes values collect
    * to the driver), untouched bucket directories are never read or
    * written — at 100 TB an update wave that lands in 3 of 16 buckets
    * costs 3/16 of a rewrite, not a full-store pass. `df` must carry the
    * store's data columns (id, vector, carried metadata). Committed like
    * every store mutation ([[commitBuckets]]).
    */
  def upsert(df: DataFrame, vecCol: Column, path: String,
             idName: String = "vec_id", numPlanes: Int = 4,
             dim: Int = 64): Unit = graft.tables.WriterLock.withLock(path) {
    graft.tables.Commit.requireNoPending(path)
    val spark = df.sparkSession
    val updates = df.withColumn("bucket", Ann.bucketOf(vecCol, numPlanes, dim))
    val store = readStore(spark, path)
    // bounded driver collect: bucket ids live in [0, 2^numPlanes) — at
    // the default 4 planes this is ≤ 16 rows regardless of store size
    def bucketsOf(d: DataFrame): Set[Int] =
      d.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    val affected = bucketsOf(
      store.join(updates.select(col(idName)), Seq(idName), "left_semi")) ++
      bucketsOf(updates)
    commitBuckets(path, affected,
      store.filter(col("bucket").isin(affected.toSeq: _*))
        .join(updates.select(col(idName)), Seq(idName), "left_anti")
        .unionByName(updates))
  }

  /** Partition-targeted delete — the tombstoning path a corpus refresh
    * needs for removed documents (cf. Merge.corpusDiff's `removed`
    * class): drop the rows of the given ids, rewriting ONLY the bucket
    * partitions that actually hold one of them. Affected buckets come
    * from one metadata-sized aggregation (≤ 2^numPlanes values to the
    * driver), untouched bucket directories are never read or written —
    * the same cost shape as [[upsert]]. A delete wave hitting 3 of 16
    * buckets costs 3/16 of a rewrite, never a full-store pass. Committed
    * like every store mutation ([[commitBuckets]]); a fully emptied
    * bucket's directory is removed.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idName: String = "vec_id"): Unit =
    graft.tables.WriterLock.withLock(path) {
      graft.tables.Commit.requireNoPending(path)
      val store = readStore(spark, path)
      val victims = ids.select(col(idName))
      val affected = store.join(victims, Seq(idName), "left_semi")
        .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
      commitBuckets(path, affected,
        store.filter(col("bucket").isin(affected.toSeq: _*))
          .join(victims, Seq(idName), "left_anti"))
    }

  /** Compact a store in place: rewrite every bucket partition into one
    * file per bucket ([[graft.tables.Staging.writePartitioned]]). Results
    * and partition pruning are invariant — this is the maintenance pass
    * that keeps probe cost flat as streaming appends accumulate small
    * files; per-row work is zero (no re-hash, the bucket is already a
    * column). Committed per bucket like every store mutation
    * ([[commitBuckets]]): the store path never disappears, and because
    * compaction is row-identical, even the mid-apply states a crash can
    * expose are correct stores (some buckets compacted, some not);
    * [[recover]] finishes the rest.
    */
  def compact(spark: SparkSession, path: String): Unit =
    graft.tables.WriterLock.withLock(path) {
      graft.tables.Commit.requireNoPending(path)
      val store = readStore(spark, path)
      commitBuckets(path, store.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet, store)
    }

  /** Read a versioned store AS OF committed `version` (time travel).
    *
    * Per-bucket resolution, no log replay: bucket b's state at version v
    * is the copy parked by the EARLIEST commit n > v that touched b
    * (`_history/n/bucket=b` — an empty dir if b was born at n), or the
    * live directory if no later commit touched it. Each resolved
    * directory is one pruned parquet scan; the union is over at most
    * 2^numPlanes branches, so time travel costs the same as reading the
    * store plus nothing — history is never scanned beyond the buckets
    * that actually changed after v.
    *
    * `buckets` restricts resolution to the given bucket ids (the probe
    * path) — unprobed buckets are neither resolved nor scanned.
    */
  def readAsOf(spark: SparkSession, path: String, version: Long,
               buckets: Option[Seq[Int]] = None): DataFrame = {
    import java.nio.file.{Files, Paths}
    require(isVersioned(path), s"$path is not a versioned store " +
      "(write(..., retainHistory = true))")
    val cur = currentVersion(path)
    val floor = retentionFloor(path)
    require(version >= floor && version <= cur,
      s"version $version out of retained range [$floor, $cur]" +
        (if (floor > 0) " (older history reclaimed by retain)" else ""))
    def bucketId(name: String): Int = name.stripPrefix("bucket=").toInt
    val live = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(f => bucketId(f.getName)).toSet
    // (bucket, earliest parking commit > version) → that commit's parked dir
    val parked = scala.collection.mutable.Map.empty[Int, Long]
    historyVersions(path).filter(_ > version).foreach { n =>
      Option(new java.io.File(path, s"_history/$n").listFiles())
        .getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .foreach { d =>
          val b = bucketId(d.getName)
          if (!parked.get(b).exists(_ <= n)) parked(b) = n
        }
    }
    val all = (live ++ parked.keys).toSeq.sorted
    val wanted = buckets match {
      case Some(bs) => all.filter(bs.toSet)
      case None => all
    }
    // one scan per SOURCE ROOT, not per bucket: buckets resolving to the
    // same root (the live store, or one history version) read in a single
    // basePath-anchored call, so partition inference restores the bucket
    // column and the plan has O(#commits) scans instead of O(#buckets)
    val byRoot = wanted.flatMap { b =>
      val (root, dir) =
        if (parked.contains(b))
          (Paths.get(path, "_history", parked(b).toString),
            Paths.get(path, "_history", parked(b).toString, s"bucket=$b"))
        else (Paths.get(path), Paths.get(path, s"bucket=$b"))
      val hasData = Files.exists(dir) &&
        Option(dir.toFile.listFiles()).getOrElse(Array.empty)
          .exists(_.getName.endsWith(".parquet"))
      if (hasData) Some(root.toString -> dir.toString) else None
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val frames = byRoot.map { case (root, dirs) =>
      spark.read.option("basePath", root).parquet(dirs: _*)
    }
    if (frames.isEmpty)
      readStore(spark, path).limit(0)
    else frames.reduce(_.unionByName(_))
  }

  /** [[queryL2]] against a historical version: probes resolve against
    * the as-of state and only the probed buckets are resolved/scanned.
    */
  def queryL2AsOf(spark: SparkSession, path: String, vecName: String,
                  idName: String, query: Seq[Double], k: Int, version: Long,
                  numPlanes: Int = 4, multiProbe: Boolean = true): DataFrame = {
    val probes =
      if (multiProbe) Ann.probesOf(query, numPlanes)
      else Seq(Ann.bucketOfQuery(query, numPlanes))
    readAsOf(spark, path, version, Some(probes.map(_.toInt)))
      .withColumn("distance", l2(col(vecName), typedlit(query)))
      .orderBy(col("distance").asc, col(idName).asc)
      .limit(k)
  }

  /** Partition-pruned L2 top-k against a written store. `multiProbe`
    * trades scan fraction for recall; the scanned fraction is
    * |probes| / 2^numPlanes either way.
    *
    * `where` is the METADATA FILTER of classic vector-store serving
    * ("nearest neighbours among rows satisfying P" — post-filter
    * semantics, the top-k is over the filtered set): it lands in the
    * SAME pruned scan, so a row-group-skippable predicate (e.g. on a
    * carried label/category column) combines with the bucket partition
    * pruning as `PushedFilters` — the filter never costs a second pass.
    */
  def queryL2(spark: SparkSession, path: String, vecName: String, idName: String,
              query: Seq[Double], k: Int, numPlanes: Int = 4,
              multiProbe: Boolean = true,
              where: Option[Column] = None): DataFrame = {
    val probes =
      if (multiProbe) Ann.probesOf(query, numPlanes)
      else Seq(Ann.bucketOfQuery(query, numPlanes))
    readStore(spark, path)
      .filter(col("bucket").isin(probes: _*))
      .filter(where.getOrElse(lit(true)))
      .withColumn("distance", l2(col(vecName), typedlit(query)))
      .orderBy(col("distance").asc, col(idName).asc)
      .limit(k)
  }

  /** BATCHED multi-query probe against the persisted store — the
    * serving twin of [[queryL2]] (and the store-layout analogue of
    * Ann.annJoin / GraphAnnIndex.queryBatch): ONE plan serves every
    * query in `queries` (q_id, q_vec). Each query's multi-probe bucket
    * set (own + single-bit flips, the same set queryL2 probes) derives
    * IN-PLAN from q_vec; the store scan reads the UNION of all probed
    * bucket partitions once, and the per-query exact top-k is one
    * window. Per-query rows are identical to N separate queryL2 calls;
    * N queries cost ~1 scan of the probed-partition union, not N scans —
    * the serving fix for the reference's one-call-per-item shape
    * (email_fetching.py:38-40).
    * Pruning is STATIC, not left to dynamic-partition-pruning luck: the
    * distinct probed-bucket set (≤ 2^numPlanes values whatever the
    * batch size — same metadata-sized collect bound as queryL2's
    * driver-computed probes) lands as an isin partition filter on the
    * scan; the broadcast probe equi-join then carries each row's query
    * vector for the distance.
    *
    * BOUNDED-PLAN GUARD (cf. Retrieval.bm25BatchFromStage): at a
    * production numPlanes the bucket space is tens of thousands — past
    * `pruneLiteralLimit` probed buckets the isin literal list is
    * dropped and pruning rides the broadcast bucket equi-join itself
    * (dynamic partition pruning on the `bucket` partition key), keeping
    * the plan constant-size at any batch size, identical rows.
    */
  def queryL2Batch(spark: SparkSession, path: String, vecName: String,
                   idName: String, queries: DataFrame, k: Int,
                   numPlanes: Int = 4, dim: Int = 64,
                   pruneLiteralLimit: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // own bucket + single-bit flips — the same mask set every probe
    // path derives (Ann.probeMasks; probesOf is its driver-side twin)
    val masks = Ann.probeMasks(numPlanes, 1).map(lit(_))
    val qprobes = queries.select(col("q_id"), col("q_vec"))
      .withColumn("bucket",
        explode(array(masks.map(mk =>
          Ann.bucketOf(col("q_vec"), numPlanes, dim).bitwiseXOR(mk)): _*)))
      .localCheckpoint() // feeds the probed-bucket set AND the join
    val probed = qprobes.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ 2^numPlanes — metadata-sized
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("distance").asc, col(idName).asc)
    readStore(spark, path)
      .filter(if (probed.size <= pruneLiteralLimit)
        col("bucket").isin(probed: _*) else lit(true))
      .join(broadcast(qprobes), "bucket")
      .withColumn("distance", l2(col(vecName), col("q_vec")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col(idName), col("bucket"),
        col("distance"))
  }
}
