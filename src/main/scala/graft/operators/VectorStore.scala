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

  /** Latest committed version of a versioned store. */
  def currentVersion(path: String): Long =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_VERSION")).trim.toLong

  private def writeVersionFile(path: String, n: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(path, "_VERSION_TMP")
    Files.writeString(tmp, n.toString)
    graft.tables.Staging.atomicPublish(tmp, Paths.get(path, "_VERSION"))
  }

  /** Oldest version still reconstructable (0 until [[retain]] first runs). */
  def retentionFloor(path: String): Long = {
    val f = java.nio.file.Paths.get(path, "_RETAIN_FLOOR")
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toLong
    else 0L
  }

  private def writeFloorFile(path: String, n: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(path, "_RETAIN_FLOOR_TMP")
    Files.writeString(tmp, n.toString)
    graft.tables.Staging.atomicPublish(tmp, Paths.get(path, "_RETAIN_FLOOR"))
  }

  /** Delete every `_history/<n>` with n ≤ floor. Only called AFTER the
    * floor file durably points past those commits, so a crash mid-delete
    * leaves directories no read path can reach; [[recover]] and the next
    * [[retain]] finish the job.
    */
  private def gcHistory(path: String, floor: Long): Unit = {
    val histRoot = new java.io.File(path, "_history")
    Option(histRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
      .filter(_.getName.toLong <= floor)
      .foreach(d => deleteRec(d.toPath))
  }

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
  def retain(path: String, keep: Long): Unit = withWriterLock(path) {
    requireNoPendingCommit(path)
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
    * vectors), the rest land in their bucket partitions via dynamic
    * partition append. The reference's store is append-on-add
    * (`email_fetching.py:54-57`, `rag.py:52-59`); this is that ingest
    * path against the partitioned layout. The layout invariant (bucket =
    * partition directory) is preserved, so probes against an appended
    * store prune exactly like against a fresh write; periodic compaction
    * (rewrite of a bucket's small files) is an orthogonal maintenance
    * pass that never changes results.
    *
    * Committed via the same stage/intent/swap protocol as upsert/delete/
    * compact — on versioned stores because a raw dynamic-partition append
    * would surface the new rows in every historical version and leave
    * currentVersion behind, and on UNVERSIONED stores because a crash
    * mid-append would otherwise strand partial row files with no _COMMIT
    * intent for [[recover]] to heal (the one mutating entry point outside
    * the protocol would be the one that can tear). Cost is a rewrite of
    * the affected buckets rather than a pure row append — the price every
    * other writer already pays for atomicity, bounded by the buckets the
    * batch actually lands in.
    */
  def append(df: DataFrame, vecCol: Column, path: String,
             idName: String = "vec_id", numPlanes: Int = 4,
             dim: Int = 64): Unit = withWriterLock(path) {
    requireNoPendingCommit(path)
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
    if (affected.nonEmpty) {
      val sfx = "__appending"
      graft.tables.Staging.writePartitioned(readStore(spark, path)
          .filter(col("bucket").isin(affected.toSeq: _*))
          .unionByName(fresh),
        "bucket", path + sfx)
      commitSwap(path, sfx, affected.toSeq.sorted)
    }
  }

  // ---- crash-safe commit protocol (shared by upsert/delete/compact) ----
  //
  // A bucket rewrite never deletes live data in place. The writer:
  //  1. STAGES the affected buckets into a sibling directory via Spark
  //     (whose _SUCCESS marker certifies the stage is complete), creating
  //     an explicit EMPTY bucket dir for any affected bucket the rewrite
  //     emptied;
  //  2. writes a _COMMIT intent file into the store root via atomic
  //     rename (underscore-prefixed → invisible to Spark readers),
  //     recording the stage suffix and the affected bucket list;
  //  3. SWAPS each affected bucket with two atomic same-FS renames: the
  //     old bucket dir moves INTO the stage dir, the staged dir moves to
  //     its place — a reader never observes a HALF-WRITTEN bucket, only a
  //     complete old or complete new directory (a reader racing the
  //     instant between a bucket's two renames can see that bucket
  //     absent — rename pairs are not jointly atomic; readers that must
  //     not miss rows serialize against writers like writers do);
  //  4. deletes the stage dir, then the intent file.
  //
  // A crash at any point leaves a deterministically recoverable state:
  // no _COMMIT → at worst an orphan stage to discard (store untouched);
  // _COMMIT present → the stage was complete, so [[recover]] ROLLS the
  // commit FORWARD by re-running the idempotent swap (a bucket already
  // swapped has no staged dir left and is skipped) and cleaning up.
  // Single-writer-at-a-time is still assumed (one _COMMIT slot); what the
  // protocol adds is that a crashed writer can no longer lose or tear a
  // bucket for the readers and writers that come after it.

  /** Fail fast BEFORE any staging work if the store carries an unfinished
    * commit. Checked at the START of every writer — a later check (inside
    * commitSwap) would come after the new stage write had already
    * overwritten the crashed writer's certified stage directory, making
    * the prescribed recover() roll the WRONG data forward.
    */
  private def requireNoPendingCommit(path: String): Unit = {
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_COMMIT")))
      throw new IllegalStateException(
        s"$path has an unfinished commit (stale _COMMIT intent) — a writer " +
          "crashed mid-swap or is still running; run VectorStore.recover " +
          "before writing (single-writer-at-a-time store)")
  }

  /** WRITER EXCLUSION: the single-writer-at-a-time assumption the commit
    * protocol documents, now ENFORCED. Every mutating entry point
    * (append/upsert/delete/compact) runs under an exclusive `_WRITER_LOCK`
    * acquired with an atomic create-if-absent; a second writer REFUSES
    * immediately (no queueing — the caller owns retry policy, and a
    * refused writer has done zero staging work). The lock body carries
    * pid + timestamp for diagnostics only. A writer that dies with the
    * lock held leaves a stale lock exactly like it leaves a stale
    * _COMMIT; [[recover]] clears both — the one heal path for every
    * crashed-writer artifact. Underscore prefix keeps it invisible to
    * Spark readers, like every other protocol file.
    */
  private def withWriterLock[T](path: String)(body: => T): T = {
    import java.nio.file.{Files, Paths}
    val lock = Paths.get(path, "_WRITER_LOCK")
    try Files.createFile(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$path is being written by another writer (_WRITER_LOCK held) — " +
            "refusing (single-writer-at-a-time store); retry after it " +
            "finishes, or run VectorStore.recover if its holder crashed")
    }
    try {
      Files.writeString(lock,
        s"${ProcessHandle.current.pid}@${System.currentTimeMillis}")
      body
    } finally Files.deleteIfExists(lock)
  }

  private def deleteRec(p: java.nio.file.Path): Unit =
    graft.tables.Staging.deleteRec(p.toString)

  /** Idempotent per-bucket swap: for each affected bucket, park the old
    * dir — into `_history/<version>/` on a versioned store (time travel
    * retention), into the doomed stage dir otherwise — and rename the
    * staged dir into place. All renames are atomic same-filesystem
    * moves; a re-run (recovery) skips buckets whose staged dir is
    * already gone, and a bucket already parked (history entry present,
    * live dir gone) just completes its swap-in. A bucket BORN at this
    * commit parks an explicit empty history dir, recording that it did
    * not exist before — readAsOf of an earlier version excludes it.
    */
  private def completeSwap(path: String, tmp: String, affected: Seq[Int],
                           history: Option[String]): Unit = {
    import java.nio.file.{Files, Paths}
    history.foreach(h => Files.createDirectories(Paths.get(h)))
    affected.foreach { b =>
      val dst = Paths.get(path, s"bucket=$b")
      val src = Paths.get(tmp, s"bucket=$b")
      if (Files.exists(src)) {
        history match {
          case Some(h) =>
            val park = Paths.get(h, s"bucket=$b")
            if (!Files.exists(park)) {
              if (Files.exists(dst)) graft.tables.Staging.moveFile(dst, park)
              else Files.createDirectories(park)
            }
          case None =>
            if (Files.exists(dst))
              graft.tables.Staging.moveFile(dst, Paths.get(tmp, s"old_bucket=$b"))
        }
        graft.tables.Staging.moveFile(src, dst)
      }
    }
  }

  /** Steps 2-4 of the protocol: intent, swap, cleanup. `sfx` is the stage
    * directory's suffix relative to `path` (stage dir = path + sfx).
    */
  private def commitSwap(path: String, sfx: String, affected: Seq[Int]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val tmp = path + sfx
    // any affected bucket the staged rewrite emptied still needs a (now
    // empty) directory to swap in over the old data
    affected.foreach { b =>
      val src = Paths.get(tmp, s"bucket=$b")
      if (!Files.exists(src)) Files.createDirectories(src)
    }
    val intent = Paths.get(path, "_COMMIT")
    // defense in depth: the writer entry points already refused over a
    // pending commit BEFORE staging (requireNoPendingCommit)
    if (Files.exists(intent))
      throw new IllegalStateException(
        s"$path has an unfinished commit (stale _COMMIT intent) — a writer " +
          "crashed mid-swap or is still running; run VectorStore.recover " +
          "before writing (single-writer-at-a-time store)")
    // versioned store: this commit's number rides in the intent so a
    // crashed swap recovers into the SAME history slot
    val versionOpt = if (isVersioned(path)) Some(currentVersion(path) + 1) else None
    val vLine = versionOpt.map(n => s"v$n").getOrElse("-")
    val intentTmp = Paths.get(path, "_COMMIT_STAGING")
    Files.write(intentTmp, (sfx +: vLine +: affected.map(_.toString)).asJava)
    graft.tables.Staging.atomicPublishFresh(intentTmp, intent)
    completeSwap(path, tmp, affected,
      versionOpt.map(n => s"$path/_history/$n"))
    versionOpt.foreach(n => writeVersionFile(path, n))
    deleteRec(Paths.get(tmp))
    Files.deleteIfExists(intent)
  }

  /** Recover a store from a crashed writer: roll a logged commit forward
    * (the _COMMIT intent certifies its stage completed), then discard any
    * orphan stage directories from writers that died before logging
    * intent. Idempotent; a no-op on a healthy store. Run before reading
    * or writing a store whose last writer may have died mid-commit.
    */
  def recover(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val intent = Paths.get(path, "_COMMIT")
    if (Files.exists(intent)) {
      val lines = Files.readAllLines(intent).asScala.toSeq
      val tmp = path + lines.head
      // Three intent layouts exist in the wild: current versioned
      // ("v<N>" then buckets), current unversioned ("-" then buckets), and
      // the pre-versioning legacy format whose second line is already the
      // first bucket id. Misreading a legacy bucket line as a version
      // marker would silently drop that bucket from the swap list, so an
      // unrecognized layout refuses rather than partially applies.
      val (versionOpt, affected) = lines.tail match {
        case v +: rest if v.startsWith("v") && v.tail.nonEmpty &&
            v.tail.forall(_.isDigit) =>
          (Some(v.tail.toLong), rest.map(_.toInt))
        case "-" +: rest => (None, rest.map(_.toInt))
        case rest if rest.forall(s => s.nonEmpty && s.forall(_.isDigit)) =>
          (None, rest.map(_.toInt)) // legacy intent: no version line
        case _ => throw new IllegalStateException(
          s"$path/_COMMIT has an unrecognized intent layout — refusing to " +
            "recover (a partial roll-forward could drop a bucket); inspect " +
            "the intent file and stage directory by hand")
      }
      if (Files.exists(Paths.get(tmp))) {
        completeSwap(path, tmp, affected,
          versionOpt.map(n => s"$path/_history/$n"))
        deleteRec(Paths.get(tmp))
      }
      versionOpt.foreach(n => writeVersionFile(path, n))
      Files.deleteIfExists(intent)
    }
    Files.deleteIfExists(Paths.get(path, "_COMMIT_STAGING"))
    // a writer that died lock-in-hand left a stale _WRITER_LOCK — the
    // same class of artifact as a stale stage dir; recovery clears it.
    // Staleness is CHECKED, not assumed: the lock body carries the
    // holder's pid, and a pid that is still alive (same-host best
    // effort — ProcessHandle cannot see across hosts) means the holder
    // is merely slow, not crashed; clearing would let a second writer
    // in mid-commit and defeat the exclusion. A lock with no parseable
    // pid (legacy/empty body, or written by a remote host) is treated
    // as stale, as before.
    val lock = Paths.get(path, "_WRITER_LOCK")
    if (Files.exists(lock)) {
      val holderPid = scala.util.Try(
        new String(Files.readAllBytes(lock), "UTF-8")
          .takeWhile(_ != '@').trim.toLong).toOption
      val holderAlive = holderPid.exists { p =>
        val h = ProcessHandle.of(p)
        h.isPresent && h.get.isAlive
      }
      if (holderAlive) throw new IllegalStateException(
        s"$path/_WRITER_LOCK is held by LIVE process ${holderPid.get} — " +
          "refusing to clear it (the writer may be slow, not crashed); " +
          "wait for it to finish or stop it before running recover")
      Files.deleteIfExists(lock)
    }
    Seq("__upserting", "__deleting", "__compacting", "__appending")
      .foreach(sfx => deleteRec(Paths.get(path + sfx)))
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
    * store's data columns (id, vector, carried metadata). Committed via
    * the crash-safe stage/intent/swap protocol above.
    */
  def upsert(df: DataFrame, vecCol: Column, path: String,
             idName: String = "vec_id", numPlanes: Int = 4,
             dim: Int = 64): Unit = withWriterLock(path) {
    requireNoPendingCommit(path)
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
    if (affected.nonEmpty) {
      val sfx = "__upserting"
      graft.tables.Staging.writePartitioned(
        store.filter(col("bucket").isin(affected.toSeq: _*))
          .join(updates.select(col(idName)), Seq(idName), "left_anti")
          .unionByName(updates),
        "bucket", path + sfx)
      commitSwap(path, sfx, affected.toSeq.sorted)
    }
  }

  /** Partition-targeted delete — the tombstoning path a corpus refresh
    * needs for removed documents (cf. Merge.corpusDiff's `removed`
    * class): drop the rows of the given ids, rewriting ONLY the bucket
    * partitions that actually hold one of them. Affected buckets come
    * from one metadata-sized aggregation (≤ 2^numPlanes values to the
    * driver), untouched bucket directories are never read or written —
    * the same cost shape as [[upsert]]. A delete wave hitting 3 of 16
    * buckets costs 3/16 of a rewrite, never a full-store pass. Committed
    * via the crash-safe stage/intent/swap protocol (a fully emptied
    * bucket swaps in an explicit empty directory).
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idName: String = "vec_id"): Unit = withWriterLock(path) {
    requireNoPendingCommit(path)
    val store = readStore(spark, path)
    val victims = ids.select(col(idName))
    val affected = store.join(victims, Seq(idName), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    if (affected.nonEmpty) {
      val sfx = "__deleting"
      graft.tables.Staging.writePartitioned(
        store.filter(col("bucket").isin(affected.toSeq: _*))
          .join(victims, Seq(idName), "left_anti"),
        "bucket", path + sfx)
      commitSwap(path, sfx, affected.toSeq.sorted)
    }
  }

  /** Compact a store in place: rewrite every bucket partition into one
    * file per bucket ([[graft.tables.Staging.writePartitioned]]). Results and partition pruning are invariant — this is the
    * maintenance pass that keeps probe cost flat as streaming appends
    * accumulate small files; per-row work is zero (no re-hash, the bucket
    * is already a column). Committed per bucket via the crash-safe
    * stage/intent/swap protocol — unlike the former whole-directory swap,
    * the store path never disappears, and because compaction is
    * row-identical, even the mid-swap states a crash can expose are
    * correct stores (some buckets compacted, some not); [[recover]]
    * finishes the rest.
    */
  def compact(spark: SparkSession, path: String): Unit = withWriterLock(path) {
    requireNoPendingCommit(path)
    val store = readStore(spark, path)
    val affected = store.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.nonEmpty) {
      val sfx = "__compacting"
      graft.tables.Staging.writePartitioned(store, "bucket", path + sfx)
      commitSwap(path, sfx, affected)
    }
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
    val histRoot = new java.io.File(path, "_history")
    val parked = scala.collection.mutable.Map.empty[Int, Long]
    Option(histRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { nDir =>
        val n = nDir.getName.toLong
        if (n > version)
          Option(nDir.listFiles()).getOrElse(Array.empty)
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
