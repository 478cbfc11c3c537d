package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Staged layouts: cache keying, the one partitioned layout writer
  * ([[Staging.writePartitioned]]), declared-schema reads, and the local
  * filesystem seam.
  *
  * Staged layouts (partitioned tables, vector stores, signature stages) are
  * derived once per source dataset and reused across queries in a run. The
  * cache path must change whenever EITHER the derivation logic changes (the
  * caller versions its `tag`, e.g. "vector_store_v2") OR the source data
  * changes — so the path embeds a content fingerprint of the source
  * directory (file names + lengths + mtimes), not just the path string.
  * Regenerated testdata under the same path therefore always misses the old
  * cache instead of silently serving stale layouts, and two distinct dirs
  * can never collide the way `String.hashCode` could.
  */
object Staging {

  /** Hex fingerprint of a directory's listing: every file's name, length
    * and mtime, plus the absolute path itself. Cheap (one readdir, no file
    * reads) and changes whenever any source file is rewritten.
    */
  def dirFingerprint(dir: String): String = {
    val root = new java.io.File(dir)
    val files = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .sortBy(_.getName)
    val sig = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(dir + "||", "|", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 16)
  }

  /** Cache path for a staged layout derived from `dir`. `tag` names the
    * layout AND carries its version (bump per-layout, e.g. "_v2", when that
    * layout's derivation changes — independent layouts version
    * independently).
    */
  def stagedPath(tag: String, dir: String): String =
    sys.props("java.io.tmpdir") + s"/graft_${tag}_" + dirFingerprint(dir)

  // ------------------------------------------------------------------
  // THE LOCAL-FILESYSTEM SEAM (r21). Every raw byte-level file move/copy
  // in the engine routes through the four helpers below (plus
  // [[moveInto]] / [[deleteRec]]): the staged layouts' crash-safety
  // story assumes (a) ATOMIC single-file rename within a directory —
  // marker/generation/sidecar publishes are write-tmp-then-atomicPublish,
  // and a reader can never observe a torn marker — and (b) cheap
  // same-volume renames — LSM appends and staged swaps move data files
  // instead of rewriting them. Both hold on any POSIX local/cluster FS
  // (and HDFS); on an object store rename is copy+delete with different
  // atomicity, so a deployment swap replaces THIS FILE's primitives
  // (e.g. with a manifest-pointer commit), not thirty call sites.
  // ------------------------------------------------------------------

  /** Atomically publish `tmp` as `dst` (same directory): the one rename
    * every marker/sidecar commit uses. Replaces an existing `dst`.
    */
  def atomicPublish(tmp: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  /** [[atomicPublish]] refusing to replace: intent publishes, where an
    * already-present `dst` means unfinished maintenance and must fail
    * loudly rather than be silently overwritten.
    */
  def atomicPublishFresh(tmp: java.nio.file.Path,
                         dst: java.nio.file.Path): Unit =
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  /** Plain same-volume move (file or directory tree): staged-split
    * publishes, LSM file promotion, bucket swaps. Not atomic across
    * volumes; callers sequence visibility via markers, not this move.
    */
  def moveFile(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    java.nio.file.Files.move(src, dst)

  /** Byte-copy one file, creating parent dirs; replaces an existing
    * target when `replace` (the staged-source shim's idempotent re-stage).
    */
  def copyFile(src: java.nio.file.Path, dst: java.nio.file.Path,
               replace: Boolean = false): Unit = {
    Option(dst.getParent).foreach(java.nio.file.Files.createDirectories(_))
    if (replace)
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else java.nio.file.Files.copy(src, dst)
  }

  /** Recursive delete of a file/directory tree; no-op when absent. The
    * ONE recursive-deletion implementation for every staged layout
    * (stage rebuilds, streaming drain resets, partition drops) — and the
    * one place that closes the `Files.walk` stream (an unclosed walk
    * holds a directory FD until GC).
    */
  def deleteRec(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** THE partitioned layout write: every staged layout's
    * `partitionBy(partCol)` parquet write goes through here. `mode` is
    * "overwrite", "append", or "dynamic" (overwrite only the partitions
    * `df` carries rows for, leaving every other partition's files
    * untouched — the per-write `partitionOverwriteMode` option, so no
    * session-wide setting changes under concurrent writers).
    *
    * Rows are hash-partitioned by `partCol` first (see [[byPartition]]),
    * so each partition value lands in exactly ONE task and every
    * partition directory gets exactly one new file — the invariant the
    * fragmentation policies ([[filesPerPartition]]) count on. The task
    * count is FIXED at the session's shuffle partitions on purpose: a
    * column-only `repartition(col)` plans a REPARTITION_BY_COL exchange,
    * which AQE coalesces below its advisory size — a micro-batch's few
    * hundred rows collapse into ONE task that then creates every one of
    * the ~55 partition files serially (~13 ms each), the largest job of
    * a streaming-drain batch. AQE does not coalesce a REPARTITION_BY_NUM
    * exchange, so the files are created by all cores at once; empty
    * tasks write nothing.
    */
  def writePartitioned(df: DataFrame, partCol: String, dir: String,
                       mode: String = "overwrite"): Unit = {
    val w = byPartition(df, partCol).write.partitionBy(partCol)
    mode match {
      case "overwrite" | "append" => w.mode(mode).parquet(dir)
      case "dynamic" =>
        w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .parquet(dir)
      case other => throw new IllegalArgumentException(
        s"writePartitioned: unknown mode '$other' " +
          "(overwrite | append | dynamic)")
    }
  }

  /** `df` hash-partitioned by `partCol` into the session's shuffle-
    * partition count — the exchange [[writePartitioned]] plans. A site
    * whose exchange also feeds a `partCol`-keyed operator before the
    * write (a rank window) applies it once, ahead of that operator: the
    * write's own identical exchange is then planned away, leaving one.
    */
  def byPartition(df: DataFrame, partCol: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(partCol))

  /** Read a parquet layout with a declared schema when one is known,
    * else by inference. Inference costs a Spark job per read (it opens
    * file footers at planning time, before any partition filter exists)
    * and refuses a fileless directory; a declared schema does neither,
    * so an emptied layout reads as an empty frame.
    */
  def readLayout(spark: SparkSession, dir: String,
                 declared: Option[StructType]): DataFrame =
    declared.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** The schema a layout recorded at write time in `file` (see
    * [[recordSchema]]); None for layouts written before it existed.
    */
  def recordedSchema(file: java.nio.file.Path): Option[StructType] =
    if (!java.nio.file.Files.exists(file)) None
    else Some(DataType.fromJson(java.nio.file.Files.readString(file))
      .asInstanceOf[StructType])

  /** Record, in `file`, the schema parquet inference returns for a layout
    * written from `written` partitioned by `partCol`: the data columns
    * in order, all nullable, then the partition column as a nullable INT
    * (partition values here are always integers).
    */
  def recordSchema(file: java.nio.file.Path, written: StructType,
                   partCol: String): Unit = {
    val data = nullable(StructType(written.filterNot(_.name == partCol)))
    java.nio.file.Files.writeString(file,
      data.asInstanceOf[StructType].add(partCol, IntegerType).json)
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Move a staged partitioned write's data files INTO the live relation
    * dir (the [[Commit]] "add" apply, factored for single-relation LSM
    * appends): every `pc=v/part-*.parquet` under `stagedDir` moves to
    * `destDir/pc=v/`. This is how an LSM append lands rows in the
    * directory it READ without a lineage cut: the staged write never
    * lists its own output dir, so the localCheckpoint (a whole extra
    * job per micro-batch) that guarded read-vs-append re-planning is
    * unnecessary — write to the side dir (one job), then driver-side
    * renames. Spark part-file names are globally unique (task UUIDs),
    * so a re-run never collides. Returns the moved file count.
    */
  def moveInto(stagedDir: String, destDir: String, pc: String): Int = {
    import java.nio.file.{Files, Paths}
    var moved = 0
    val src = new java.io.File(stagedDir)
    Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith(s"$pc="))
      .foreach { pdir =>
        val dst = Paths.get(destDir, pdir.getName)
        Files.createDirectories(dst)
        Option(pdir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .foreach { f =>
            Files.move(f.toPath, dst.resolve(f.getName))
            moved += 1
          }
      }
    deleteRec(stagedDir)
    moved
  }

  /** The integer partition VALUES of `relDir` holding more than one
    * parquet file — the exact rewrite set a partition-pruned compaction
    * needs (a 1-file partition is already in its compacted form, so
    * rewriting it burns a scan + write for zero read-amplification
    * gain). Driver-side readdir only, same traversal as
    * [[filesPerPartition]].
    */
  def fragmentedPartitions(relDir: String, partCol: String): Seq[Int] = {
    val root = new java.io.File(relDir)
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol="))
      .filter(pd => Option(pd.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && f.getName.endsWith(".parquet")) > 1)
      .map(_.getName.stripPrefix(s"$partCol=").toInt)
      .toSeq.sorted
  }

  /** Mean parquet files per live partition directory across the given
    * relation roots — the fragmentation probe behind the compact-if-
    * fragmented policies. Every staged write here leaves exactly ONE
    * file per partition (the [[writePartitioned]] guarantee), and
    * every LSM/additive append lands exactly one NEW file per touched
    * partition, so this ratio is precisely 1 + appends-since-compact per
    * partition: a pure driver-side readdir (no Spark job, no data read)
    * that measures read amplification the same way the postings stage's
    * staleFraction measures superseded rows. Relations that don't exist
    * (or have no partitions yet) contribute nothing; an empty stage
    * probes as 0.0 so no policy fires on it.
    */
  def filesPerPartition(relDirs: Seq[String]): Double = {
    var parts = 0L
    var files = 0L
    relDirs.foreach { rd =>
      val root = new java.io.File(rd)
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && d.getName.contains("="))
        .foreach { pd =>
          parts += 1
          files += Option(pd.listFiles()).getOrElse(Array.empty[java.io.File])
            .count(f => f.isFile && f.getName.endsWith(".parquet"))
        }
    }
    if (parts == 0L) 0.0 else files.toDouble / parts
  }

  /** A dynamic [[writePartitioned]] plus the drop-empty audit every exact
    * partition rewrite needs: dynamic overwrite cannot ERASE a partition
    * it writes no rows into, so any of the `affected` integer partitions
    * the rewrite left empty is deleted explicitly — after this, the
    * `affected` dirs hold exactly `df`'s rows. `df` must be
    * materialized (localCheckpoint) by the caller: it is consumed twice
    * (the write and the written-partition audit), and it usually reads
    * from the very directory being overwritten.
    */
  def overwritePartitionsExact(df: DataFrame,
                               partCol: String, dir: String,
                               affected: Seq[Int]): Unit = {
    writePartitioned(df, partCol, dir, "dynamic")
    val written = df.select(col(partCol))
      .distinct().collect().map(_.getInt(0)).toSet
    affected.filterNot(written).foreach(b => deleteRec(s"$dir/$partCol=$b"))
  }
}
