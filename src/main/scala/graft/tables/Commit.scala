package graft.tables

import org.apache.spark.sql.DataFrame

/** Crash-safe multi-relation partition commit — the ONE write protocol
  * every persisted stage's REWRITING maintenance uses (graph-ANN, IVF,
  * signature stage, and the compaction passes of the postings/window
  * stages; the vector store predates it and keeps its own equivalent
  * protocol, VectorStore.scala's stage/intent/swap).
  *
  * A bare `write.mode("overwrite")` (even dynamic-partition overwrite)
  * deletes live partition directories before the replacement lands — a
  * writer crash in that window LOSES committed rows, and at 100 TB the
  * prescribed heal ("rebuild the stage") is a day-long incident. This
  * protocol never mutates a live directory until every byte of the
  * replacement is staged and certified:
  *
  *  1. STAGE: every op's rows are written by Spark into
  *     `root/_COMMIT_STAGE/<i>/` (underscore prefix → invisible to Spark
  *     readers of the stage), with an explicit empty partition dir for
  *     any Replace-affected partition the rewrite emptied (a dynamic
  *     overwrite cannot erase a partition it writes no rows into —
  *     the staged empty dir CAN swap one away);
  *  2. INTENT: `root/_COMMIT` lands via atomic rename, recording every
  *     op (relation, partition column, mode, affected partitions) — the
  *     done-marker certifying the stage is complete;
  *  3. APPLY, idempotently per op per partition: Replace swaps the live
  *     partition dir with the staged one via two atomic same-FS renames
  *     (old parks INTO the stage dir, staged moves into place); Add
  *     moves the staged part-files into the live partition dir (Spark
  *     part-file names are globally unique, so a re-run skips files
  *     already moved);
  *  4. CLEANUP: stage dir, then intent, are deleted.
  *
  * A crash at any point recovers deterministically via [[recover]]:
  * no `_COMMIT` → at worst an orphan stage to discard (live relations
  * untouched — the op never happened); `_COMMIT` present → the stage was
  * complete, so the commit ROLLS FORWARD by re-running the idempotent
  * apply (the op fully happened). There is no torn middle state.
  *
  * Single-writer-at-a-time per `root` is assumed (one `_COMMIT` slot)
  * and enforced by callers via [[WriterLock]]. Readers racing the apply
  * window can see a partition mid-swap; stages whose readers must never
  * race a writer exclude them with their own maintenance-intent marker
  * (the `_APPENDING` discipline), as before.
  */
object Commit {

  /** One relation mutation inside a commit. `rel` is the relation's
    * subdirectory under the stage root ("" when the root itself is the
    * relation, e.g. the dedup signature stage).
    */
  sealed trait Op {
    def rel: String; def partCol: String; def rows: DataFrame
  }

  /** Replace the `affected` integer partitions of `root/rel` with
    * `rows`' partitions: after the commit those directories hold exactly
    * `rows`, including ERASING any affected partition `rows` carries no
    * rows for.
    */
  final case class Replace(rel: String, partCol: String, affected: Seq[Int],
                           rows: DataFrame) extends Op

  /** Append `rows` as new files into their partitions of `root/rel`
    * without touching anything that exists (the LSM-append write,
    * committed: the files only become visible by the post-intent move).
    */
  final case class Add(rel: String, partCol: String,
                       rows: DataFrame) extends Op

  private def stageDir(root: String) = s"$root/_COMMIT_STAGE"
  private def intentFile(root: String) =
    java.nio.file.Paths.get(root, "_COMMIT")

  /** True iff `root` carries an unfinished commit (writer running or
    * crashed mid-apply) — stage readers that must not observe a torn
    * apply refuse on this and prescribe [[recover]].
    */
  def pending(root: String): Boolean =
    java.nio.file.Files.exists(intentFile(root))

  /** Run the full protocol for `ops` against `root`. Each op's `rows`
    * may read from the very directories being replaced: the stage write
    * (step 1) happens strictly before any live directory is touched, so
    * no caller-side localCheckpoint is needed for that.
    */
  def commit(root: String, ops: Seq[Op]): Unit = {
    import java.nio.file.{Files, Paths}
    require(!pending(root),
      s"$root has an unfinished commit (stale _COMMIT intent) — a writer " +
        "crashed mid-apply or is still running; run Commit.recover first")
    val stg = stageDir(root)
    Staging.deleteRec(stg)
    // the STAGE writes run CONCURRENTLY: each op stages into its own
    // `$stg/$i` and only READS live directories (nothing live is touched
    // until the post-intent apply), so overlap changes wall-clock, never
    // the protocol — at micro-batch sizes each write is mostly fixed
    // per-job cost, and a 2-3-op commit was paying it sequentially on
    // every streaming-drain batch. First failure rethrows after all
    // writes settle (a quiesced stage dir for the caller's rollback).
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val staged = ops.zipWithIndex.map { case (op, i) => Future {
        Staging.writePartitioned(op.rows, op.partCol, s"$stg/$i")
        op match {
          case Replace(_, pc, affected, _) =>
            // explicit empty dir for every affected partition the rewrite
            // emptied — swapping it in is how a partition is erased
            affected.foreach { p =>
              val d = Paths.get(s"$stg/$i", s"$pc=$p")
              if (!Files.exists(d)) Files.createDirectories(d)
            }
          case _ => ()
        }
      }}
      val settled = staged.map(f =>
        scala.util.Try(Await.result(f, Duration.Inf)))
      settled.collectFirst { case scala.util.Failure(e) => throw e }
    }
    val lines = "v1" +: ops.zipWithIndex.map { case (op, i) =>
      val mode = op match { case _: Replace => "replace"; case _: Add => "add" }
      val parts = op match {
        case Replace(_, _, affected, _) => affected.mkString(",")
        case _ => "-"
      }
      s"$i\t${op.rel}\t${op.partCol}\t$mode\t$parts"
    }
    Staging.publishText(intentFile(root), lines.mkString("\n"))
    applyIntent(root)
    cleanup(root)
  }

  /** Heal `root` after a crashed writer: a logged commit rolls FORWARD
    * (its intent certifies the stage completed), an orphan stage from a
    * writer that died before logging intent is discarded. Idempotent;
    * a no-op on a healthy root. Callers layer their own artifacts on
    * top (stale writer locks, maintenance-intent markers, LSM-orphan
    * rows) in their stage-specific recover().
    */
  def recover(root: String): Unit = {
    if (pending(root)) {
      applyIntent(root)
      cleanup(root)
    } else Staging.deleteRec(stageDir(root))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_COMMIT_TMP"))
  }

  /** The idempotent apply (step 3), driven from the INTENT file so the
    * crash-recovery path replays exactly what the writer logged.
    */
  private def applyIntent(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    val lines = Files.readString(intentFile(root)).linesIterator.toSeq
    require(lines.headOption.contains("v1"),
      s"$root/_COMMIT has an unrecognized intent layout — refusing to " +
        "recover (a partial roll-forward could drop a partition)")
    lines.tail.foreach { ln =>
      val Array(i, rel, pc, mode, parts) = ln.split("\t", 5)
      val src = Paths.get(stageDir(root), i)
      val dstRoot = if (rel.isEmpty) Paths.get(root) else Paths.get(root, rel)
      mode match {
        case "replace" =>
          parts.split(",").filter(_.nonEmpty).map(_.toInt).foreach { p =>
            val s = src.resolve(s"$pc=$p")
            val d = dstRoot.resolve(s"$pc=$p")
            if (Files.exists(s)) { // already swapped on a re-run → skip
              if (Files.exists(d))
                Files.move(d, src.resolve(s"old_$pc=$p"))
              Files.createDirectories(dstRoot)
              Files.move(s, d)
              // an ERASED partition (explicit empty staged dir) ends as
              // no dir at all, matching a fresh build's layout
              val ls = Files.list(d)
              val empty = try !ls.findFirst().isPresent finally ls.close()
              if (empty) Files.delete(d)
            }
          }
        case "add" =>
          if (Files.exists(src)) {
            val dirs = Files.list(src)
            try dirs.filter(p => p.getFileName.toString.startsWith(s"$pc="))
              .forEach { pdir =>
                val d = dstRoot.resolve(pdir.getFileName.toString)
                Files.createDirectories(d)
                val files = Files.list(pdir)
                try files
                  .filter(f => !f.getFileName.toString.startsWith("_") &&
                    !f.getFileName.toString.startsWith("."))
                  .forEach(f => Files.move(f, d.resolve(f.getFileName.toString)))
                finally files.close()
              }
            finally dirs.close()
          }
      }
    }
  }

  private def cleanup(root: String): Unit = {
    Staging.deleteRec(stageDir(root))
    java.nio.file.Files.deleteIfExists(intentFile(root))
  }
}

/** WRITER EXCLUSION shared by every persisted stage's mutators (the
  * VectorStore `_WRITER_LOCK` discipline, factored out): an exclusive
  * lock acquired with an atomic create-if-absent; a second writer
  * REFUSES immediately with a clean error (no queueing — the caller owns
  * retry policy, and a refused writer has done zero staging work),
  * instead of the accidental uncaught FileAlreadyExistsException two
  * colliding intent-marker creates used to throw. The lock body carries
  * pid + timestamp; a holder that died lock-in-hand leaves a stale lock
  * which [[clearStale]] (called from each stage's recover) removes after
  * CHECKING the pid is actually dead — a live pid means the writer is
  * slow, not crashed, and clearing would defeat the exclusion.
  */
object WriterLock {
  private def lockFile(root: String) =
    java.nio.file.Paths.get(root, "_WRITER_LOCK")

  def withLock[T](root: String)(body: => T): T = {
    import java.nio.file.Files
    val lock = lockFile(root)
    try Files.createFile(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$root is being written by another writer (_WRITER_LOCK held) — " +
            "refusing (single-writer-at-a-time stage); retry after it " +
            "finishes, or run the stage's recover() if its holder crashed")
    }
    try {
      Files.writeString(lock,
        s"${ProcessHandle.current.pid}@${System.currentTimeMillis}")
      body
    } finally Files.deleteIfExists(lock)
  }

  /** Remove a stale lock; refuse if its recorded pid is still alive
    * (same-host best effort). A lock with no parseable pid is treated
    * as stale.
    */
  def clearStale(root: String): Unit = {
    import java.nio.file.Files
    val lock = lockFile(root)
    if (Files.exists(lock)) {
      val holderPid = scala.util.Try(
        new String(Files.readAllBytes(lock), "UTF-8")
          .takeWhile(_ != '@').trim.toLong).toOption
      val holderAlive = holderPid.exists { p =>
        val h = ProcessHandle.of(p)
        h.isPresent && h.get.isAlive
      }
      if (holderAlive) throw new IllegalStateException(
        s"$root/_WRITER_LOCK is held by LIVE process ${holderPid.get} — " +
          "refusing to clear it (the writer may be slow, not crashed); " +
          "wait for it to finish or stop it before running recover")
      Files.deleteIfExists(lock)
    }
  }
}
