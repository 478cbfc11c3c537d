package graft.tables

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

/** Crash-safe multi-relation partition commit — the ONE write protocol
  * every persisted stage's REWRITING maintenance uses (vector store,
  * graph-ANN, IVF, signature stage, and the compaction passes of the
  * postings/window stages).
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
  *     op (relation, partition column, mode, affected partitions, park
  *     dir) — the done-marker certifying the stage is complete;
  *  3. APPLY, idempotently per op per partition: Replace swaps the live
  *     partition dir with the staged one via two atomic same-FS renames
  *     (old parks INTO the stage dir — or into the op's `park` dir, where
  *     it outlives the commit — and staged moves into place); Add moves
  *     the staged part-files into the live partition dir (Spark part-file
  *     names are globally unique, so a re-run skips files already moved);
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
  * race a writer exclude them with the maintenance-intent marker
  * ([[beginMaintenance]]).
  */
object Commit {

  /** One relation mutation inside a commit. `rel` is the relation's
    * subdirectory under the stage root ("" when the root itself is the
    * relation, e.g. the dedup signature stage or the vector store).
    */
  sealed trait Op {
    def rel: String; def partCol: String; def rows: DataFrame
  }

  /** Replace the `affected` integer partitions of `root/rel` with
    * `rows`' partitions: after the commit those directories hold exactly
    * `rows`, including ERASING any affected partition `rows` carries no
    * rows for. With `park` (a dir relative to `root`), every replaced
    * partition dir is kept there instead of deleted — an affected
    * partition that did not exist parks as an empty dir, and one already
    * parked is not parked again — which is how a versioned vector store
    * keeps `_history/<n>`.
    */
  final case class Replace(rel: String, partCol: String, affected: Seq[Int],
                           rows: DataFrame,
                           park: Option[String] = None) extends Op

  /** Append `rows` as new files into their partitions of `root/rel`
    * without touching anything that exists (the LSM-append write,
    * committed: the files only become visible by the post-intent move).
    */
  final case class Add(rel: String, partCol: String,
                       rows: DataFrame) extends Op

  private def stageDir(root: String) = s"$root/_COMMIT_STAGE"
  private def intentFile(root: String) = Paths.get(root, "_COMMIT")

  /** True iff `root` carries an unfinished commit (writer running or
    * crashed mid-apply) — stage readers that must not observe a torn
    * apply refuse on this and prescribe [[recover]].
    */
  def pending(root: String): Boolean = Files.exists(intentFile(root))

  /** Refuse to start a write over an unfinished commit — checked before
    * any staging work, so the crashed writer's certified stage survives
    * for the recover() this prescribes.
    */
  def requireNoPending(root: String): Unit =
    if (pending(root)) throw new IllegalStateException(
      s"$root has an unfinished commit (stale _COMMIT intent) — a writer " +
        "crashed mid-apply or is still running; run the stage's recover " +
        "first")

  // ---- the maintenance-intent marker ----
  //
  // `_APPENDING` brackets a stage's whole maintenance pass (often several
  // commits, or writes a later marker rename makes visible): created
  // before the first write, deleted after the last — never in a
  // `finally`, so a crashed pass leaves it behind, readers refuse on it,
  // and the stage's recover() heals and clears it.

  private def markerFile(root: String) = Paths.get(root, "_APPENDING")

  def beginMaintenance(root: String): Unit = Files.createFile(markerFile(root))

  def endMaintenance(root: String): Unit = Files.deleteIfExists(markerFile(root))

  /** True iff a maintenance pass on `root` started and has not finished. */
  def maintenanceMarked(root: String): Boolean = Files.exists(markerFile(root))

  /** True iff readers must refuse `root`: unfinished maintenance or an
    * unfinished commit.
    */
  def maintenancePending(root: String): Boolean =
    maintenanceMarked(root) || pending(root)

  /** Run the full protocol for `ops` against `root`. Each op's `rows`
    * may read from the very directories being replaced: the stage write
    * (step 1) happens strictly before any live directory is touched, so
    * no caller-side localCheckpoint is needed for that.
    */
  def commit(root: String, ops: Seq[Op]): Unit = {
    stageAndLog(root, ops)
    applyIntent(root)
    cleanup(root)
  }

  /** Steps 1-2 alone: the state a writer that dies right after logging
    * its intent leaves behind (crash specs start from it).
    */
  private[graft] def stageAndLog(root: String, ops: Seq[Op]): Unit = {
    requireNoPending(root)
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
          case Replace(_, pc, affected, _, _) =>
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
    publishIntent(root, ops.zipWithIndex.map {
      case (Replace(rel, pc, affected, _, park), i) =>
        intentLine(i, rel, pc, "replace", affected.mkString(","), park)
      case (Add(rel, pc, _), i) => intentLine(i, rel, pc, "add", "-", None)
    })
  }

  /** Intent layout `v2`: one tab-separated line per op — index,
    * relation, partition column, mode, affected partitions, park dir
    * ("" for none). A `v1` intent is the same without the park field.
    */
  private def intentLine(i: Int, rel: String, pc: String, mode: String,
                         parts: String, park: Option[String]): String =
    Seq(i.toString, rel, pc, mode, parts, park.getOrElse("")).mkString("\t")

  private def publishIntent(root: String, lines: Seq[String]): Unit =
    Staging.publishText(intentFile(root), ("v2" +: lines).mkString("\n"))

  /** Log, as `root`'s pending commit, one Replace that an older protocol
    * staged at `staged` and certified with an intent of its own in the
    * same `_COMMIT` slot (the vector store's pre-Commit writers): the
    * stage moves into op 0's slot, then this protocol's intent is
    * published over the old one, after which [[recover]] rolls it
    * forward. Running it again after a crash between the two steps is
    * safe: a stage already moved is not looked for again.
    */
  def adoptReplace(root: String, staged: Path, rel: String, partCol: String,
                   affected: Seq[Int], park: Option[String]): Unit = {
    if (Files.exists(staged)) {
      Staging.deleteRec(stageDir(root))
      Files.createDirectories(Paths.get(stageDir(root)))
      Staging.moveFile(staged, Paths.get(stageDir(root), "0"))
    }
    publishIntent(root, Seq(intentLine(0, rel, partCol, "replace",
      affected.mkString(","), park)))
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
    Files.deleteIfExists(Paths.get(root, "_COMMIT_TMP"))
  }

  /** The idempotent apply (step 3), driven from the INTENT file so the
    * crash-recovery path replays exactly what the writer logged.
    */
  private def applyIntent(root: String): Unit = {
    val lines = Files.readString(intentFile(root)).linesIterator.toSeq
    if (!lines.headOption.exists(h => h == "v1" || h == "v2"))
      throw new IllegalStateException(s"$root/_COMMIT has an unrecognized " +
        "intent layout — refusing to recover (a partial roll-forward " +
        "could drop a partition)")
    lines.tail.foreach { ln =>
      val f = ln.split("\t", -1)
      val (i, rel, pc, mode, parts) = (f(0), f(1), f(2), f(3), f(4))
      val park = f.lift(5).filter(_.nonEmpty).map(Paths.get(root, _))
      val src = Paths.get(stageDir(root), i)
      val dstRoot = if (rel.isEmpty) Paths.get(root) else Paths.get(root, rel)
      mode match {
        case "replace" =>
          park.foreach(Files.createDirectories(_))
          parts.split(",").filter(_.nonEmpty).map(_.toInt).foreach { p =>
            val s = src.resolve(s"$pc=$p")
            val d = dstRoot.resolve(s"$pc=$p")
            if (Files.exists(s)) { // already swapped on a re-run → skip
              park.map(_.resolve(s"$pc=$p")) match {
                // parked once: a re-run after the park keeps the first copy
                case Some(pk) => if (!Files.exists(pk)) {
                  if (Files.exists(d)) Files.move(d, pk)
                  else Files.createDirectories(pk) // born at this commit
                }
                case None =>
                  if (Files.exists(d)) Files.move(d, src.resolve(s"old_$pc=$p"))
              }
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
    Files.deleteIfExists(intentFile(root))
  }
}

/** WRITER EXCLUSION shared by every persisted stage's mutators: an
  * exclusive `_WRITER_LOCK` acquired with an atomic create-if-absent; a
  * second writer REFUSES immediately with a clean error (no queueing —
  * the caller owns retry policy, and a refused writer has done zero
  * staging work), instead of the accidental uncaught
  * FileAlreadyExistsException two colliding intent-marker creates used
  * to throw. The lock body carries pid + timestamp; a holder that died
  * lock-in-hand leaves a stale lock which [[clearStale]] (called from
  * each stage's recover) removes after CHECKING the pid is actually
  * dead — a live pid means the writer is slow, not crashed, and
  * clearing would defeat the exclusion.
  */
object WriterLock {
  private def lockFile(root: String) =
    java.nio.file.Paths.get(root, "_WRITER_LOCK")

  /** True iff a writer holds the lock (or died holding it). */
  def held(root: String): Boolean = java.nio.file.Files.exists(lockFile(root))

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
