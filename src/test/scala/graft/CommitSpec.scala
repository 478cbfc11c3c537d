package graft

import org.apache.spark.sql.functions._

import graft.tables.{Commit, WriterLock}

/** The crash-safe staged partition-commit protocol every persisted
  * stage's rewriting maintenance rides on (graft.tables.Commit) and the
  * shared writer-exclusion lock. Crash states are injected by building
  * the exact on-disk artifacts a writer leaves at each boundary and
  * asserting recover() lands on a committed state — never a torn one.
  */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def mkRel(root: String, rel: String, rows: Seq[(Long, Int)]): Unit =
    rows.toDF("v", "p").repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(
        if (rel.isEmpty) root else s"$root/$rel")

  private def readRel(root: String, rel: String): Set[(Long, Int)] =
    spark.read.parquet(if (rel.isEmpty) root else s"$root/$rel")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("commit: Replace rewrites exactly the affected partitions " +
      "(including erasing an emptied one), Add only adds") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmt").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1), (3L, 2)))
    mkRel(root, "b", Seq((10L, 0)))
    Commit.commit(root, Seq(
      // p=1 gets a new row, p=2 is ERASED (no rows for it), p=0 untouched
      Commit.Replace("a", "p", Seq(1, 2), Seq((20L, 1)).toDF("v", "p")),
      Commit.Add("b", "p", Seq((11L, 0), (12L, 3)).toDF("v", "p"))))
    assert(readRel(root, "a") == Set((1L, 0), (20L, 1)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "a", "p=2")), "emptied partition erased")
    assert(readRel(root, "b") == Set((10L, 0), (11L, 0), (12L, 3)))
    assert(!Commit.pending(root))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_COMMIT_STAGE")))
  }

  test("commit: a failing op among CONCURRENT staging writes leaves " +
      "live relations untouched and no intent — the op never happened") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmtf").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1)))
    mkRel(root, "b", Seq((10L, 0)))
    val boom = udf((v: Long) =>
      if (v == 99L) throw new RuntimeException("staging boom") else v)
    val e = intercept[Exception] {
      Commit.commit(root, Seq(
        Commit.Replace("a", "p", Seq(0, 1), Seq((20L, 0)).toDF("v", "p")),
        Commit.Add("b", "p", Seq((99L, 0)).toDF("v", "p")
          .select(boom(col("v")).as("v"), col("p")))))
    }
    assert(e.getMessage != null)
    // every write settled before the rethrow: live dirs exactly as
    // before, no _COMMIT intent, and recover() discards the orphan stage
    assert(readRel(root, "a") == Set((1L, 0), (2L, 1)))
    assert(readRel(root, "b") == Set((10L, 0)))
    assert(!Commit.pending(root))
    Commit.recover(root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_COMMIT_STAGE")))
    assert(readRel(root, "a") == Set((1L, 0), (2L, 1)))
  }

  test("recover: a logged commit rolls FORWARD (stage certified by the " +
      "intent), idempotently, even from a partially applied state") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmt_rf").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1)))
    // build the exact crashed-writer state: staged rewrite + intent, no
    // apply — writer died right after the atomic intent rename
    mkRel(s"$root/_COMMIT_STAGE", "0", Seq((9L, 0), (8L, 1)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_COMMIT"), "v1\n0\ta\tp\treplace\t0,1")
    assert(Commit.pending(root))
    Commit.recover(root)
    assert(readRel(root, "a") == Set((9L, 0), (8L, 1)))
    assert(!Commit.pending(root))
    // idempotent: a second recover is a no-op
    Commit.recover(root)
    assert(readRel(root, "a") == Set((9L, 0), (8L, 1)))
  }

  test("recover: an intent in the five-field v1 layout (no park field) " +
      "still rolls forward, Replace and Add alike") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmt_v1").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1)))
    mkRel(root, "b", Seq((10L, 0)))
    mkRel(s"$root/_COMMIT_STAGE", "0", Seq((9L, 0)))
    mkRel(s"$root/_COMMIT_STAGE", "1", Seq((11L, 3)))
    // p=1 was emptied by the rewrite: its staged dir is the empty one
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "_COMMIT_STAGE", "0", "p=1"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_COMMIT"),
      "v1\n0\ta\tp\treplace\t0,1\n1\tb\tp\tadd\t-")
    Commit.recover(root)
    assert(readRel(root, "a") == Set((9L, 0)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "a", "p=1")))
    assert(readRel(root, "b") == Set((10L, 0), (11L, 3)))
    assert(!Commit.pending(root))
  }

  test("commit: Replace with a park dir keeps every replaced partition " +
      "there; a partition born at the commit parks empty, and a re-run " +
      "does not park twice") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_cmt_park").toString
    mkRel(root, "", Seq((1L, 0), (2L, 1)))
    Commit.stageAndLog(root, Seq(Commit.Replace("", "p", Seq(1, 2),
      Seq((20L, 1), (30L, 2)).toDF("v", "p"), Some("_hist/1"))))
    // the writer dies after applying p=1 only; recover finishes p=2
    Files.createDirectories(Paths.get(root, "_hist", "1"))
    Files.move(Paths.get(root, "p=1"), Paths.get(root, "_hist", "1", "p=1"))
    Files.move(Paths.get(root, "_COMMIT_STAGE", "0", "p=1"),
      Paths.get(root, "p=1"))
    Commit.recover(root)
    assert(readRel(root, "") == Set((1L, 0), (20L, 1), (30L, 2)))
    assert(spark.read.parquet(s"$root/_hist/1/p=1").count() == 1,
      "the replaced partition is parked once, with its old rows")
    val born = Paths.get(root, "_hist", "1", "p=2")
    assert(Files.isDirectory(born) && Files.list(born).count() == 0,
      "a partition born at the commit parks as an empty dir")
    assert(!Files.exists(Paths.get(root, "_hist", "1", "p=0")))
    assert(!Commit.pending(root))
  }

  test("commit: refuses to start over a pending intent with " +
      "IllegalStateException, leaving the crashed writer's stage intact") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_cmt_pend").toString
    mkRel(root, "a", Seq((1L, 0)))
    mkRel(s"$root/_COMMIT_STAGE", "0", Seq((9L, 0)))
    Files.writeString(Paths.get(root, "_COMMIT"), "v1\n0\ta\tp\treplace\t0")
    val e = intercept[IllegalStateException] {
      Commit.commit(root, Seq(
        Commit.Replace("a", "p", Seq(0), Seq((5L, 0)).toDF("v", "p"))))
    }
    assert(e.getMessage.contains("recover"))
    assert(readRel(s"$root/_COMMIT_STAGE", "0") == Set((9L, 0)))
    assert(readRel(root, "a") == Set((1L, 0)))
    Commit.recover(root)
    assert(readRel(root, "a") == Set((9L, 0)))
  }

  test("recover: an orphan stage WITHOUT intent is discarded — the " +
      "operation never happened, live relations untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmt_rb").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1)))
    mkRel(s"$root/_COMMIT_STAGE", "0", Seq((9L, 0)))
    Commit.recover(root)
    assert(readRel(root, "a") == Set((1L, 0), (2L, 1)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_COMMIT_STAGE")))
  }

  test("recover: a crash with CONCURRENT staging futures in flight — " +
      "some ops fully staged, one mid-write, one never started — " +
      "restores the pre-commit state byte-for-byte") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_cmt_cc").toString
    mkRel(root, "a", Seq((1L, 0), (2L, 1)))
    mkRel(root, "b", Seq((10L, 0)))
    mkRel(root, "c", Seq((7L, 2)))
    // byte-level snapshot of every live relation's files
    def snapshot(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val r = Paths.get(root)
      Files.walk(r).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => r.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
        .toMap
    }
    val before = snapshot()
    // the exact disk state a crash mid-staging leaves: staging runs the
    // ops on concurrent futures (Commit.commit), so at the crash point
    // op 0 is fully staged, op 1 is MID-WRITE (a _temporary task dir and
    // an orphan part file, no parquet footer committed), and op 2's
    // future never got a slot — and because the intent file is written
    // only after ALL writes settle, no _COMMIT exists
    mkRel(s"$root/_COMMIT_STAGE", "0", Seq((9L, 0), (8L, 1)))
    val partial = Paths.get(root, "_COMMIT_STAGE", "1", "p=0")
    Files.createDirectories(partial)
    Files.writeString(partial.resolve(
      "part-00000-dead.snappy.parquet"), "torn half-written bytes")
    Files.createDirectories(
      Paths.get(root, "_COMMIT_STAGE", "1", "_temporary", "0"))
    assert(!Commit.pending(root), "no intent ⇒ the commit never happened")
    Commit.recover(root)
    // the orphan stage (complete, partial and absent op dirs alike) is
    // discarded whole; every live byte is exactly pre-commit
    assert(!Files.exists(Paths.get(root, "_COMMIT_STAGE")))
    assert(snapshot() == before,
      "recover must not touch a single live byte")
    assert(readRel(root, "a") == Set((1L, 0), (2L, 1)))
    assert(readRel(root, "b") == Set((10L, 0)))
    assert(readRel(root, "c") == Set((7L, 2)))
    // and the protocol is immediately reusable: the same logical commit
    // re-runs clean after recovery
    Commit.commit(root, Seq(
      Commit.Replace("a", "p", Seq(0, 1), Seq((9L, 0), (8L, 1)).toDF("v", "p")),
      Commit.Add("b", "p", Seq((11L, 3)).toDF("v", "p")),
      Commit.Add("c", "p", Seq((12L, 4)).toDF("v", "p"))))
    assert(readRel(root, "a") == Set((9L, 0), (8L, 1)))
    assert(readRel(root, "b") == Set((10L, 0), (11L, 3)))
    assert(readRel(root, "c") == Set((7L, 2), (12L, 4)))
  }

  test("a second writer is refused while the lock is held; a stale lock " +
      "of a dead pid clears, a live pid's does not") {
    val root = java.nio.file.Files.createTempDirectory("graft_lock").toString
    WriterLock.withLock(root) {
      val e = intercept[IllegalStateException] {
        WriterLock.withLock(root)(fail("second writer must not enter"))
      }
      assert(e.getMessage.contains("_WRITER_LOCK"))
    }
    // released on exit — a new writer enters fine
    WriterLock.withLock(root)(())
    // stale lock with a dead pid: clearStale removes it
    val lock = java.nio.file.Paths.get(root, "_WRITER_LOCK")
    java.nio.file.Files.writeString(lock, "999999999@0")
    WriterLock.clearStale(root)
    assert(!java.nio.file.Files.exists(lock))
    // live pid (our own): clearStale refuses
    java.nio.file.Files.writeString(lock,
      s"${ProcessHandle.current.pid}@0")
    intercept[IllegalStateException](WriterLock.clearStale(root))
    java.nio.file.Files.delete(lock)
  }
}
