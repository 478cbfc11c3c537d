package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.streaming.Streaming
import graft.tables.{ForkFreeFileSystem, ForkFreeFs, ForkFreeRawFileSystem, LocalFs}

/** The fork-free `file:` filesystem (graft.tables.LocalFs): same bits on
  * disk and same answers as Hadoop's local filesystem, installed by
  * `Streaming.streamSession`, and no process started by a drain.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): JPath =
    Files.createTempDirectory(s"graft_localfs_$tag")

  /** Hadoop's own checksummed local filesystem and the engine's, both
    * uncached and initialised from `conf`.
    */
  private def bothFs(conf: Configuration): Seq[FileSystem] = {
    val hadoop = new LocalFileSystem()
    hadoop.initialize(URI.create("file:///"), conf)
    val engine = new ForkFreeFileSystem()
    engine.initialize(URI.create("file:///"), conf)
    Seq(hadoop, engine)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0x3ff

  test("files and dirs created through the engine FS get the same " +
      "permission bits as through Hadoop's, under the same umask") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val root = tmpDir(s"perm$umask")
      val modes = bothFs(conf).zipWithIndex.map { case (fs, i) =>
        val dir = root.resolve(s"fs$i")
        assert(fs.mkdirs(new Path(dir.toUri.toString + "/a/b")))
        val out = fs.create(new Path(dir.toUri.toString + "/a/b/f.bin"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        // an explicit permission on create goes through setPermission too
        val out2 = fs.create(new Path(dir.toUri.toString + "/g.bin"),
          new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
        out2.close()
        Seq("a", "a/b", "a/b/f.bin", "a/b/.f.bin.crc", "g.bin", ".g.bin.crc")
          .map(rel => rel -> mode(dir.resolve(rel)))
      }
      assert(modes(1) == modes(0), s"umask $umask")
      assert(modes(0).toMap.apply("a/b/f.bin") ==
        (Integer.parseInt("666", 8) & ~Integer.parseInt(umask, 8)))
    }
  }

  test("getFileLinkStatus agrees with Hadoop's on a file, a dir, a " +
      "symlink, a dangling symlink and a missing path") {
    val root = tmpDir("link")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("x"), root.resolve("gone"))
    // a status's observable fields, or the exception class Hadoop throws
    def outcome(fs: FileSystem, p: Path): Any =
      scala.util.Try(fs.getFileLinkStatus(p)).map(s =>
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime))
        .recover { case e: java.io.IOException => e.getClass }.get
    val Seq(hadoop, engine) = bothFs(new Configuration())
    val missing = root.resolve("missing")
    // both path forms: Hadoop only detects a link through a scheme-less path
    def forms(p: JPath) = Seq(new Path(p.toUri), new Path(p.toString))
    for (p <- Seq(file, dir, link, dangling, missing); hp <- forms(p))
      assert(outcome(engine, hp) == outcome(hadoop, hp), hp.toString)
    assert(engine.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(engine.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(outcome(engine, new Path(missing.toString)) == classOf[FileNotFoundException])
  }

  test("a sticky-bit permission takes Hadoop's fallback") {
    val dir = tmpDir("sticky")
    val fs = new ForkFreeRawFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    // java.nio cannot set the sticky bit, so only the fallback yields it
    assert(mode(dir) == Integer.parseInt("1777", 8))
    fs.setPermission(new Path(dir.toUri), new FsPermission("750"))
    assert(mode(dir) == Integer.parseInt("750", 8))
  }

  test("a streamSession's Hadoop conf resolves FileSystem.get and " +
      "FileContext for file: to the engine classes; the caller's conf " +
      "is untouched") {
    val hc = Streaming.streamSession(spark).sessionState.newHadoopConf()
    val uri = URI.create("file:///")
    assert(FileSystem.get(uri, hc).isInstanceOf[ForkFreeFileSystem])
    assert(FileSystem.getLocal(hc).isInstanceOf[ForkFreeFileSystem])
    assert(AbstractFileSystem.get(uri, hc).isInstanceOf[ForkFreeFs])
    assert(FileContext.getFileContext(uri, hc).getDefaultFileSystem
      .isInstanceOf[ForkFreeFs])
    // streamSession sets the confs on its clone only: the caller's SQL
    // conf still lacks them, so over Hadoop's defaults (what a session
    // built without the engine's `spark.hadoop.` confs starts from) the
    // caller's settings resolve to Hadoop's own classes
    LocalFs.confs.foreach { case (k, _) => assert(spark.conf.getOption(k).isEmpty, k) }
    val caller = new Configuration()
    spark.conf.getAll.foreach { case (k, v) => caller.set(k, v) }
    caller.setBoolean("fs.file.impl.disable.cache", true)
    assert(!FileSystem.get(uri, caller).isInstanceOf[ForkFreeFileSystem])
    assert(AbstractFileSystem.get(uri, caller).getClass ==
      classOf[org.apache.hadoop.fs.local.LocalFs])
  }

  /** Summed task `bytesWritten` of the jobs `body` runs. */
  private def bytesWrittenBy(body: => Unit): Long = {
    val group = s"localfs-spec-${java.util.UUID.randomUUID}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          started.add(e.jobId)
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "LocalFsSpec")
      try body finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    assert(!started.isEmpty)
    bytes.get
  }

  test("task bytesWritten still counts writes through the engine FS") {
    val s = Streaming.streamSession(spark)
    val out = tmpDir("bytes").resolve("t").toString
    val written = bytesWrittenBy {
      s.range(0, 5000).select(col("id"), (col("id") * 7).cast("string").as("v"))
        .write.parquet(out)
    }
    val onDisk = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    assert(onDisk > 0)
    assert(written >= onDisk, s"bytesWritten $written < parquet bytes $onDisk")
  }

  /** Process starts, as `jdk.ProcessStart` events of an in-process JFR
    * recording, while `body` runs: "command on thread" each. Two kinds
    * of background thread that `body` does not drive are left out:
    * Spark's heartbeat threads, whose metrics poller runs
    * `getconf PAGESIZE` once per JVM, and the JDK's `Cleaner-N` threads,
    * where Spark removes an unreachable session's artifact directory
    * with `rm -rf` after some later GC.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => (e.getString("command"), e.getThread.getJavaName))
        .filterNot { case (_, t) => t.endsWith("-heartbeater") || t.startsWith("Cleaner-") }
        .map { case (c, t) => s"$c on $t" }
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** Process starts during a 2-batch growing-gate drain on `s`: a
    * reference stage of one doc and two one-file micro-batches.
    */
  private def gateDrainStarts(s: SparkSession, tag: String): Seq[String] = {
    val root = tmpDir(tag)
    val ref = root.resolve("sigs").toString
    graft.operators.Dedup.stageMinhashSignatures(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("id", "text"),
      col("id"), col("text"), ref)
    val src = Streaming.stageSlicesSource(Seq(
      Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (11L, "one two three four five six seven eight")).toDF("id", "text"),
      Seq((20L, "one two three four five six seven eight nine")).toDF("id", "text")),
      root.resolve("src").toString)
    val stream = s.readStream.schema(Seq((0L, "")).toDF("id", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    processStarts {
      val st = Streaming.drainDedupGateGrowing(stream, ref, s"localfs_$tag", 0.5)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st == Map(10L -> "rejected", 11L -> "accepted", 20L -> "rejected"))
    }
  }

  test("a 2-batch growing-gate drain on a streamSession starts no " +
      "process; with Hadoop's local FS in its place it does") {
    val engine = gateDrainStarts(Streaming.streamSession(spark), "engine")
    assert(engine.isEmpty, engine.mkString("\n"))
    // mutation: the same drain with the confs replaced by Hadoop's classes
    val hadoop = Streaming.streamSession(spark)
    hadoop.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    hadoop.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val forked = gateDrainStarts(hadoop, "hadoop")
    // with its native library Hadoop would not fork for chmod either
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(forked.nonEmpty, "Hadoop's local FS forks without its native library")
  }
}
