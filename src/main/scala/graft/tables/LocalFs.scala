package graft.tables

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without the per-call process forks.
  *
  * Without its native library, Hadoop's `RawLocalFileSystem` forks a
  * `chmod` for every file create and mkdir and a `readlink` for every
  * link-status probe (each `FileContext.rename`), which is how streaming
  * offset/commit logs and state-store deltas are published. Measured per
  * op: create + close (with `.crc`) 8–10 ms → 1.3 ms, mkdir 7–10 ms →
  * 0.1 ms, `FileContext.rename` 27–34 ms → 0.4 ms. [[ForkFreeRawFileSystem]]
  * does the same two operations through `java.nio`; everything else,
  * `.crc` checksums included, is Hadoop's own code, so layouts stay
  * byte-identical.
  *
  * [[confs]] installs it for `file:` in a session's Hadoop confs, both
  * for `FileSystem.get` and for `FileContext`. `fs.file.impl.disable.cache`
  * is part of the set because Hadoop's JVM-wide `FileSystem` cache is keyed
  * by scheme and user, not by conf: by the time a session sets these,
  * the cache already holds Hadoop's own instance for `file:`, and a cached
  * `get` would keep returning it. Uncached, each `get` builds a fresh
  * instance (0.018 ms against 0.009 ms cached). No `file:` path in the
  * engine relies on the cached instance's `close` or `deleteOnExit`:
  * staged layouts and stream checkpoints are deleted explicitly.
  */
object LocalFs {
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeFs].getName)

  /** [[confs]] as `spark.hadoop.` settings for a new SparkSession's
    * config: the SparkContext's own Hadoop conf, and so every session on
    * it, then uses the fork-free filesystem.
    */
  val sparkConfs: Map[String, String] =
    confs.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap
}

/** `RawLocalFileSystem` whose chmod and non-link status probe stay in the
  * JVM. A sticky bit (which `java.nio` cannot set) and real symlinks fall
  * back to Hadoop's implementation.
  */
class ForkFreeRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = new java.util.HashSet[PosixFilePermission]()
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, mode bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  // Hadoop's non-link branch returns exactly getFileStatus
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` `FileSystem` over [[ForkFreeRawFileSystem]]. */
class ForkFreeFileSystem extends LocalFileSystem(new ForkFreeRawFileSystem)

/** The `file:` `AbstractFileSystem` (what `FileContext` uses) over
  * [[ForkFreeRawFileSystem]], checksummed like Hadoop's `LocalFs`.
  * `(uri, conf)` is the constructor Hadoop instantiates; like `LocalFs`
  * it always serves `file:///`.
  */
class ForkFreeFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawFileSystem]], with its port and name overrides.
  */
private class ForkFreeRawFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as in Hadoop's RawLocalFs", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
