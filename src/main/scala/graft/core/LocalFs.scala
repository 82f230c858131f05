package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes. Without
  * `libhadoop.so` (any pip or tarball Spark) `RawLocalFileSystem` forks
  * `chmod` for every permission it sets — each file it creates (data,
  * `.crc`, checkpoint temp files) and each directory — and `readlink`
  * for every `getFileLinkStatus`, which `FileContext.rename` calls on
  * both ends of every checkpoint commit. Those forks run on the
  * stream-execution thread and inside state-store commits (~4 ms each).
  *
  * This subclass answers both from `java.nio`, and falls back to the
  * stock code wherever the answers could differ:
  * - [[setPermission]] sets the nine mode bits with
  *   `Files.setPosixFilePermissions` (follows links, like `chmod`); a
  *   sticky bit, or a platform without POSIX attributes, goes to `super`.
  * - [[getFileLinkStatus]] asks `Files.isSymbolicLink` about the very
  *   string the stock code hands to `readlink`, `f.toString`. For a
  *   qualified `file:/…` path that names no file, so both say "not a
  *   link" and return `getFileStatus(f)` (same status, same
  *   `FileNotFoundException`); a real link goes to `super`.
  *
  * [[LocalFs.install]] puts it behind the `file:` scheme only, through
  * the same two wrappers Hadoop uses for its own ([[ForkFreeLocalFileSystem]]
  * for `FileSystem`, [[ForkFreeLocalFs]] for `FileContext`), so the
  * checksums, the bytes written and Spark's rename-with-overwrite
  * checkpoint commit stay as they are. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFs.Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.modeBits(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = try Files.isSymbolicLink(Paths.get(f.toString))
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` opens): Hadoop's
  * `LocalFs` with the fork-free raw filesystem inside. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private there) over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  /** The Hadoop keys that pick the `file:` implementations, and ours. */
  val Impl: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  private[core] val Posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `rwxrwxrwx` bits of a mode; `PosixFilePermission` lists them from
    * owner-read (0400) down to others-execute (0001). */
  private[core] def modeBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) bits.add(b)
    }
    bits
  }

  /** Put the fork-free classes behind `file:` in a live conf (idempotent),
    * then [[evictStale]]. */
  def install(conf: Configuration): Unit = {
    Impl.foreach { case (k, v) => conf.set(k, v) }
    evictStale(conf)
  }

  /** `FileSystem.get` caches one `file:` instance per JVM whatever the conf
    * says; close one whose class `conf` no longer names, so the next `get`
    * builds the configured one. Closing a local filesystem uncaches it and
    * runs its delete-on-exit list; holders of the old instance can still
    * use it. `FileContext` keeps no cache. */
  def evictStale(conf: Configuration): Unit = {
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    if (fs.getClass != FileSystem.getFileSystemClass("file", conf)) fs.close()
  }

  /** The class behind `file:` for `conf`, as `FileSystem.get` returns it. */
  def className(conf: Configuration): String =
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).getClass.getName
}
