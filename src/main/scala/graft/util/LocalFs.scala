package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free `file://` I/O. Without libhadoop (`NativeIO.isAvailable`
  * false) Hadoop's `RawLocalFileSystem` forks a `chmod` process for every
  * file and directory it creates (`setPermission`) and a `readlink` for
  * each link-status check a FileContext rename makes
  * (`getFileLinkStatus`): ~2.6 ms a call, against ~0.02 ms for the
  * java.nio calls here (200 files each way on a 4-core box). Compaction,
  * snapshot and delete ops fork hundreds of these per run, and a stream's
  * checkpoint and state-store commits fork on every micro-batch.
  *
  * [[install]] binds `file://` to these classes in a Hadoop conf:
  *  - [[NioLocalFileSystem]] for the FileSystem API: the checksummed
  *    `LocalFileSystem` (`.crc` sidecars verified on read) over
  *    [[NioRawLocalFileSystem]], with the no-clobber rename of Hive's
  *    `ProxyLocalFileSystem`, which Hadoop's service loader binds to
  *    `file` when Spark's Hive jars are on the classpath;
  *  - [[NioLocalFs]] for FileContext (streaming checkpoints and state
  *    stores): a `ChecksumFs` over [[NioRawLocalFs]], as Hadoop's
  *    `local.LocalFs` is over `local.RawLocalFs`. Spark's
  *    `CheckpointFileManager.isLocal` tests for those two classes and so
  *    reads false here; no Spark 4.1 code path consults it.
  *
  * Everything else — layouts, checksums, commit protocols — is Hadoop's
  * own code. `plans.GraftExtensions` installs the binding on the
  * SparkContext's Hadoop conf before the session caches a FileSystem
  * (`FileSystem.CACHE` keys on scheme and user, not on the conf).
  */
object LocalFs {
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
  }

  // PosixFilePermission.values is ordered OWNER_READ .. OTHERS_EXECUTE,
  // i.e. mode bits 0400 down to 0001
  private[util] def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (1 << (8 - i))) != 0 => p }
      .toSet.asJava
}

/** `RawLocalFileSystem` with java.nio permission and link checks. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** java.nio chmod; only sticky (and any higher) bits, which java.nio
    * cannot set, go through Hadoop's `chmod` process. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
  }

  /** For anything but a symlink Hadoop's answer is `getFileStatus` after
    * an empty `readlink`; symlinks keep Hadoop's own path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed FileSystem-API binding of `file://`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  /** A rename onto an existing file fails and leaves both files. */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** FileContext's raw `file://` binding, as Hadoop's `local.RawLocalFs`. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** FileContext's checksummed `file://` binding, as Hadoop's `local.LocalFs`
  * (which ignores the URI it is given as well). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))
