package graft.sources

import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two process-starting calls
  * done in-process. Without the libhadoop native library,
  * `RawLocalFileSystem` forks `chmod` for every `setPermission` (each
  * file create and each created directory) and `readlink` for every
  * `getFileLinkStatus` (`FileContext.rename` asks it of the source, the
  * destination and both `.crc` siblings) — ~2-3.5 ms a process, tens
  * per snapshot commit and over a hundred per streaming trigger.
  * Everything else, checksums, renames and the bytes on disk included,
  * is the inherited code.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode through `java.nio`; `chmod` still sets what NIO cannot:
    * the sticky/setuid/setgid bits, or any mode on a non-POSIX store.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // Declaration order is owner rwx, group rwx, others rwx: the
      // mode's bits from 8 down to 0.
      PosixFilePermission.values.zipWithIndex.foreach { case (x, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(x)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getMessage)
      }
    }
  }

  /** A path that is not a symbolic link is its own link status; a real
    * link (and its dangling-target handling) keeps Hadoop's code.
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file:` FileSystem (Hadoop's `LocalFileSystem`) over
  * [[InProcessRawLocalFileSystem]] — what `fs.file.impl` names in the
  * Hadoop conf of every write the snapshot layer owns.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The checksummed `file:` FileContext filesystem (Hadoop's `LocalFs`)
  * over [[InProcessRawLocalFileSystem]] — what
  * `fs.AbstractFileSystem.file.impl` names on a stream drill session,
  * whose checkpoint and state-store files go through `FileContext`.
  * Hadoop builds it reflectively from `(URI, Configuration)`; like
  * `LocalFs` it serves `file:///` whatever URI it is handed.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, over the in-process raw filesystem (its own
  * constructors are package-private).
  */
private class InProcessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new InProcessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @annotation.nowarn("cat=deprecation")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object InProcessLocalFileSystem {

  /** The Hadoop keys that route a conf's `file:` FileSystem users here.
    * The FileSystem cache keys on scheme and user, not on conf, so the
    * instance is not cached: a cached one would serve every other
    * caller of the process too. Spark copies DataFrameWriter options
    * into the Hadoop conf its committer and writer tasks open files
    * with, so these also work as writer options.
    */
  val writeKeys: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` carrying [[writeKeys]]. */
  def writeConf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    writeKeys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The Hadoop key and value that route a conf's `file:` FileContext
    * users (streaming checkpoints, HDFS-backed state stores) to
    * [[InProcessLocalFs]]. FileContext filesystems are not cached.
    */
  val fileContextKey: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName
}
