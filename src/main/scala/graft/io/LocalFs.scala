package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem without process forks.
  *
  * Without libhadoop (NativeIO), stock Hadoop 3.4 forks `chmod` for every
  * file and directory it creates, and `readlink` for every
  * `getFileLinkStatus`. The `readlink` runs on the `file:`-prefixed path
  * string, which names nothing, so it always answers "not a link". A
  * checkpointed micro-batch (offset and commit logs, state deltas, sink
  * part files, each with its `.crc`) paid over a hundred forks: 540 on
  * LocalFsSpec's four-batch drain, and `walCommit` on the ingest
  * benchmark fell from 31 to 2 ms without them. This class does both
  * operations in-process through java.nio; everything else (checksums,
  * rename, listing, umask) is the stock code. Only the `file` scheme is rebound
  * (see `GraftSession.localFs`): HDFS and object-store paths never get here.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Same mode bits as the stock `chmod` (callers pass the umasked
    * permission). The sticky bit has no java.nio form: that, and a
    * filesystem without POSIX permissions, take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.modeBits(permission.toShort))
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  /** A regular file or directory (or a missing path: FileNotFoundException)
    * is its own link status; only a real symlink takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // from the mode bits, not toString: create paths pass an FsCreateModes,
  // whose toString is not the rwx form. PosixFilePermission.values runs
  // OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001.
  private def modeBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), used by the
  * streaming checkpoint manager. Mirrors Hadoop's `RawLocalFs`, which
  * hard-wires the stock raw class. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Mirrors Hadoop's `LocalFs`: `.crc` sidecars over [[ForkFreeRawLocalFs]].
  * The (URI, Configuration) constructor is the one `AbstractFileSystem`
  * looks up; the URI is always `file:///`, as in the stock class. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
