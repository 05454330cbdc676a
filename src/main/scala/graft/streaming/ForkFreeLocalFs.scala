package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` `AbstractFileSystem` that streaming checkpoints go through
  * on a [[StreamingConf.applyTo]] session. It is Hadoop's stock `LocalFs`
  * (a `ChecksumFs` over a `DelegateToFileSystem`) with a
  * [[ForkFreeRawLocalFileSystem]] underneath, so the files, the `.crc`
  * side files and the renames it leaves on disk are the stock ones. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** The `file:` `FileSystem` of a [[StreamingConf.applyTo]] session:
  * Hadoop's stock `LocalFileSystem` (checksummed) over a
  * [[ForkFreeRawLocalFileSystem]]. RocksDB state stores copy their SST
  * files to and from the checkpoint through this API, not `FileContext`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (its constructors are package-private, and it
  * builds its own `RawLocalFileSystem`) over a
  * [[ForkFreeRawLocalFileSystem]]; the overrides are `RawLocalFs`'s. */
private[streaming] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // each local file system validates names its own way; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `RawLocalFileSystem` without the child processes it starts
  * when the native Hadoop library is absent: `setPermission` (every create
  * and mkdir) ran `chmod`, and `getFileLinkStatus` (twice per rename) ran
  * `readlink`. Both are answered with `java.nio` calls here. Symlinks, and
  * mode bits a `java.nio` chmod would not set or keep (sticky, setuid,
  * setgid), still take Hadoop's path; every other method is Hadoop's. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode =
      try Files.getAttribute(file, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int]
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
      }
    if (permission.getStickyBit || (mode & FileType) == SymlinkType ||
        (mode & SetIdBits) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f) // a missing path throws FileNotFoundException here

  override def getLinkTarget(f: Path): Path = {
    val file = pathToFile(f).toPath
    if (Files.isSymbolicLink(file)) new Path(Files.readSymbolicLink(file).toString)
    else getFileStatus(f).getSymlink // not found, or "not a symbolic link"
  }
}

private object ForkFreeRawLocalFileSystem {
  // st_mode fields: S_IFMT, S_IFLNK, and S_ISUID | S_ISGID
  val FileType: Int = Integer.parseInt("170000", 8)
  val SymlinkType: Int = Integer.parseInt("120000", 8)
  val SetIdBits: Int = Integer.parseInt("6000", 8)
}
