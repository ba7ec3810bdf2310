package graftbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's local file system with its two process-launching calls made in
  * the JVM. Without Hadoop's native library, `RawLocalFileSystem` runs
  * `chmod` as a child process for every file and directory it creates, and
  * `readlink` for every link-status lookup (each create and rename through
  * `FileContext`, which the streaming checkpoint and the RocksDB state store
  * use): over 6,000 child processes in one `stream-stateful` run. With the
  * native library both are system calls; here both go through java.nio, so
  * the benchmark times the engine rather than the process launcher. Every
  * other call is Hadoop's own. run.py registers these classes for `file:`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.modeBits(permission.toShort))

  // For a path that is not a link the parent returns the file's own status,
  // after `readlink` has found no link.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** `rwxrwxrwx` bits of a mode; `PosixFilePermission` lists them high bit first. */
  def modeBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if (((mode >> (8 - p.ordinal)) & 1) == 1) set.add(p))
    set
  }
}

/** `fs.file.impl`: the checksummed local file system over the raw one above. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over the raw file
  * system above (`RawLocalFs` cannot take another raw file system). */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  // as `org.apache.hadoop.fs.local.RawLocalFs`
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
