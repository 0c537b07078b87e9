package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its shell fallbacks. Without
  * libhadoop, stock `RawLocalFileSystem` starts a `chmod` process for every
  * file or directory it creates with a permission, and a `readlink` process
  * for every `getFileLinkStatus` (which each FileContext rename calls on
  * both ends). Here the 9 rwx bits go through `java.nio`, and a path that
  * is not a symbolic link takes its plain `getFileStatus`. A mode with the
  * sticky, setuid or setgid bit and a real symbolic link still take Hadoop's
  * own path. Results match stock Hadoop's; a missing path fails with an
  * `IOException` either way, here `java.nio`'s rather than the shell's.
  *
  * `src/main/resources/core-site.xml` registers the checksummed wrappers as
  * `file:` for both APIs: [[ShellFreeLocalFileSystem]] for `FileSystem`
  * (parquet writers, `StateDir`), [[ShellFreeLocalFs]] for `FileContext`
  * (Spark's streaming offset, commit and source logs).
  */
class ShellFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ShellFreeRawLocalFileSystem.perms(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ShellFreeRawLocalFileSystem {
  // declared owner rwx, group rwx, others rwx: entry i is mode bit 8 - i
  private val Bits = PosixFilePermission.values

  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode >> (8 - i) & 1) == 1) set.add(Bits(i))
    set
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the shell-free raw
  * file system. */
class ShellFreeLocalFileSystem extends LocalFileSystem(new ShellFreeRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over the shell-free raw file
  * system. */
class ShellFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ShellFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `org.apache.hadoop.fs.local.LocalFs`
  * (checksums over [[ShellFreeRawLocalFs]] at `file:///`, whatever `uri`
  * names). */
class ShellFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ShellFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
