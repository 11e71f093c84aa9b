package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-call process
  * spawns. Without `libhadoop.so`, `RawLocalFileSystem` runs `chmod`
  * for every `setPermission` (each created file and directory) and
  * `readlink` for every `getFileLinkStatus` (each FileContext rename
  * checks both ends), about 3 ms a process. Here a plain rwx mode is
  * set through `java.nio`, and a path that is not a symlink gets
  * `getFileStatus`, which is what Hadoop returns when `readlink`
  * prints nothing. A mode with the sticky bit and a real symlink go to
  * the stock code, so they behave exactly as before.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  /** The nine rwx bits of `mode` as a permission set;
    * `PosixFilePermission` lists them owner to others, read to execute,
    * which is `0400` down to `0001`.
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((perm, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0)
      set.add(perm)
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (the `.crc`
  * sidecars stay) over [[NioRawLocalFileSystem]]. It must stay a
  * `LocalFileSystem`: `FileSystem.getLocal` casts to that type.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's raw view of [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` with the filesystem swapped (its constructors are
  * package-private), so its four overrides are repeated here.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what Hadoop's `LocalFs` is, a
  * `ChecksumFs` over the raw view, so FileContext renames (Spark's
  * checkpoint and state-store commits) keep Hadoop's own atomic
  * `renameInternal` and `.crc` handling.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
