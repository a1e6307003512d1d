package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `LocalFs` (the `file` scheme of the FileContext API) minus its
  * process forks. Without `libhadoop`, `RawLocalFileSystem` runs `readlink`
  * for every `getFileLinkStatus` and `chmod` for every `setPermission`;
  * Spark's checkpoint manager writes each offset/commit log entry and
  * state-store delta as create + rename, which costs ~5 forks per file.
  * This answers both through `java.nio` and keeps everything else: the
  * `.crc` sidecars and their verification (`ChecksumFs`), rename's
  * no-overwrite check, and symlink handling (delegated to Hadoop).
  * `Engine.tune` registers it under [[LocalCheckpointFs.ConfKey]]. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalCheckpointFs {
  val ConfKey = "fs.AbstractFileSystem.file.impl"
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[graft] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** For a non-link Hadoop returns exactly `getFileStatus(f)` (which also
    * throws `FileNotFoundException` for a missing path); links keep
    * Hadoop's answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
}
