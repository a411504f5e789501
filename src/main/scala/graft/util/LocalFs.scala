package graft.util

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two process-forking metadata
  * calls done in-process. Without the native Hadoop library,
  * `RawLocalFileSystem` runs `chmod` for every file or directory it
  * creates with a permission and `readlink` for every
  * `getFileLinkStatus` (a checkpoint rename asks several). A forked
  * `chmod` took 2.8–3.8 ms on a 4-core host, the in-process call 20 µs.
  * Everything else, checksums included, is Hadoop's own. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The same 9 mode bits `chmod` would set; a sticky bit or a store
    * without POSIX attributes goes to Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort & 0x1ff
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values runs OWNER_READ .. OTHERS_EXECUTE: mode bit 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b): Unit
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** Hadoop's own probe, `new File(f.toString)`, tested in-process: a
    * qualified `file:` path is a relative name that never exists, so
    * it is never a link there either. A real link takes Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the in-process raw one. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` side, which
  * Spark's checkpoint file manager renames through): Hadoop's `LocalFs`
  * over the in-process raw filesystem, with `RawLocalFs`'s overrides. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessLocalFs.Raw(conf))

object InProcessLocalFs {
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
