package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with a fork-free `setPermission`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", ...)`, and every `create` and every
  * `mkdirs` with a permission calls it: one child process per lake file,
  * `.crc` sidecar and partition directory, and per streaming checkpoint
  * and WAL file. This sets the same mode bits through
  * `Files.setPosixFilePermissions` in the JVM. A mode NIO cannot express
  * (the sticky bit), or a file store without a POSIX view, goes through
  * Hadoop's own path. A missing path throws an `IOException`
  * (`NoSuchFileException`), as the stock `chmod` failure does.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]]
  * (`fs.file.impl`) and [[NioLocalFs]] (`fs.AbstractFileSystem.file.impl`)
  * for every JVM with graft on its classpath.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioRawLocalFileSystem {
  // PosixFilePermission.values() runs owner r/w/x, group r/w/x, others
  // r/w/x: the rwx bits of an octal mode from bit 8 down to bit 0.
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed local file system over
  * [[NioRawLocalFileSystem]], so `.crc` sidecars are written as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin that
  * streaming checkpoints and WALs write through: `ChecksumFs` over
  * [[NioRawLocalFs]], as Hadoop's `LocalFs` is over `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]], with the same overrides. Symlink support
  * comes from the delegate. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // Local file systems differ in what names they accept: leave it to the OS.
  override def isValidName(src: String): Boolean = true
}
