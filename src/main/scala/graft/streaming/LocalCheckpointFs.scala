package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets modes and reads link status in-process.
  * Without `libhadoop.so` the stock class forks `chmod` for every file and
  * directory it creates with a mode, and `readlink` for both sides of every
  * `FileContext` rename: about 100 processes per stream micro-batch. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** A plain rwx mode is set through NIO; sticky or setuid bits, and a
    * filesystem without POSIX modes, take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // the enum runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** The stock method runs `readlink` on `new File(f.toString)`, which for a
    * qualified `file:/…` path always answers "not a link"; only a real
    * symlink still goes there. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` `AbstractFileSystem` behind `FileContext`, and so behind
  * Structured Streaming's offset, commit and state-store files: Hadoop's
  * `LocalFs` (`.crc` checksums over `RawLocalFs`) with the fork-free
  * filesystem underneath. Both Hadoop constructors are package-private, so
  * this mirrors them; `AbstractFileSystem.get` looks up the (URI,
  * Configuration) constructor, and, as in `LocalFs`, the URI is always
  * `file:///`. `Graft.EngineConf` installs it. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.Raw(conf))

object LocalCheckpointFs {
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** The `file:` `FileSystem` (`fs.file.impl`) behind every FileSystem-API
  * caller, parquet writes among them: Hadoop's `LocalFileSystem` (`.crc`
  * checksums) with the fork-free filesystem underneath, so a written file
  * and its directories get their modes without a `chmod` process each.
  * `Graft.EngineConf` installs it. */
class ForkFreeChecksumFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem)
