package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.nowarn

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without child processes. Without the
  * native Hadoop library, `RawLocalFileSystem` runs `chmod` for every
  * file create and mkdir, and `readlink` for every link-status lookup
  * (four per `FileContext` rename). These overrides do both through
  * java.nio with the same result: the same permission bits, the same
  * status. Sticky bits, non-POSIX file systems and real symlinks keep
  * Hadoop's own code path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.perms(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** rwxrwxrwx mode bits as NIO permissions (the enum lists owner read
    * first, the highest of the nine bits). */
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val all = PosixFilePermission.values
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- all.indices if (mode & (1 << (8 - i))) != 0) set.add(all(i))
    set
  }
}

/** `fs.file.impl`: checksummed `LocalFileSystem` over the raw FS above.
  * Rename onto an existing file fails instead of replacing it, as on HDFS
  * and as in Hive's `ProxyLocalFileSystem`, which the Spark distribution's
  * service registry otherwise resolves `file://` to. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  @nowarn("cat=deprecation") // isFile: FileSystem's own exists-and-is-file probe
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` path Spark's
  * default checkpoint manager uses: `LocalFs` / `RawLocalFs` rebuilt over
  * the raw FS above (Hadoop's constructors are package-private). Hadoop
  * instantiates it reflectively through the (URI, Configuration)
  * constructor; like `LocalFs`, it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
