package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, setting permission bits in
  * process. Without the native Hadoop library, `RawLocalFileSystem`
  * starts a `chmod` process for every file, `.crc` sibling and directory
  * it creates; here java.nio sets the same bits (the caller has already
  * applied the umask). Bits java.nio cannot set (sticky, setuid, setgid)
  * and non-POSIX stores keep Hadoop's path. Everything else, `.crc`
  * writing and verification included, is Hadoop's own.
  * [[ForkFreeLocalFs.SessionConf]] installs it for `FileSystem` and for
  * `FileContext` (streaming checkpoints). */
class ForkFreeLocalFs extends LocalFileSystem(new ForkFreeLocalFs.Raw)

object ForkFreeLocalFs {

  /** The session keys that resolve `file:` to these classes. */
  val SessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
      if ((bits & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
      else view.setPermissions(PosixFilePermission.values.toSeq.zipWithIndex.collect {
        case (perm, i) if (bits & (0x100 >> i)) != 0 => perm }.toSet.asJava)
    }
  }

  /** The `FileContext` twin: Hadoop's `LocalFs` (`ChecksumFs` over
    * `RawLocalFs`) with [[Raw]] underneath. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `RawLocalFs` over [[Raw]] (its constructors are package-private). */
  final class RawContext(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
