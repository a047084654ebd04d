package graft.jobs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The file system [[Pipeline]] reads and commits through.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod`: once for every fresh file, once more for its `.crc`
  * sidecar, and once for every new directory. A commit of a few dozen
  * small files spends most of its time in those forks. On a `file:` path
  * whose scheme maps to a `LocalFileSystem`, [[apply]] therefore returns
  * Hadoop's own `LocalFileSystem` wrapped around [[InProcessChmod]], which
  * sets the permission bits in-process. The checksum sidecars, the umask
  * (`fs.permissions.umask-mode`), sidecar rename and delete, and the
  * rename-based commit stay Hadoop's code. Every other scheme, or a
  * `file:` scheme mapped to another class, gets `path.getFileSystem(conf)`
  * unchanged.
  *
  * With Spark's Hive jars on the classpath, the `file:` scheme may resolve
  * to Hive's `ProxyLocalFileSystem`, a `LocalFileSystem` whose `rename`
  * returns false onto an existing file where Hadoop's replaces it. Pipeline
  * renames a part or record onto an existing one only when a retried task
  * races a committed attempt, and accepts either outcome: the two carry
  * the same rows.
  *
  * Each call builds a fresh local handle from `conf` (nothing is cached:
  * building one costs no I/O), so the handle always carries the caller's
  * configuration, umask included.
  */
object CommitFs {

  private val LocalUri = URI.create("file:///")

  def apply(path: String, conf: Configuration): FileSystem = {
    val p = new Path(path)
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file" && classOf[LocalFileSystem].isAssignableFrom(FileSystem.getFileSystemClass(scheme, conf))) {
      val fs = new LocalFileSystem(new InProcessChmod)
      fs.setConf(conf) // what FileSystem.get's reflective construction does first
      fs.initialize(LocalUri, conf)
      fs
    } else p.getFileSystem(conf)
  }

  /** Whether `fs` sets local permissions in-process (a handle of [[apply]]
    * on a `file:` path) rather than through Hadoop's default.
    */
  def inProcess(fs: FileSystem): Boolean = fs match {
    case l: LocalFileSystem => l.getRaw.isInstanceOf[InProcessChmod]
    case _ => false
  }

  private val Bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE,
    PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE)

  /** `RawLocalFileSystem` whose `setPermission` sets the 9 permission bits
    * with `java.nio` instead of forking `chmod`. Bits outside 0777 (sticky,
    * setuid, setgid) and file stores without POSIX attributes fall back to
    * Hadoop's own `setPermission`. Like `chmod`, it follows a symbolic link.
    */
  final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view = if ((mode & ~0x1ff) != 0) null
        else Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- Bits.indices if (mode & (0x100 >> i)) != 0) perms.add(Bits(i))
        view.setPermissions(perms)
      }
    }
  }
}
