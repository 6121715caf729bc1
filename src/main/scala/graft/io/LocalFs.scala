package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without forked processes. Without libhadoop,
  * `RawLocalFileSystem` runs `chmod` for every file, `.crc` and directory
  * it creates, and `readlink` for every link probe (four per
  * `FileContext.rename`) — hundreds of process starts per micro-batch
  * across the checkpoint logs, the RocksDB state upload and the sink.
  * [[Raw]] answers those two calls through `java.nio`; create, rename,
  * delete, checksums and the on-disk layout stay Hadoop's code.
  */
object LocalFs {

  /** Mode bits 0777 as NIO permissions (`PosixFilePermission` is in bit order). */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) perms.add(perm)
    }
    perms
  }

  final class Raw extends RawLocalFileSystem {
    /** The same mode bits via NIO; Hadoop's own path for a sticky bit or a
      * non-POSIX filesystem.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try {
        if (permission.getStickyBit) super.setPermission(p, permission)
        else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    /** Hadoop's `readlink` answers empty for anything but a symlink, and
      * then the result is `getFileStatus`; only real symlinks go to it.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: checksummed, as Hadoop's `LocalFileSystem`. */
  final class Fs extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl` (`FileContext`), as Hadoop's `local.LocalFs`. */
  final class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  private final class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Routes the session's `file:` I/O — checkpoints, state store, sinks —
    * through [[Raw]]. The cache is off for `file:` because Hadoop caches
    * the first local `FileSystem` per JVM, usually made before any stream
    * starts; a local instance costs a few objects to build.
    */
  def use(spark: SparkSession): Unit = {
    spark.conf.set("fs.file.impl", classOf[Fs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[Afs].getName)
  }
}
