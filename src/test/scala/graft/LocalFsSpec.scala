package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.LocalFs

/** [[LocalFs.Raw]] against Hadoop's own `RawLocalFileSystem`: the same
  * permissions and the same link status, without forked processes.
  */
class LocalFsSpec extends AnyFunSuite {

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "000") // every requested bit lands
    raw.initialize(URI.create("file:///"), conf)
    raw
  }
  private lazy val hadoop = fs(new RawLocalFileSystem)
  private lazy val ours = fs(new LocalFs.Raw)

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("create/mkdirs/setPermission leave the same POSIX bits as Hadoop's") {
    val root = Files.createTempDirectory("graft_lfs_perm").toString
    for (m <- Seq("0600", "0644", "0700", "0755", "0777")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val modes = Seq(hadoop -> "h", ours -> "o").map { case (f, tag) =>
        val file = s"$root/$tag-$m.bin"; val dir = s"$root/$tag-$m.d"
        f.create(new Path(file), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        f.mkdirs(new Path(dir), perm)
        val created = (mode(file), mode(dir))
        f.setPermission(new Path(file), FsPermission.createImmutable(0.toShort))
        f.setPermission(new Path(file), perm)
        (created, mode(file))
      }
      assert(modes(0) === modes(1), s"mode $m")
      assert(modes(1)._1._1 === perm.toString && modes(1)._1._2 === perm.toString, s"mode $m")
    }
  }

  test("getFileLinkStatus agrees with Hadoop's on files, dirs, symlinks and missing paths") {
    val root = Files.createTempDirectory("graft_lfs_link")
    val file = Files.write(root.resolve("file"), "hello".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    def probe(f: RawLocalFileSystem, p: Path) =
      try {
        val s = f.getFileLinkStatus(p)
        Right((s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          if (s.isSymlink) s.getSymlink.toString else ""))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for (p <- Seq(file, dir, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(new File(p.toString).toURI))) {
      assert(probe(ours, path) === probe(hadoop, path), path)
    }
    assert(probe(ours, new Path(link.toString)) ===
      Right((false, false, true, 5L, s"file:$file")))
    assert(probe(ours, new Path(dangling.toString)).exists(_._3))
    assert(probe(ours, new Path(missing.toString)).isLeft)
  }
}
