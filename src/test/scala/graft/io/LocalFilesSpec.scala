package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The two overrides of [[NoForkRawLocalFileSystem]] against Hadoop's own
  * `RawLocalFileSystem`, and the FileContext twin against `LocalFs`: the
  * same permission bits after every create and mkdir, the same link status
  * for every kind of path. */
class LocalFilesSpec extends AnyFunSuite {

  private val modes = Seq("644", "755", "700", "777")
  private val umasks = Seq("022", "077")

  /** (name, raw filesystem, file context) for Hadoop's classes and graft's,
    * under `umask`. */
  private def sides(umask: String) = {
    def conf(fc: Class[_]) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", umask)
      c.set("fs.AbstractFileSystem.file.impl", fc.getName)
      c
    }
    def side(name: String, fs: RawLocalFileSystem, fc: Class[_]) = {
      fs.initialize(URI.create("file:///"), conf(fc))
      (name, fs, FileContext.getFileContext(URI.create("file:///"), conf(fc)))
    }
    Seq(side("hadoop", new RawLocalFileSystem, classOf[org.apache.hadoop.fs.local.LocalFs]),
      side("graft", new NoForkRawLocalFileSystem, classOf[NoForkLocalFs]))
  }

  private def bits(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("create and mkdirs set the same permission bits as Hadoop's RawLocalFileSystem") {
    val root = Files.createTempDirectory("local_files_perm")
    for (umask <- umasks; mode <- modes) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val expected = perm.applyUMask(new FsPermission(umask)).toString
      val got = sides(umask).map { case (name, fs, fc) =>
        val dir = root.resolve(s"$name-$umask-$mode")
        def p(leaf: String) = new Path(dir.resolve(leaf).toUri)
        fs.create(p("fs-file"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(p("fs-dir"), perm))
        fc.create(p("fc-file"), EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(perm)).close()
        fc.mkdir(p("fc-dir"), perm, true)
        Seq("fs-file", "fs-dir", "fc-file", "fc-dir").map(l => l -> bits(dir.resolve(l)))
      }
      val Seq(hadoop, graft) = got
      assert(graft == hadoop, s"umask $umask mode $mode")
      assert(hadoop.forall(_._2 == expected), s"umask $umask mode $mode: $hadoop")
    }
  }

  test("getFileLinkStatus matches Hadoop's on a file, a directory, a missing path and a symlink") {
    val root = Files.createTempDirectory("local_files_link")
    val file = Files.write(root.resolve("file"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getModificationTime, s.getPermission, s.getOwner)
    def outcome(status: => FileStatus): Either[String, Any] =
      try Right(fields(status)) catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val Seq((_, hadoopFs, _), (_, graftFs, _)) = sides("022")
    // a file: URI (as Spark passes paths) and a bare path (readlink succeeds)
    val paths = Seq(file, dir, root.resolve("missing"), link, dangling)
      .flatMap(p => Seq(new Path(p.toUri), new Path(p.toString)))
    paths.foreach { p =>
      val (hadoop, graft) = (outcome(hadoopFs.getFileLinkStatus(p)), outcome(graftFs.getFileLinkStatus(p)))
      assert(graft == hadoop, s"$p")
    }
    assert(outcome(graftFs.getFileLinkStatus(new Path(root.resolve("missing").toUri))) ==
      Left(classOf[FileNotFoundException].getName))
    // Hadoop reports a bare-path symlink as one, so the symlink case is really exercised
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}
