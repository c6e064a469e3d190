package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftRawLocalFileSystem]] against Hadoop's `RawLocalFileSystem`:
  * each case runs on both, in separate directories, and the outcomes
  * must be equal. No Spark session. */
class LocalFsParitySpec extends AnyFunSuite {

  private def raw(fs: RawLocalFileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** (name, file system, fresh directory) for graft's and Hadoop's. */
  private def both(): Seq[(String, FileSystem, java.nio.file.Path)] = {
    val root = Files.createTempDirectory("graft_fs_parity")
    Seq("graft" -> raw(new GraftRawLocalFileSystem), "hadoop" -> raw(new RawLocalFileSystem))
      .map { case (n, fs) => (n, fs, Files.createDirectory(root.resolve(n))) }
  }

  /** Every mode bit, setuid, setgid and sticky included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  private def assertSame[T](what: String)(run: (FileSystem, java.nio.file.Path) => T): Unit = {
    val got = both().map { case (n, fs, dir) => n -> run(fs, dir) }.toMap
    assert(got("graft") == got("hadoop"), s"$what: $got")
  }

  private def hpath(p: java.nio.file.Path): Path = new Path(p.toString)

  test("mode bits after create, mkdirs and setPermission equal Hadoop's") {
    assertSame("create under the default umask") { (fs, dir) =>
      fs.create(hpath(dir.resolve("f"))).close()
      mode(dir.resolve("f"))
    }
    for (perm <- Seq("700", "755")) assertSame(s"mkdirs $perm") { (fs, dir) =>
      assert(fs.mkdirs(hpath(dir.resolve("a/b")), new FsPermission(perm)))
      (mode(dir.resolve("a")), mode(dir.resolve("a/b")))
    }
    assertSame("setPermission 0640") { (fs, dir) =>
      Files.createFile(dir.resolve("f"))
      fs.setPermission(hpath(dir.resolve("f")), new FsPermission("640"))
      mode(dir.resolve("f"))
    }
    // the sticky bit and a directory's setgid bit take Hadoop's path
    assertSame("setPermission 1777") { (fs, dir) =>
      fs.setPermission(hpath(dir), new FsPermission("1777"))
      mode(dir)
    }
    assertSame("mkdirs 0755 under a setgid directory") { (fs, dir) =>
      Files.setAttribute(dir, "unix:mode", Integer.parseInt("2775", 8))
      assert(fs.mkdirs(hpath(dir.resolve("child")), new FsPermission("755")))
      mode(dir.resolve("child"))
    }
  }

  test("getFileLinkStatus equals Hadoop's on files, directories and links") {
    def make(dir: java.nio.file.Path): Unit = {
      Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    }
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         qualified <- Seq(false, true))
      assertSame(s"$name (qualified: $qualified)") { (fs, dir) =>
        make(dir)
        val p = hpath(dir.resolve(name))
        try {
          val st = fs.getFileLinkStatus(if (qualified) fs.makeQualified(p) else p)
          // the case's directory differs between the two sides
          val target = if (st.isSymlink) Some(st.getSymlink.toString.replace(
            dir.toString, "<dir>")) else None
          Right((st.isSymlink, st.isDirectory, st.getLen, target))
        } catch { case e: FileNotFoundException => Left(e.getClass) }
      }
    both().foreach { case (_, fs, dir) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(dir.resolve("missing"))))
    }
  }

  test("FileSystem rename onto a file refuses, as the class graft's replaces") {
    val conf = new Configuration()
    // the class Hadoop's service loader maps `file` to, fs.file.impl unset
    val replaced = FileSystem.getFileSystemClass("file", conf)
    assert(replaced != classOf[GraftLocalFileSystem])
    for (fs <- Seq(new GraftLocalFileSystem, replaced.getDeclaredConstructor().newInstance())) {
      fs.initialize(URI.create("file:///"), conf)
      val dir = Files.createTempDirectory("graft_fs_rename")
      Files.write(dir.resolve("src"), Array[Byte](1))
      Files.write(dir.resolve("dst"), Array[Byte](2))
      assert(!fs.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst"))), fs.getClass)
      assert(Files.readAllBytes(dir.resolve("dst")).toSeq == Seq[Byte](2))
      assert(fs.rename(hpath(dir.resolve("src")), hpath(dir.resolve("moved"))))
      assert(Files.readAllBytes(dir.resolve("moved")).toSeq == Seq[Byte](1))
    }
  }

  test("FileContext rename keeps NONE and OVERWRITE semantics") {
    val graftConf = new Configuration()
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    for (conf <- Seq(graftConf, new Configuration())) {
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      if (conf eq graftConf) assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
      val dir = Files.createTempDirectory("graft_fc_rename")
      def write(name: String, b: Byte): Path = {
        val p = hpath(dir.resolve(name))
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(b) finally out.close()
        p
      }
      val (src, dst) = (write("src", 1), write("dst", 2))
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(Files.readAllBytes(Paths.get(dst.toString)).toSeq == Seq[Byte](2))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(Files.readAllBytes(Paths.get(dst.toString)).toSeq == Seq[Byte](1))
      assert(!Files.exists(Paths.get(src.toString)))
    }
  }
}
