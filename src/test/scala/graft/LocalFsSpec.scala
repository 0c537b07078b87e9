package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.fs.ShellFreeRawLocalFileSystem]] is what `file:` resolves to
  * through the classpath `core-site.xml`, and it answers as stock Hadoop's
  * `RawLocalFileSystem` does on twin paths. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val stock = new RawLocalFileSystem
  stock.initialize(URI.create("file:///"), conf)
  private val ours = new graft.fs.ShellFreeRawLocalFileSystem
  ours.initialize(URI.create("file:///"), conf)

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("localfs")
    try body(dir)
    finally {
      val all = Files.walk(dir)
      try all.sorted(java.util.Comparator.reverseOrder[JPath]()).forEach(p => Files.delete(p))
      finally all.close()
    }
  }

  private def hpath(p: JPath): Path = new Path(p.toString)

  test("file: resolves to graft's classes for FileSystem and FileContext") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[graft.fs.ShellFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[graft.fs.ShellFreeLocalFileSystem].getRaw
      .isInstanceOf[graft.fs.ShellFreeRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[graft.fs.ShellFreeLocalFs], afs.getClass.getName)
  }

  test("setPermission gives stock Hadoop's modes on a twin file") {
    withDir { dir =>
      // the modes graft's writers use, then each rwx bit alone
      for (mode <- Seq("600", "644", "700", "755") ++ (0 to 8).map(b => Integer.toOctalString(1 << b))) {
        val a = Files.createFile(dir.resolve(s"stock-$mode"))
        val b = Files.createFile(dir.resolve(s"ours-$mode"))
        val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
        stock.setPermission(hpath(a), perm)
        ours.setPermission(hpath(b), perm)
        val want = Files.getPosixFilePermissions(a)
        assert(want == PosixFilePermissions.fromString(perm.toString), mode)
        assert(Files.getPosixFilePermissions(b) == want, mode)
      }
    }
  }

  test("a sticky mode takes stock Hadoop's path") {
    withDir { dir =>
      val a = Files.createDirectory(dir.resolve("stock"))
      val b = Files.createDirectory(dir.resolve("ours"))
      val perm = new FsPermission(Integer.parseInt("1755", 8).toShort)
      stock.setPermission(hpath(a), perm)
      ours.setPermission(hpath(b), perm)
      // java.nio's posix view has no sticky bit; unix:mode reads it back
      val modeOf = (p: JPath) => Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(modeOf(a) == Integer.parseInt("1755", 8))
      assert(modeOf(b) == modeOf(a))
    }
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup, if (st.isSymlink) Some(st.getSymlink) else None)

  test("getFileLinkStatus matches stock Hadoop on a file, a directory, a missing path and a symlink") {
    withDir { dir =>
      val file = Files.writeString(dir.resolve("f"), "abc")
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      for (p <- Seq(file, sub, link))
        assert(fields(ours.getFileLinkStatus(hpath(p))) == fields(stock.getFileLinkStatus(hpath(p))), p)
      assert(ours.getFileLinkStatus(hpath(link)).isSymlink)
      val missing = hpath(dir.resolve("missing"))
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    }
  }
}
