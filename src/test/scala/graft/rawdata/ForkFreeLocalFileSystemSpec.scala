package graft.rawdata

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeLocalFileSystem]] must leave the same files behind and
  * report the same link status as Hadoop's `RawLocalFileSystem`, which it
  * replaces under `file:`. Each case runs the same calls through both
  * classes, each in its own directory, and compares the results; modes
  * are read with `java.nio` (`unix:mode`), never through Hadoop.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  private def both(umask: String): Seq[(String, FileSystem)] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    Seq("hadoop" -> new RawLocalFileSystem, "forkfree" -> new ForkFreeLocalFileSystem).map {
      case (name, fs) =>
        fs.initialize(java.net.URI.create("file:///"), conf)
        name -> fs
    }
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode",
      java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** `body(fs, dir)` per class in a fresh directory; the two results */
  private def compare[T](umask: String)(body: (FileSystem, Path) => T): (T, T) = {
    val Seq(a, b) = both(umask).map { case (name, fs) =>
      body(fs, new Path("file://" + Topic.tempDir(s"ffl-$name")))
    }
    (a, b)
  }

  for ((umask, fileMode, dirMode) <- Seq(("022", "644", "755"), ("077", "600", "700")))
    test(s"create, mkdirs and nested mkdirs leave Hadoop's modes under umask $umask") {
      val (hadoop, forkFree) = compare(umask) { (fs, dir) =>
        fs.create(new Path(dir, "f")).close()
        fs.mkdirs(new Path(dir, "d"))
        fs.mkdirs(new Path(dir, "n/a/b"))
        Seq("f", "d", "n", "n/a", "n/a/b").map(c => c -> mode(new Path(dir, c)))
      }
      assert(forkFree === hadoop)
      val expect = Integer.parseInt(fileMode, 8) +: Seq.fill(4)(Integer.parseInt(dirMode, 8))
      assert(hadoop.map(_._2) === expect)
    }

  test("an explicit setPermission(0644) and a sticky-bit mode match Hadoop's") {
    val (hadoop, forkFree) = compare("077") { (fs, dir) =>
      val f = new Path(dir, "f")
      fs.create(f).close()
      val before = mode(f)
      fs.setPermission(f, new FsPermission(Integer.parseInt("644", 8).toShort))
      val d = new Path(dir, "d")
      fs.mkdirs(d)
      // the sticky bit is beyond the 9 rwx bits: Hadoop's own path sets it
      fs.setPermission(d, new FsPermission(Integer.parseInt("1755", 8).toShort))
      (before, mode(f), mode(d))
    }
    assert(forkFree === hadoop)
    assert(hadoop === ((Integer.parseInt("600", 8), Integer.parseInt("644", 8), Integer.parseInt("1755", 8))))
  }

  test("getFileLinkStatus on a file, a directory, a missing path and a symlink matches Hadoop's") {
    val (hadoop, forkFree) = compare("022") { (fs, dir) =>
      val f = new Path(dir, "f")
      val out = fs.create(f)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.mkdirs(new Path(dir, "d"))
      Files.createSymbolicLink(Paths.get(dir.toUri.getPath, "link"), Paths.get(f.toUri.getPath))
      // the link target relative to the case's directory, so both classes
      // compare; each path both `file:`-qualified and bare (Hadoop's
      // readlink gets Path.toString, so it sees no link behind a qualified
      // path, and the subclass must keep that)
      val shapes = for (c <- Seq("f", "d", "link"); p <- Seq(new Path(dir, c), new Path(dir.toUri.getPath, c))) yield {
        val st = fs.getFileLinkStatus(p)
        (st.getPath.getName, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
          if (st.isSymlink) st.getSymlink.toUri.getPath.stripPrefix(dir.toUri.getPath) else "")
      }
      val missing = intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir, "missing")))
      (shapes, missing.getClass)
    }
    assert(forkFree === hadoop)
    val dirLen = hadoop._1(2)._5
    assert(hadoop._1 === Seq(
      ("f", true, false, false, 3L, ""), ("f", true, false, false, 3L, ""),
      ("d", false, true, false, dirLen, ""), ("d", false, true, false, dirLen, ""),
      ("link", true, false, false, 3L, ""), ("link", false, false, true, 3L, "/f")))
  }
}
