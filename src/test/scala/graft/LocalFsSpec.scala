package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** [[NioRawLocalFileSystem]] makes the two calls Hadoop runs as child
  * processes through java.nio, with Hadoop's results. */
class LocalFsSpec extends SparkSpec {

  private lazy val fs = {
    val raw = new NioRawLocalFileSystem
    raw.initialize(raw.getUri, spark.sparkContext.hadoopConfiguration)
    raw
  }

  test("setPermission sets the rwx bits of every one of the 512 modes") {
    withTempDir("graft_localfs") { dir =>
      val file = Files.createFile(Paths.get(dir, "f"))
      for (mode <- 0 until 512) {
        val perm = new FsPermission(mode.toShort)
        fs.setPermission(new Path(file.toString), perm)
        assert(Files.getPosixFilePermissions(file) == PosixFilePermissions.fromString(perm.toString),
          f"mode $mode%03o")
      }
    }
  }

  test("a sticky-bit mode goes through Hadoop's own chmod") {
    withTempDir("graft_localfs") { dir =>
      val sticky = new FsPermission("1755")
      fs.setPermission(new Path(dir), sticky)
      val perm = fs.getFileStatus(new Path(dir)).getPermission
      assert(perm.getStickyBit && perm == sticky, perm.toString)
    }
  }

  test("getFileLinkStatus reports a symlink as a link and a file as a file") {
    withTempDir("graft_localfs") { dir =>
      val file = Files.createFile(Paths.get(dir, "f"))
      val link = Files.createSymbolicLink(Paths.get(dir, "l"), file)
      assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
      val status = fs.getFileLinkStatus(new Path(file.toString))
      assert(!status.isSymlink && status.isFile)
    }
  }
}
