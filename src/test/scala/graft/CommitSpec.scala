package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** [[Commit.renameExclusive]] on the local file system, both branches: the
  * rename that commits, and the one that loses to an existing target (the
  * branch a losing sink attempt or model save takes). */
class CommitSpec extends SparkSpec {
  // the engine's local file system, as the sink and the model store get it
  private lazy val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Every regular file under `root`, by relative path, with its bytes. */
  private def tree(root: JPath): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def write(file: JPath, content: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, content.getBytes(UTF_8)); ()
  }

  private def hadoop(p: JPath) = new Path(p.toString)

  test("a stage renamed onto an absent target lands there and the stage path is gone") {
    withTempDir("graft-commit") { tmp =>
      val dir = Paths.get(tmp)
      write(dir.resolve(".stage-a/part-0"), "new")
      write(dir.resolve(".stage-a/sub/part-1"), "nested file")
      val staged = tree(dir.resolve(".stage-a"))

      assert(Commit.renameExclusive(fs, hadoop(dir.resolve(".stage-a")), hadoop(dir.resolve("v1"))))
      assert(!Files.exists(dir.resolve(".stage-a")), "the stage path survived the commit")
      assert(tree(dir.resolve("v1")) == staged, "the target does not hold the staged files")
    }
  }

  test("a stage renamed onto an existing non-empty target returns false, leaves the target byte-identical and restores the stage") {
    withTempDir("graft-commit") { tmp =>
      val dir = Paths.get(tmp)
      write(dir.resolve("v1/part-0"), "committed")
      write(dir.resolve("v1/sub/part-1"), "committed nested")
      val committed = tree(dir.resolve("v1"))
      write(dir.resolve(".stage-b/part-0"), "loser")
      val staged = tree(dir.resolve(".stage-b"))

      assert(!Commit.renameExclusive(fs, hadoop(dir.resolve(".stage-b")), hadoop(dir.resolve("v1"))))
      assert(tree(dir.resolve("v1")) == committed, "the committed target changed")
      val leftovers = Files.list(dir.resolve("v1")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".stage-")).toSeq
      assert(leftovers.isEmpty, s"the losing stage is left nested in the target: $leftovers")
      assert(tree(dir.resolve(".stage-b")) == staged, "the losing stage was not restored whole")
    }
  }
}
