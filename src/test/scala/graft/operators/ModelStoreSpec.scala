package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The model store's contracts: a coarse+PQ model trained, saved to
  * parquet, and reloaded drives [[Similarity.ivfPqSearchFrom]] to EXACTLY
  * the rows the in-memory model produces; a reader sees a whole model,
  * old or new, never a partial save; concurrent saves land as whole
  * versions; GC keeps the two highest; a legacy flat store still loads;
  * a geometry mismatch fails fast. */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private type Model = (DataFrame, DataFrame, DataFrame, DataFrame)
  private val g = (2, 2, 2, 4) // (m, k, coarseK, dims)

  private def planted = {
    // two well-separated cells with in-cell jitter: searches have real
    // structure to rank, not degenerate ties
    val rnd = new scala.util.Random(5)
    (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 0f, 1.0f, 0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
  }

  /** Model A from the planted corpus, or a different model B from its
    * mirrored embeddings; trained once per suite and checkpointed, so the
    * saves and searches below do not re-run the training plan. */
  private def train(mirrored: Boolean): Model = {
    val docs = if (!mirrored) planted
      else planted.select($"vec_id", reverse($"embedding").as("embedding"))
    val (a, c, codes, books) = Similarity.coarsePqModels(docs, g._3, 2, g._1, g._2, 2, g._4)
    (a.localCheckpoint(), c.localCheckpoint(), codes.localCheckpoint(), books.localCheckpoint())
  }
  private lazy val modelA = train(mirrored = false)
  private lazy val modelB = train(mirrored = true)

  private def searchRows(t: Model) =
    Similarity.ivfPqSearchFrom(t._1, t._2, t._3, t._4,
      planted.filter($"vec_id" < 4), g._1, g._4 / g._1, 3, 2)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

  private def save(dir: String, t: Model): Unit =
    ModelStore.saveCoarsePq(dir, t._1, t._2, t._3, t._4, g._1, g._2, g._3, g._4)

  private def load(dir: String): Model =
    ModelStore.loadCoarsePq(spark, dir, g._1, g._2, g._3, g._4)

  private def names(dir: String, pattern: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches(pattern)).sorted

  private def vDirs(dir: String) = names(dir, "v\\d+")

  test("a saved-and-reloaded model reproduces the in-memory model's search rows exactly") {
    val expect = searchRows(modelA)
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      assert(expect.nonEmpty, "degenerate fixture: the search returned nothing")
      assert(searchRows(load(dir)) == expect, "reloaded-model search diverges from the training run")
    }
  }

  test("a failed part write leaves meta untouched: the commit marker never validates a partial save") {
    val (_, centroids, codes, books) = modelA
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      val oldRows = searchRows(load(dir))

      // a save at a DIFFERENT geometry whose "assigned" frame throws at
      // execution time (ANSI 1/0) in its only task: the save must surface
      // the failure and commit nothing
      val poisoned = spark.range(0, 2, 1, 1).select(($"id" / ($"id" - lit(1))).as("v"))
      intercept[Throwable] {
        ModelStore.saveCoarsePq(dir, poisoned, centroids, codes, books, 4, 2, 2, 4)
      }
      assert(vDirs(dir) == Seq("v1"), s"the failed save left a version: ${vDirs(dir)}")
      assert(names(dir, "\\.stage-.*").isEmpty, "the failed save left its stage behind")

      // the old model is still the one served, so a caller expecting the new
      // geometry fails fast instead of searching a partial model
      assert(searchRows(load(dir)) == oldRows)
      val e = intercept[IllegalArgumentException] {
        ModelStore.loadCoarsePq(spark, dir, 4, 2, 2, 4)
      }
      assert(e.getMessage.contains("geometry"))
    }
  }

  test("serve-during-overwrite: a reader sees the old complete model or the new complete model, never a mix") {
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      val oldHandles = load(dir)
      val oldRows = searchRows(oldHandles)
      val newRows = searchRows(modelB)
      assert(oldRows != newRows, "degenerate fixture: retrain must change the search result")

      // (a) mid-save: a save in flight has written part of its stage; a
      // fresh resolve still serves the old complete model
      modelB._1.write.parquet(s"$dir/.stage-inflight/assigned")
      assert(searchRows(load(dir)) == oldRows, "a reader resolved mid-save saw the uncommitted save")

      // (b) the retrain commits: a fresh resolve serves the new model
      save(dir, modelB)
      assert(searchRows(load(dir)) == newRows, "post-commit resolve did not serve the new model")

      // (c) a reader that resolved BEFORE the commit still serves the old
      // complete model: its version directory is immutable and GC keeps it
      assert(vDirs(dir) == Seq("v1", "v2"), s"GC kept the wrong versions: ${vDirs(dir)}")
      assert(searchRows(oldHandles) == oldRows, "pre-commit reader handles were corrupted by the retrain")
    }
  }

  test("two interleaved saves land as two distinct committed versions, and the pointer resolves one complete model") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rowsA = searchRows(modelA)
    val rowsB = searchRows(modelB)
    assert(rowsA != rowsB, "degenerate fixture: the two models must differ")

    withTempDir("graft-store") { dir =>
      val saves = Seq(modelA, modelB).map(m => Future(save(dir, m)))
      Await.result(Future.sequence(saves), Duration.Inf) // both must SUCCEED
      assert(vDirs(dir) == Seq("v1", "v2"),
        s"interleaved saves did not land as two distinct versions: ${vDirs(dir)}")

      // whichever committed last is served, ENTIRELY one of the two models
      val served = searchRows(load(dir))
      assert(served == rowsA || served == rowsB,
        "the committed model is neither writer's model — interleaved corruption")
    }
  }

  test("GC keeps the previously committed version as grace even when its _SUCCESS markers are gone") {
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      // a deployment whose committer emits no _SUCCESS markers: GC must not
      // depend on them
      def successFiles(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten
          .flatMap(c => if (c.isDirectory) successFiles(c)
                        else if (c.getName == "_SUCCESS") Seq(c) else Nil)
      val stripped = successFiles(new java.io.File(s"$dir/v1"))
      assert(stripped.nonEmpty, "fixture: expected _SUCCESS markers under v1")
      stripped.foreach(f => assert(f.delete()))
      // another writer's save in flight: GC must leave its stage alone
      val foreign = new java.io.File(s"$dir/.stage-foreign/assigned/part-0")
      foreign.getParentFile.mkdirs()
      java.nio.file.Files.write(foreign.toPath, Array[Byte](1, 2, 3))

      save(dir, modelB)
      assert(vDirs(dir) == Seq("v1", "v2"),
        s"marker-less committed predecessor was swept instead of kept as grace: ${vDirs(dir)}")
      save(dir, modelA)
      assert(vDirs(dir) == Seq("v2", "v3"), s"GC did not keep exactly the two highest: ${vDirs(dir)}")
      assert(foreign.exists, "GC deleted another writer's stage")
    }
  }

  test("a commit that starts from a taken version number lands on the next free v<N> and leaves the taken one untouched") {
    import org.apache.hadoop.fs.Path
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      def tree(root: java.io.File): Map[String, Seq[Byte]] = {
        val walk = java.nio.file.Files.walk(root.toPath)
        try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => root.toPath.relativize(p).toString ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
        finally walk.close()
      }
      val v1 = tree(new java.io.File(s"$dir/v1"))
      val stageDir = new java.io.File(s"$dir/.stage-late")
      stageDir.mkdirs()
      java.nio.file.Files.write(new java.io.File(stageDir, "part-0").toPath, Array[Byte](7))
      val staged = tree(stageDir)

      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(ModelStore.commit(fs, new Path(dir), new Path(stageDir.getPath), first = 1) == 2)
      assert(tree(new java.io.File(s"$dir/v1")) == v1, "the taken version changed")
      assert(tree(new java.io.File(s"$dir/v2")) == staged, "the stage did not land as v2")
      assert(!stageDir.exists, "the stage path survived the commit")
    }
  }

  test("an empty store has no committed model") {
    withTempDir("graft-store") { dir =>
      val e = intercept[IllegalArgumentException](load(dir))
      assert(e.getMessage.contains("no committed model"))
    }
  }

  test("a legacy flat store (version=0) loads, and a save over it upgrades to v1 without sweeping the legacy tables") {
    val (a1, c1, k1, b1) = modelA
    withTempDir("graft-store") { dir =>
      // the pre-versioning layout: the four tables directly under dir and a
      // meta with NO version column
      Seq(("assigned", a1), ("centroids", c1), ("codes", k1), ("books", b1))
        .foreach { case (n, df) => df.write.parquet(s"$dir/$n") }
      Seq((g._1, g._2, g._3, g._4)).toDF("m", "k", "coarse_k", "dims")
        .write.parquet(s"$dir/meta")

      val legacyHandles = load(dir)
      val legacyRows = searchRows(legacyHandles)
      assert(legacyRows == searchRows((a1, c1, k1, b1)),
        "the legacy flat layout did not resolve to the stored model")

      // SAVE OVER with the current code: the new model lands as v1
      save(dir, modelB)
      val upgradedRows = searchRows(load(dir))
      assert(upgradedRows == searchRows(modelB), "post-upgrade resolve did not serve the new model")
      assert(upgradedRows != legacyRows, "degenerate fixture: retrain must change the result")
      assert(vDirs(dir) == Seq("v1"), s"the upgrade did not land as v1: ${vDirs(dir)}")

      // the legacy flat tables are NOT v<N> directories, so GC must not have
      // touched them: a reader that resolved the legacy model before the
      // upgrade still serves it
      Seq("assigned", "centroids", "codes", "books").foreach(n =>
        assert(new java.io.File(s"$dir/$n").isDirectory,
          s"the upgrade swept the legacy table $n out from under its readers"))
      assert(searchRows(legacyHandles) == legacyRows,
        "pre-upgrade reader handles were corrupted by the upgrade")
    }
  }

  test("loading with mismatched geometry fails fast") {
    withTempDir("graft-store") { dir =>
      save(dir, modelA)
      val e = intercept[IllegalArgumentException] {
        ModelStore.loadCoarsePq(spark, dir, 4, 2, 2, 4)
      }
      assert(e.getMessage.contains("geometry"))
    }
  }
}
