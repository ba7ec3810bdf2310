package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The trained k-means model is a TABLE (cluster, c) — so persisting it is
  * a parquet write and serving it is a read + broadcast, no model registry
  * required. This spec pins the storage fidelity that makes that true:
  * centroids written to parquet and reloaded must reproduce every
  * assignment bit-for-bit (doubles round-trip parquet exactly; the fold
  * order is fixed by the cluster-sorted pack, not by storage order). */
class ModelPersistenceSpec extends SparkSpec {
  import spark.implicits._

  test("centroids round-trip through parquet and reproduce assignments exactly") {
    val planted =
      (0 to 9).map(i => (i.toLong, Array(1.0f, 0.01f * i, 0f, 0f))) ++
        (10 to 19).map(i => (i.toLong, Array(0.01f * (i - 10), 1.0f, 0f, 0f)))
    val docs = planted.toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.kmeans(docs, k = 2, rounds = 3, dims = 4)
    val expect = assigned.select($"vec_id", $"cluster", $"sq")
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq

    withTempDir("graft-model") { dir =>
      // shuffle storage order on purpose: the serving fold must not depend on it
      centroids.orderBy($"cluster".desc).write.mode("overwrite").parquet(dir)
      val reloaded = spark.read.parquet(dir)

      val packed = reloaded
        .withColumn("dcc", graft.functions.VectorFunctions.vec_dot($"c", $"c"))
        .agg(array_sort(collect_list(struct($"cluster", $"c", $"dcc"))).as("cents"))
      val served = docs
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("dxx", graft.functions.VectorFunctions.vec_dot($"v", $"v"))
        .crossJoin(broadcast(packed))
        .withColumn("best", graft.functions.VectorFunctions.vec_argmin_cell(
          $"v", $"dxx", $"cents"))
        .select($"vec_id", $"best.cluster", $"best.sq")
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
      assert(served == expect,
        "reloaded-model assignments diverge from the training run")
    }
  }
}
