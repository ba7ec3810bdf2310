package graft.streaming

import graft.SparkSpec
import graft.operators.{ModelStore, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming twin of the IVF-PQ SEARCH pass (e15's serving half): queries
  * arrive as a stream and are scored per micro-batch against a STORED
  * model ([[ModelStore]] parquet → loaded once, centroids/books broadcast)
  * — the production ANN-serving shape, where the index is static tables
  * and serving is stateless per-batch work. Asserts every streamed query's
  * ranked neighbors equal the batch search over the same model. */
class StreamingAnnServeSpec extends SparkSpec {
  import spark.implicits._

  test("streamed query batches rank identically to the batch IVF-PQ search") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val docs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 0f, 1.0f, 0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }
    val corpus = docs.toDF("vec_id", "embedding")
    val (m, k, coarseK, dims) = (2, 2, 2, 4)
    val (a, c, codes, books) = Similarity.coarsePqModels(corpus, coarseK, 2, m, k, 2, dims)
    withTempDir("graft-serve") { dir =>
      ModelStore.saveCoarsePq(dir, a, c, codes, books, m, k, coarseK, dims)
      val (la, lc, lcodes, lbooks) = ModelStore.loadCoarsePq(spark, dir, m, k, coarseK, dims)

      val queries = docs.take(6)
      val expect = Similarity.ivfPqSearchFrom(
        la, lc, lcodes, lbooks, queries.toDF("vec_id", "embedding"), m, dims / m, 3, 2)
        .as[(Long, Long, Int, Double)].collect().toSet

      val in = MemoryStream[(Long, Array[Float])]
      val got = scala.collection.mutable.Set[(Long, Long, Int, Double)]()
      val q = in.toDF().toDF("vec_id", "embedding")
        .writeStream
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= Similarity.ivfPqSearchFrom(
            la, lc, lcodes, lbooks, b, m, dims / m, 3, 2)
            .as[(Long, Long, Int, Double)].collect()
          ()
        }
        .start()
      try {
        in.addData(queries.take(2): _*)
        q.processAllAvailable()
        in.addData(queries.drop(2): _*)
        q.processAllAvailable()
      } finally q.stop()

      assert(expect.nonEmpty, "degenerate fixture: the batch search returned nothing")
      assert(got.toSet == expect,
        "streamed per-batch search diverges from the batch search over the stored model")
    }
  }
}
