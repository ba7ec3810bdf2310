package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class IdempotentSinkSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch retries with the same batchId write each batch's rows exactly once") {
    implicit val ctx = spark.sqlContext
    withTempDir("graft_eo_sink") { dir =>
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("id", "v")
        .writeStream
        .foreachBatch(Sinks.idempotentParquetSink(dir) _)
        .start()
      try {
        in.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
        in.addData((3L, "c"))
        q.processAllAvailable()

        // simulate the engine retrying batch 0 after a failure: same batchId,
        // re-delivered rows — the committed batch must be untouched
        Sinks.idempotentParquetSink(dir)(
          Seq((1L, "a"), (2L, "b"), (99L, "dup-from-retry")).toDF("id", "v"), 0L)

        val out = spark.read.parquet(dir).select($"id", $"v")
          .as[(Long, String)].collect().sortBy(_._1)
        assert(out.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
          s"retry duplicated or lost rows: ${out.toSeq}")
      } finally q.stop()
    }
  }

  test("a crashed attempt's orphaned staging dir is swept, not mistaken for a commit") {
    withTempDir("graft_eo_crash") { dir =>
      // fake a crash: an attempt-unique staging dir with garbage, final absent
      val staging = new java.io.File(s"$dir/.tmp-7-dead-attempt"); staging.mkdirs()
      Files.write(staging.toPath.resolve("partial.parquet"), Array[Byte](1, 2, 3))
      Sinks.idempotentParquetSink(dir)(Seq((42L, "x")).toDF("id", "v"), 7L)
      val out = spark.read.parquet(s"$dir/batch_id=7").as[(Long, String)].collect()
      assert(out.toSeq == Seq((42L, "x")))
      assert(!staging.exists(), "orphaned staging dir must be swept after commit")
    }
  }
}
