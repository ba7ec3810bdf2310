package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch/streaming duality over a real file source: the same rollup plan
  * runs as a parquet file STREAM (the production shape for landing-zone
  * ingestion at scale) and must agree exactly with the batch result.
  * SURVEY §7.2: "runnable in batch or streaming" is the design contract
  * for every operator in this engine. */
class FileStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("file-stream rollup equals the batch rollup on the same parquet") {
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("hour_bucket", expr("ts div 3600000000"))
        .groupBy(col("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))

    // the stream must declare the file's PHYSICAL schema (ns-as-long or
    // µs-as-timestamp, depending on the generator); infer it from a batch
    // read, then normalize ts with the same helper every batch query uses
    val physicalSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = graft.Tables.tsToMicros(
      spark.readStream
        .schema(physicalSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    val q = rollup(streamIn)
      .writeStream.format("memory").queryName("file_rollup")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_rollup")
        .orderBy("hour_bucket", "event_type").collect().toSeq
      val batch = rollup(graft.Tables.events(spark, dir))
        .orderBy("hour_bucket", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
