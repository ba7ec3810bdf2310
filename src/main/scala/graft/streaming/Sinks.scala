package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Sink-side routing (SURVEY §2.3 P6, §2.2): the reference's
  * `split().branch(...)` fans one stream into N topic sinks
  * (samples/PurchaseEventTicket.java:97-158). In Spark the routing column
  * is computed once and the fan-out happens at the sink:
  *
  *  - batch: [[writeRoutedBatch]] — one pass, partitioned output dirs;
  *  - streaming: [[routedForeachBatch]] — `foreachBatch` writes every route
  *    from the SAME micro-batch DataFrame, which is what gives multi-sink
  *    atomicity per batch (all routes see one consistent snapshot; N
  *    separate `writeStream`s would re-read the source N times and could
  *    diverge).
  *
  * At scale, `partitionBy(route)` writes each route's files under its own
  * directory in the single pass — no per-route job, no extra shuffle.
  */
object Sinks {

  /** Batch fan-out: one scan, `partitionBy` on the routing column. */
  def writeRoutedBatch(df: DataFrame, routeCol: String, baseDir: String): Unit =
    df.write.mode("overwrite").partitionBy(routeCol).parquet(baseDir)

  /** Idempotent micro-batch parquet sink — exactly-once FILE output on top
    * of foreachBatch's at-least-once delivery: Structured Streaming retries
    * a failed batch with the SAME batchId, so making the write a
    * skip-if-committed upsert keyed on batchId closes the gap.
    *
    * Write protocol (the part naive `if (!exists) write` gets wrong: a
    * crash mid-write leaves a partial directory that the retry would then
    * skip — silent data loss):
    *   1. if the FINAL dir `batch_id=<id>` exists → committed earlier, skip;
    *   2. write to an ATTEMPT-UNIQUE `.tmp-<id>-<uuid>` staging dir —
    *      unique per attempt so a zombie driver racing a failover driver
    *      can never interleave part files into one staging dir;
    *   3. commit staging → final with [[graft.Commit.renameExclusive]];
    *      the first rename is the commit point. A losing attempt leaves the
    *      committed dir untouched and deletes its own staging dir. On
    *      object stores without atomic rename, swap the rename for a
    *      manifest commit; same protocol shape.
    * Readers see only committed per-batch directories (compact
    * periodically downstream). */
  def idempotentParquetSink(baseDir: String)(batch: Dataset[Row], batchId: Long): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val fin = new org.apache.hadoop.fs.Path(s"$baseDir/batch_id=$batchId")
    val fs = fin.getFileSystem(conf)
    if (!fs.exists(fin)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$baseDir/.tmp-$batchId-${java.util.UUID.randomUUID()}")
      batch.write.mode("overwrite").parquet(tmp.toString)
      if (!graft.Commit.renameExclusive(fs, tmp, fin)) {
        // lost the commit race: delete our attempt; the batch IS
        // committed — by the winner
        fs.delete(tmp, true)
        if (!fs.exists(fin))
          throw new java.io.IOException(s"commit rename failed for batch $batchId")
      }
    }
    // hygiene: sweep any orphaned staging dirs of this batch (crashed
    // attempts have unique names nobody else will reuse or clean)
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$baseDir/.tmp-$batchId-*"))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Streaming fan-out with per-batch atomicity: every route is written
    * from one cached micro-batch snapshot. */
  def routedForeachBatch(
      ds: DataFrame, routeCol: String)(
      write: (String, DataFrame, Long) => Unit): DataStreamWriter[Row] =
    ds.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val cached = batch.persist()
      try {
        val routes = cached.select(col(routeCol)).distinct()
          .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
        routes.foreach { r =>
          // null-safe match: a null route (e.g. from a left-join miss) must
          // still reach a sink — `=== null` would silently drop those rows
          val slice =
            if (r == null) cached.filter(col(routeCol).isNull)
            else cached.filter(col(routeCol) === r)
          write(r, slice, batchId)
        }
      } finally { cached.unpersist(); () }
    }
}
