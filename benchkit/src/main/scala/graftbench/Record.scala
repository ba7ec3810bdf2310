package graftbench

import graft.{Engine, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Runs a query list the way `catalog-write` does, for record.py, which
  * compares each written result with the oracle-checked one.
  *
  * Usage: graftbench.Record <data dir> <output dir> <result file> <query,...>
  *
  * Each query runs twice (the first touch trains fixtures) and its second
  * result is written under `<output dir>/<query>`. The result file holds,
  * per query, the input rows the second run scanned: the fixed row count
  * behind `rows_per_s`.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out, resultFile, names) = args
    val spark = Engine.session("graftbench-record", cores = "2")
    Engine.tuneLogging()
    val rows = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) rows.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    })
    def write(q: String): Unit = {
      SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      spark.catalog.clearCache()
      Thread.sleep(300)
    }
    val scanned = names.split(",").toSeq.map { q =>
      write(q)
      rows.set(0)
      write(q)
      q -> Map("rows" -> rows.get())
    }
    Files.writeString(Paths.get(resultFile), Json(scanned.toMap))
    spark.stop()
  }
}
