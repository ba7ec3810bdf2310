package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftListenerBus, SparkSession}
import scala.util.Try
import scala.util.chaining._

/** The catalog run loop the Bench and Verify mains share: each query is
  * built and handed to a sink, timed, and charged with the Spark work it
  * caused — jobs, stages, tasks, shuffle bytes and input rows. An empty job
  * costs ~60-100 ms on a 4-core VM (tools/host_probe.py measures it), so
  * `jobs × tiny_job_ms` bounds a query's latency floor; the shuffle byte
  * columns bound its exchange work.
  */
object Run {
  type Query = (SparkSession, String) => DataFrame

  /** One query's run: its wall seconds (build plus sink), or the non-fatal
    * failure it threw, and the Spark work it caused. `inputRows` counts
    * the records its tasks read from files and cached or checkpointed
    * blocks: Parquet's vectored reads run off the task thread, so the
    * task's input bytes miss most of a parquet scan, while its record
    * count is exact. */
  final case class Record(name: String, seconds: Try[Double], jobs: Int, stages: Int,
      tasks: Int, shuffleRead: Long, shuffleWrite: Long, inputRows: Long)

  /** The queries `SPARK_GRAFT_ONLY` names (comma-separated), or every query
    * sorted by name when it is unset. */
  def select(all: Map[String, Query]): Seq[(String, Query)] =
    named(all, sys.env.get("SPARK_GRAFT_ONLY").fold(all.keys.toSeq.sorted)(_.split(",").toSeq))

  /** The queries `names` names, in that order; fails, naming them, when any
    * name is not in `all`, so a typo never selects an empty catalog. */
  def named(all: Map[String, Query], names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.map("'" + _ + "'").mkString(", ")}")
    names.distinct.map(n => n -> all(n))
  }

  /** Runs each query on `sfDir` through `sink`, one at a time, and returns
    * one record per query in run order. A non-fatal failure is printed and
    * recorded, and the loop goes on to the next query; a fatal error (OOM,
    * linkage) propagates. The cache is cleared after every query, so frames
    * one query persisted (LSH bands, shingles) never put later queries
    * under storage-memory pressure. */
  def each(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)])(
      sink: (String, DataFrame) => Unit): Seq[Record] = {
    val sc = spark.sparkContext
    val counter = SessionMemo.memo(spark, "", "run-counter")(new Counter(sc).tap(sc.addSparkListener))
    counter.take("", Try(0.0)) // drop the work before this loop
    queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val seconds = Try {
        sink(name, fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      seconds.failed.foreach(e => System.err.println(s"[run] $name failed: ${e.getMessage}"))
      spark.catalog.clearCache()
      counter.take(name, seconds)
    }
  }

  /** Global counters of the context's work since the last `take`. */
  private final class Counter(sc: SparkContext) extends SparkListener {
    private var jobs, stages, tasks = 0
    private var shuffleRead, shuffleWrite, inputRows = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        inputRows += m.inputMetrics.recordsRead
      }
    }

    /** The counts of all the work so far as `name`'s record; resets them.
      * The bus delivers events in order, and a job's events are posted
      * before its action returns: once the bus is drained, every event of
      * the work so far is counted and none of the next query's can be. */
    def take(name: String, seconds: Try[Double]): Record = {
      GraftListenerBus.drain(sc)
      synchronized {
        val r = Record(name, seconds, jobs, stages, tasks, shuffleRead, shuffleWrite, inputRows)
        jobs = 0; stages = 0; tasks = 0; shuffleRead = 0L; shuffleWrite = 0L; inputRows = 0L
        r
      }
    }
  }
}
