package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.{Semaphore, TimeUnit}
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1): run catalog queries
  * through the noop sink and report, per query, the structural costs the
  * wall clock is made of — Spark job count, stage count, task count, shuffle
  * read/write bytes, input bytes. On this host an empty job costs ~60-100 ms
  * (tools/host_probe.py), so `jobs × tiny_job_ms` bounds the latency floor of
  * a query; the shuffle byte columns bound its exchange work. Guides which
  * queries are latency-bound (fix: fewer actions/checkpoints) vs
  * shuffle-bound (fix: guide §2-3) at bench scale.
  *
  * Usage: runMain graft.ProfileJobs <sfDir> [reps] [name ...] (default: all)
  * Prints one JSON line per query (min wall over reps, counters from the
  * last rep) plus a trailing line of the counters' totals.
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = Engine.session("graft-profile-jobs")
    Engine.tuneLogging()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var input = 0L
    val marker = "graft-profile-jobs-marker"
    @volatile var markerJob = -1
    @volatile var atMarker = (0, 0, 0, 0L, 0L, 0L)
    val markerEnded = new Semaphore(0)
    val verbose = sys.env.get("GRAFT_PROFILE_VERBOSE").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(marker)) {
          markerJob = j.jobId
          atMarker = (jobs, stages, tasks, shufRead, shufWrite, input)
        } else {
          jobs += 1
          if (verbose) {
            val label = desc.orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            println(s"[job] ${j.jobId} stages=${j.stageInfos.size} ${label.getOrElse("?")}")
          }
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerJob) markerEnded.release()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          input += m.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    /** The counters as they stood when a marker job started. The bus
      * delivers events in order, so every event of the jobs before the
      * marker has been counted by then; waiting for the marker's end as
      * well keeps its own stage and task out of the next reading. */
    def drain(): (Int, Int, Int, Long, Long, Long) = {
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      if (!markerEnded.tryAcquire(30, TimeUnit.SECONDS))
        throw new IllegalStateException("the marker job's end never reached the listener")
      atMarker
    }

    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    // one warmup (JIT/codegen/parquet footers)
    try SparkEntry.queries("e1_knn_brute")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }
    drain()

    var totals = (0, 0, 0)
    names.foreach { n =>
      var counts = (0, 0, 0, 0L, 0L, 0L)
      val walls = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        jobs = 0; stages = 0; tasks = 0; shufRead = 0L; shufWrite = 0L; input = 0L
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        counts = drain()
        wall
      }
      spark.catalog.clearCache()
      val (j, st, t, sr, sw, in) = counts
      totals = (totals._1 + j, totals._2 + st, totals._3 + t)
      println(
        f"""{"q":"$n","wall_s":${walls.min}%.3f,"jobs":$j,"stages":$st,"tasks":$t,"shuf_read_mb":${sr / 1e6}%.1f,"shuf_write_mb":${sw / 1e6}%.1f,"input_mb":${in / 1e6}%.1f}""")
    }
    println(s"""{"queries":${names.size},"jobs":${totals._1},"stages":${totals._2},"tasks":${totals._3}}""")
    spark.stop()
  }
}
