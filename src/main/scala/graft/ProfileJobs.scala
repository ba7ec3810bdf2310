package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
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
  * Prints one JSON line per query (median wall over reps, counters from the
  * last rep) plus a trailing summary line.
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
    val verbose = sys.env.get("GRAFT_PROFILE_VERBOSE").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (verbose) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          println(s"[job] ${j.jobId} stages=${j.stageInfos.size} $desc")
        }
      }
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

    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    // one warmup (JIT/codegen/parquet footers)
    try SparkEntry.queries("e1_knn_brute")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }

    names.foreach { n =>
      val walls = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        jobs = 0; stages = 0; tasks = 0; shufRead = 0L; shufWrite = 0L; input = 0L
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        // drain queued listener events so the counters are complete
        // (listenerBus is private[spark]; a short sleep suffices for a
        // local-mode bus that is idle once the action returns)
        Thread.sleep(150)
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      val wall = walls.min
      println(
        f"""{"q":"$n","wall_s":$wall%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuf_read_mb":${shufRead / 1e6}%.1f,"shuf_write_mb":${shufWrite / 1e6}%.1f,"input_mb":${input / 1e6}%.1f}""")
    }
    spark.stop()
  }
}
