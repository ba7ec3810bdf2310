package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the timed part of a traced `stream-stateful` round
  * (the warm batches before it are left out). Micro-batch phase
  * times and state-store metrics come from the progress events the
  * `StreamingQueryListener` received; jobs and tasks from the Spark listener
  * over the round's interval; sink spans from the harness's wrapper around
  * `Sinks.idempotentParquetSink`. Over all batches, the share of trigger
  * time the phases do not add up to is `trace.unaccounted_share`. */
object StreamLayers {
  private val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  def apply(t: Trace, round: Map[String, Any], overheadMs: Double,
            res: mutable.Map[String, Any]): Map[String, Double] = {
    def num(a: Any): Double = a match { case d: Double => d; case l: Long => l.toDouble; case i: Int => i; case _ => 0.0 }
    val lo = num(round("t_start"))
    val hi = num(round("t_end"))
    val names = Set("timed_ledger", "timed_topk", "timed_rollup")
    val ps: Seq[StreamingQueryProgress] =
      t.progress.asScala.map(_.progress).filter(p => names.contains(p.name) &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= lo - 1).toSeq
    val n = math.max(1, ps.size).toDouble
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def meanDur(k: String) = ps.map(dur(_, k)).sum / n
    val trigger = ps.map(dur(_, "triggerExecution")).sum
    val phases = ps.map(p => Phases.map(dur(p, _)).sum).sum
    val last = ps.groupBy(_.name).values.map(_.maxBy(_.batchId)).toSeq
    def custom(p: StreamingQueryProgress, k: String): Double =
      p.stateOperators.map(s => Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    def stateMean(k: String) = ps.map(custom(_, k)).sum / n
    val withRows = ps.filter(_.numInputRows > 0)
    val jobs = t.jobsIn(lo, hi)
    val tasks = t.tasksIn(lo, hi)
    val qes = t.qesIn(lo, hi)
    val nodes = Trace.planNodes(qes)
    def write(k: String) = Trace.metric(nodes, n => n == "DataWritingCommandExec" || n.startsWith("WriteFiles"), k).toDouble
    val files = round("files").asInstanceOf[Seq[Map[String, Any]]]
    val paced = files.filter(f => num(f("due")) > lo)
    val backlog = paced.map { f =>
      val at = num(f("landed"))
      paced.count(g => num(g("landed")) <= at && num(g("commit")) > at)
    }.maxOption.getOrElse(0)
    val sinkSpans = res.get("sink_spans_ms").collect { case s: Seq[_] => s.map(num) }.getOrElse(Nil)
    Layers.common(res, overheadMs) ++ Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> withRows.map(_.numInputRows).sum.toDouble / math.max(1, withRows.size),
      "streaming.getBatch_ms" -> meanDur("getBatch"),
      "streaming.queryPlanning_ms" -> meanDur("queryPlanning"),
      "streaming.addBatch_ms" -> meanDur("addBatch"),
      "streaming.walCommit_ms" -> meanDur("walCommit"),
      "streaming.commitOffsets_ms" -> meanDur("commitOffsets"),
      "streaming.backlog_files_max" -> backlog.toDouble,
      "state.rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "state.memory_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble,
      "state.commit_ms" -> ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum / n,
      "state.fileSync_ms" -> stateMean("rocksdbCommitFileSyncLatencyMs"),
      "state.checkpoint_ms" -> stateMean("rocksdbCommitCheckpointLatencyMs"),
      "state.flush_ms" -> stateMean("rocksdbCommitFlushLatencyMs"),
      "state.sst_bytes" -> last.map(custom(_, "rocksdbSstFileSize")).sum,
      "gen.late_ms_max" -> num(round("late_ms_max")),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> jobs.map(_.stages).sum.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.jobs_per_op" -> jobs.size / n,
      "sched.job_ms" -> jobs.map(j => (if (j.endMs < 0) hi else j.endMs.toDouble) - j.startMs).sum / math.max(1, jobs.size),
      "sched.task_delay_ms" -> tasks.map(_.delayMs).sum.toDouble / math.max(1, tasks.size),
      "sink.write_ms" -> sinkSpans.sum / math.max(1, sinkSpans.size),
      "sink.commit_ms" -> (write("jobCommitTime") + write("taskCommitTime")) / n,
      "sink.files" -> write("numFiles"),
      "sink.bytes" -> write("numOutputBytes"),
      "trace.unaccounted_share" -> math.abs(trigger - phases) / math.max(1.0, trigger),
    ) ++ Layers.taskLayers(tasks) ++ Layers.operatorLayers(nodes)
  }
}
