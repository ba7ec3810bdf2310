package graftbench

import org.apache.spark.sql.execution.SparkPlan

import scala.collection.mutable

/** Per-layer metrics of a traced run.
  *
  * An op is two harness spans, the build and the action (the write). Their
  * wall time is split into self times that do not overlap:
  *   - queries: the build span minus the planning phases and Spark jobs that
  *     ran inside it (fixture first touch runs jobs there; those jobs count
  *     as queries time too);
  *   - plan: the analysis, optimization and planning phases of every query
  *     execution in the op;
  *   - sched: the union of the op's Spark job intervals in the action, plus
  *     the driver gap, the action span's own self time (action time covered
  *     by no phase, job or job commit: AQE re-planning between stages, write
  *     set-up, and other driver work no listener reports);
  *   - sink: the job commit of a write.
  * The build and action spans cover the op's wall, so the self times add up
  * to it by construction; what the accounting can catch is double counting.
  * Where child spans overlap, a self time would go negative; the largest
  * such share of one op's wall is `trace.unaccounted_share`, which run.py
  * holds to a stated tolerance.
  */
object Layers {
  private def isScan(n: String) = n.startsWith("FileSourceScan") || n.startsWith("BatchScan")
  private def isAgg(n: String) = n.contains("Aggregate")
  private def isWrite(n: String) = n == "DataWritingCommandExec" || n.startsWith("WriteFiles")

  def batch(t: Trace, ops: Seq[Op], overheadMs: Double, res: mutable.Map[String, Any]): Map[String, Double] = {
    val timed = ops.filter(o => o.phase == "timed" && o.traced)
    val n = math.max(1, timed.size).toDouble
    var build, analysis, optimization, planning, jobMs, gap, commit = 0.0
    var jobs, stages = 0L
    var unaccountedMax = 0.0
    val allNodes = mutable.ArrayBuffer[SparkPlan]()
    var writeMs = 0.0
    timed.foreach { o =>
      val qes = Trace.distinct(o.qe.toSeq ++ t.qesIn(o.t0, o.t2))
      val ph = qes.flatMap(Trace.phases).filter(p => p.endMs >= p.startMs)
      def phaseMs(lo: Double, hi: Double) =
        ph.filter(p => p.startMs >= lo - 1 && p.startMs < hi).map(p => (p.endMs - p.startMs).toDouble).sum
      val js = t.jobsIn(o.t0, o.t2)
      def jobUnion(lo: Double, hi: Double) =
        Trace.unionMs(js.map(j => (j.startMs.toDouble, if (j.endMs < 0) hi else j.endMs.toDouble)), lo, hi)
      val nodes = Trace.planNodes(qes)
      allNodes ++= nodes
      val jobCommit = Trace.metric(nodes, isWrite, "jobCommitTime").toDouble
      val pB = phaseMs(o.t0, o.t1)
      val pA = phaseMs(o.t1, o.t2 + 1)
      val jB = jobUnion(o.t0, o.t1)
      val jA = jobUnion(o.t1, o.t2)
      val buildSelf = (o.t1 - o.t0) - pB - jB
      val actionSelf = (o.t2 - o.t1) - pA - jA - jobCommit
      val unaccounted = math.max(0.0, -buildSelf) + math.max(0.0, -actionSelf)
      unaccountedMax = math.max(unaccountedMax, unaccounted / math.max(1.0, o.wallMs))
      build += math.max(0.0, buildSelf) + jB
      ph.foreach { p =>
        val d = (p.endMs - p.startMs).toDouble
        p.name match {
          case "analysis" => analysis += d
          case "optimization" => optimization += d
          case "planning" => planning += d
          case _ => ()
        }
      }
      jobMs += jA
      gap += math.max(0.0, actionSelf)
      commit += jobCommit + Trace.metric(nodes, isWrite, "taskCommitTime")
      if (jobCommit > 0 || Trace.metric(nodes, isWrite, "numFiles") > 0) writeMs += o.t2 - o.t1
      jobs += js.size
      stages += js.map(_.stages).sum
    }
    val lo = timed.map(_.t0).minOption.getOrElse(0.0)
    val hi = timed.map(_.t2).maxOption.getOrElse(0.0)
    val tasks = t.tasksIn(lo, hi).filter(tk => timed.exists(o => tk.endMs >= o.t0 - 1 && tk.endMs <= o.t2 + 1))
    val ns = Trace.distinct(allNodes.toSeq)
    // fixture first touch: extra build time of the first warm pass over the
    // same queries' build time when warm, and the jobs run inside builds
    val warm0 = ops.filter(o => o.phase == "warm" && o.pass == 0)
    val warmBuildOf = timed.groupBy(_.name).map { case (k, v) => k -> v.map(o => o.t1 - o.t0).sum / v.size }
    val fixtureS = warm0.map(o => math.max(0.0, (o.t1 - o.t0) - warmBuildOf.getOrElse(o.name, 0.0))).sum / 1000
    val fixtureJobs = warm0.map(o => t.jobsIn(o.t0, o.t1).size).sum
    common(res, overheadMs) ++ Map(
      "queries.build_ms" -> build / n,
      "queries.fixture_s" -> fixtureS,
      "queries.fixture_jobs" -> fixtureJobs.toDouble,
      "plan.analysis_ms" -> analysis / n,
      "plan.optimization_ms" -> optimization / n,
      "plan.planning_ms" -> planning / n,
      "sched.jobs" -> jobs.toDouble,
      "sched.stages" -> stages.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.jobs_per_op" -> jobs / n,
      "sched.job_ms" -> jobMs / n,
      "sched.driver_gap_ms" -> gap / n,
      "sched.task_delay_ms" -> tasks.map(_.delayMs).sum.toDouble / math.max(1, tasks.size),
      "sink.write_ms" -> writeMs / n,
      "sink.commit_ms" -> commit / n,
      "sink.files" -> Trace.metric(ns, isWrite, "numFiles").toDouble,
      "sink.bytes" -> Trace.metric(ns, isWrite, "numOutputBytes").toDouble,
      "trace.unaccounted_share" -> unaccountedMax,
    ) ++ taskLayers(tasks) ++ operatorLayers(ns)
  }

  def taskLayers(tasks: Seq[TaskRec]): Map[String, Double] = Map(
    "scan.bytes" -> tasks.map(_.inBytes).sum.toDouble,
    "scan.rows" -> tasks.map(_.inRows).sum.toDouble,
    "exchange.write_bytes" -> tasks.map(_.shWrite).sum.toDouble,
    "exchange.read_bytes" -> tasks.map(_.shRead).sum.toDouble,
    "exchange.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum.toDouble,
    "exchange.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
    "functions.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
  )

  def operatorLayers(ns: Seq[SparkPlan]): Map[String, Double] = Map(
    "scan.ms" -> Trace.metric(ns, isScan, "scanTime").toDouble,
    "operators.join_build_ms" -> (Trace.metric(ns, _.startsWith("BroadcastExchange"), "buildTime") +
      Trace.metric(ns, _.startsWith("ShuffledHashJoin"), "buildTime")).toDouble,
    "operators.broadcast_bytes" -> Trace.metric(ns, _.startsWith("BroadcastExchange"), "dataSize").toDouble,
    "operators.agg_ms" -> Trace.metric(ns, isAgg, "aggTime").toDouble,
    "operators.sort_ms" -> Trace.metric(ns, _.startsWith("Sort"), "sortTime").toDouble,
    "operators.window_ms" -> ns.filter(_.getClass.getSimpleName.startsWith("Window"))
      .flatMap(_.metrics.collect { case (k, m) if k.toLowerCase.endsWith("time") => m.value }).sum.toDouble,
  )

  def common(res: mutable.Map[String, Any], overheadMs: Double): Map[String, Double] = {
    def num(k: String) = res.get(k).collect { case d: Double => d; case l: Long => l.toDouble }.getOrElse(0.0)
    val warm = res.get("warm_pass_ms").collect { case s: Seq[_] => s.collect { case d: Double => d }.sum }.getOrElse(0.0)
    Map(
      "engine.session_s" -> num("session_ms") / 1000,
      "engine.warm_s" -> (warm + num("warm_stream_ms")) / 1000,
      "jvm.gc_s" -> num("gc_ms") / 1000,
      "jvm.jit_s" -> num("jit_ms") / 1000,
      "jvm.cpu_s" -> num("cpu_ms") / 1000,
      "jvm.heap_peak_mb" -> num("heap_peak_mb"),
      "trace.overhead_s" -> overheadMs / 1000,
    )
  }
}
