package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener event times and query phase summaries. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Int)
final case class TaskRec(
    endMs: Long, delayMs: Long, cpuNs: Long,
    inBytes: Long, inRows: Long, shWrite: Long, shRead: Long,
    fetchWaitMs: Long, spill: Long)
final case class PhaseRec(name: String, startMs: Long, endMs: Long)

/** Spark listeners of the traced run: jobs, stages, tasks and the planning
  * phases of every query execution. Registered only when tracing. */
final class Trace(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QueryExecution]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val r = JobRec(j.jobId, j.time, -1L, j.stageInfos.size)
      open.put(j.jobId, r)
      jobs.add(r)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(open.remove(j.jobId)).foreach(_.endMs = j.time)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      val i = t.taskInfo
      if (m != null) {
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        tasks.add(TaskRec(i.finishTime, math.max(0L, delay), m.executorCpuTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every job end seen so far. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (!open.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1).toSeq

  def tasksIn(fromMs: Double, toMs: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.endMs >= fromMs - 1 && t.endMs <= toMs + 1).toSeq

  /** Query executions whose first planning phase started in the interval
    * (listener events arrive late, so their delivery time would not do). */
  def qesIn(fromMs: Double, toMs: Double): Seq[QueryExecution] =
    qes.asScala.filter { q =>
      Trace.phases(q).map(_.startMs).minOption.exists(t => t >= fromMs - 1 && t <= toMs + 1)
    }.toSeq
}

object Trace {
  /** Planning phases of a query execution, with their wall intervals. */
  def phases(qe: QueryExecution): Seq[PhaseRec] =
    qe.tracker.phases.toSeq.map { case (n, p) => PhaseRec(n, p.startTimeMs, p.endTimeMs) }

  /** Every physical node of an executed plan, looking through adaptive
    * plans, query stages and subqueries; each node once. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = mutable.LinkedHashMap[Int, SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      val id = System.identityHashCode(p)
      if (!seen.contains(id)) {
        seen(id) = p
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
    }
    walk(root)
    seen.values.toSeq
  }

  /** Each object once, by identity (plans and executions have no equality). */
  def distinct[T <: AnyRef](xs: Seq[T]): Seq[T] = {
    val seen = mutable.LinkedHashMap[Int, T]()
    xs.foreach(x => seen.getOrElseUpdate(System.identityHashCode(x), x))
    seen.values.toSeq
  }

  /** Every node of the executed plans of `qes`, each once. */
  def planNodes(qes: Seq[QueryExecution]): Seq[SparkPlan] =
    distinct(qes.flatMap(q => try nodes(q.executedPlan) catch { case _: Throwable => Nil }))

  /** Sum of one SQL metric over the nodes whose class name matches. */
  def metric(ns: Seq[SparkPlan], node: String => Boolean, name: String): Long =
    ns.filter(n => node(n.getClass.getSimpleName))
      .flatMap(_.metrics.get(name)).map(_.value).sum

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    xs.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}
