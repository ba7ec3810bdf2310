package graftbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM.
  *
  * Usage: graftbench.Main <plan file> <result file> <trace 0|1>
  *
  * The plan (written by run.py from the seed) is tab-separated `key value…`
  * lines. The result file gets one JSON object: every op with its latency,
  * the phase times, and with tracing the per-layer metrics. The ops' answers
  * are left on disk and checked by run.py, not here.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(planFile, resultFile, traceArg) = args
    val plan = Plan.read(planFile)
    val traced = traceArg == "1"
    val res = mutable.LinkedHashMap[String, Any]()
    val s0 = Clock.ms()
    val spark = Engine.session("graftbench", cores = "2")
    Engine.tuneLogging()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    res("session_ms") = Clock.ms() - s0
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.attach())
    try {
      plan.one("workload") match {
        case "stream-stateful" => new StreamRun(spark, plan, trace, res).run()
        case _ => new BatchRun(spark, plan, trace, res).run()
      }
      res("ok") = true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res("ok") = false
        res("error") = String.valueOf(e)
    } finally {
      res("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
      res("peak_rss_kb") = Jvm.peakRssKb()
      Files.writeString(Paths.get(resultFile), Json(res))
      spark.stop()
    }
  }
}

/** JSON text of the result maps and sequences, with Spark's Jackson. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** The plan file: tab-separated lines, first field the key. */
final case class Plan(lines: Seq[Array[String]]) {
  def all(key: String): Seq[Seq[String]] = lines.filter(_.head == key).map(_.toSeq.tail)
  def one(key: String): String = all(key).head.head
  def list(key: String): Seq[String] =
    all(key).headOption.flatMap(_.headOption).map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
}
object Plan {
  def read(f: String): Plan =
    Plan(Files.readAllLines(Paths.get(f)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t")))
}

object Jvm {
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread, JIT and GC included), in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Time the JIT compiler threads have spent compiling, in ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // The JIT compiler threads, by name; run.py turns off their dynamic start
  // and stop, so the JVM keeps the same ones for its whole life.
  private lazy val compilerThreads: Seq[Path] =
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.toSeq.filter { t =>
      val name = Files.readString(t.resolve("comm")).trim
      name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")
    }

  /** CPU time of the process without its JIT compiler threads, in ms: the
    * work of the engine, the harness and the GC. Like all CPU time it leaves
    * out the time the host's hypervisor gave the vCPUs to other guests
    * (steal), which wall time includes. */
  def workCpuMs(): Double = {
    // first field of schedstat: ns on CPU, the same clock as process CPU time
    val jitNs = compilerThreads.map(t => Files.readString(t.resolve("schedstat")).split(" ")(0).toLong).sum
    (os.getProcessCpuTime - jitNs) / 1e6
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** One batch op: build the query, run its action, record spans. */
final case class Op(
    name: String, pass: Int, phase: String, traced: Boolean,
    t0: Double, t1: Double, t2: Double, ok: Boolean, err: String,
    qe: Option[QueryExecution]) {
  def wallMs: Double = t2 - t0
}

/** `catalog-write`: whole passes over a query list, each result written as
  * parquet the way `graft.Verify` writes it (`coalesce(1)`, overwrite).
  * Warm passes (untimed) run first; the timed passes follow. With tracing, each timed
  * pass runs twice, once traced and once with the listeners detached, so the
  * tracing overhead is measured on the same work; which of the two runs first
  * alternates from pass to pass. */
final class BatchRun(
    spark: SparkSession, plan: Plan, trace: Option[Trace],
    res: mutable.Map[String, Any]) {
  private val data = plan.one("data")
  private val out = plan.one("out")
  private val ops = ArrayBuffer[Op]()

  private def runOp(name: String, pass: Int, phase: String, traced: Boolean): Op = {
    val t0 = Clock.ms()
    var t1 = t0
    var qe: Option[QueryExecution] = None
    val (ok, err) =
      try {
        val df = SparkEntry.queries(name)(spark, data)
        t1 = Clock.ms()
        qe = Some(df.queryExecution)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$phase$pass/$name")
        (true, null)
      } catch { case e: Throwable => (false, String.valueOf(e).take(300)) }
    val t2 = Clock.ms()
    spark.catalog.clearCache()
    Op(name, pass, phase, traced, t0, t1, t2, ok, err, qe)
  }

  private def runPass(names: Seq[String], pass: Int, phase: String, traced: Boolean): Double = {
    val a = Clock.ms()
    names.foreach(n => ops += runOp(n, pass, phase, traced))
    Clock.ms() - a
  }

  def run(): Unit = {
    val warm = plan.all("warm").map(_.head.split(",").toSeq)
    val timed = plan.all("timed").map(_.head.split(",").toSeq)
    res("warm_pass_ms") = warm.zipWithIndex.map { case (ns, i) => runPass(ns, i, "warm", trace.isDefined) }
    res("first_timed_ms") = Clock.ms()
    val work0 = Jvm.workCpuMs()
    res("setup_work_cpu_ms") = work0
    val gc0 = Jvm.gcMs()
    val cpu0 = Jvm.cpuMs()
    val jit0 = Jvm.jitMs()
    Jvm.resetHeapPeak()
    val passMs = ArrayBuffer[Double]()
    val untracedMs = ArrayBuffer[Double]()
    timed.zipWithIndex.foreach { case (ns, i) =>
      def tracedPass(): Unit = passMs += runPass(ns, i, "timed", trace.isDefined)
      trace match {
        case Some(t) =>
          // the side that runs second is warmer: alternate which goes first
          def untracedPass(): Unit = {
            t.detach()
            untracedMs += runPass(ns, i, "untraced", traced = false)
            t.attach()
          }
          if (i % 2 == 0) { tracedPass(); untracedPass() } else { untracedPass(); tracedPass() }
        case None => tracedPass()
      }
    }
    res("timed_pass_ms") = passMs
    res("gc_ms") = Jvm.gcMs() - gc0
    res("timed_work_cpu_ms") = Jvm.workCpuMs() - work0
    res("cpu_ms") = Jvm.cpuMs() - cpu0
    res("jit_ms") = Jvm.jitMs() - jit0
    res("heap_peak_mb") = Jvm.heapPeakMb()
    res("ops") = ops.map(o => Map(
      "q" -> o.name, "pass" -> o.pass, "phase" -> o.phase, "ms" -> o.wallMs,
      "build_ms" -> (o.t1 - o.t0), "ok" -> o.ok, "err" -> o.err))
    trace.foreach { t =>
      t.settle()
      res("layers") = Layers.batch(t, ops.toSeq, passMs.sum - untracedMs.sum, res)
    }
  }
}
