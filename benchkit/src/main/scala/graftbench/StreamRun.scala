package graftbench

import graft.streaming.{Keyed, Sinks, StatefulOps, TicketReq, WindowedOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `stream-stateful`: three RocksDB stateful queries read the same file
  * source and commit through `Sinks.idempotentParquetSink`:
  *   - ledger: `StatefulOps.capacityLedger` (per-ticket verdicts),
  *   - topk:   `StatefulOps.topKCounter(k = 3)` (top-3 venues per user),
  *   - rollup: `WindowedOps.tumblingRollup` (hourly count and sum per type).
  * A round first feeds the queries a few warm files, untimed, so the timed
  * work starts on running, warmed-up queries; then it drains a backlog of
  * files (throughput) and lands the remaining files on a fixed schedule
  * (latency). Afterwards the same operators run in batch over every
  * delivered row, as the reference the outputs are checked against.
  */
final class StreamRun(
    spark: SparkSession, plan: Plan, trace: Option[Trace],
    res: mutable.Map[String, Any]) {
  import spark.implicits._

  private val work = Paths.get(plan.one("work"))
  private val maxFiles = plan.one("max_files")
  private val watermark = plan.one("watermark")
  private val mtimeBase = System.currentTimeMillis() - 86400000L
  private val commits = new ConcurrentLinkedQueue[(String, Long, Double, Double)]()

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("seq", LongType)))

  private def venue(df: DataFrame) = get_json_object(df("props"), "$.k")

  private def tickets(df: DataFrame): Dataset[TicketReq] =
    df.select(df("event_id").cast("string").as("ticketId"),
      df("user_id").cast("string").as("customerid"),
      venue(df).as("eventid"),
      (lit(700) + pmod(venue(df).cast("int"), lit(60)) * 10).as("capacity"),
      df("seq")).as[TicketReq]

  private def listens(df: DataFrame): Dataset[Keyed[String]] =
    df.select(df("user_id").cast("string").as("key"), df("seq"), venue(df).as("value"))
      .as[Keyed[String]]

  private def rollup(df: DataFrame): DataFrame =
    WindowedOps.tumblingRollup(df, "ts", "event_type", "value", "1 hour", watermark)

  private def sinkFn(tag: String, dir: Path) = (b: Dataset[Row], id: Long) => {
    val a = Clock.ms()
    Sinks.idempotentParquetSink(dir.toString)(b, id)
    commits.add((tag, id, a, Clock.ms()))
    ()
  }

  private def start(round: String, src: Path): Seq[(String, StreamingQuery)] = {
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles)
      .parquet(src.toString)
    val dfs = Seq(
      ("ledger", StatefulOps.capacityLedger(tickets(in)).toDF(), "update"),
      ("topk", StatefulOps.topKCounter(listens(in), 3).toDF(), "update"),
      ("rollup", rollup(in), "append"))
    dfs.map { case (name, df, mode) =>
      val tag = s"$round/$name"
      tag -> df.writeStream.queryName(s"${round}_$name").outputMode(mode)
        .option("checkpointLocation", work.resolve(s"$round/ckpt/$name").toString)
        .foreachBatch(sinkFn(tag, work.resolve(s"$round/out/$name")))
        .start()
    }
  }

  private def rowsDone(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  private def awaitRows(qs: Seq[(String, StreamingQuery)], rows: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (qs.exists { case (_, q) => rowsDone(q) < rows }) {
      qs.foreach { case (_, q) => q.exception.foreach(e => throw e) }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"stream did not consume $rows rows in time")
      Thread.sleep(5)
    }
  }

  /** Stages file number `i` of a round in `src` under a hidden name, which
    * the file source skips, stamped one second after the previous file (the
    * file source reads files in modification-time order, and copies made
    * within one clock tick would tie). `publish` renames it in atomically. */
  private def stage(from: Path, src: Path, i: Int): Path = {
    val tmp = src.resolve("." + from.getFileName + ".tmp")
    Files.copy(from, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeBase + i * 1000L))
    tmp
  }

  private def publish(tmp: Path): Unit = {
    val name = tmp.getFileName.toString
    Files.move(tmp, tmp.resolveSibling(name.substring(1, name.length - 4)), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One round through one set of queries: `warm` feeds them until they
    * have consumed it (untimed; `onWarm` runs then), `drain` lands at once
    * as a backlog (throughput), then `paced` lands every `pacedMs`
    * (latency). */
  private def round(name: String, staging: Path, warm: Seq[String], drain: Seq[String],
                    paced: Seq[String], pacedMs: Double, rows: Map[String, Long],
                    onWarm: () => Unit): Map[String, Any] = {
    val src = work.resolve(s"$name/src")
    Files.createDirectories(src)
    val staged = (warm ++ drain ++ paced).zipWithIndex.map { case (f, i) => f -> stage(staging.resolve(f), src, i) }.toMap
    val warmLanded = warm.map { f => publish(staged(f)); f -> Clock.ms() }
    val warmRows = warm.map(rows).sum
    val drainRows = drain.map(rows).sum
    val qs = start(name, src)
    awaitRows(qs, warmRows, 150000)
    onWarm()
    val t0 = Clock.ms()
    val work0 = Jvm.workCpuMs()
    drain.foreach(f => publish(staged(f)))
    awaitRows(qs, warmRows + drainRows, 150000)
    val work1 = Jvm.workCpuMs()
    val arrivals = ArrayBuffer[(String, Double, Double)]()
    val p0 = Clock.ms() + pacedMs
    paced.zipWithIndex.foreach { case (f, i) =>
      val due = p0 + i * pacedMs
      val wait = due - Clock.ms()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      publish(staged(f))
      arrivals += ((f, due, Clock.ms()))
    }
    awaitRows(qs, warmRows + drainRows + paced.map(rows).sum, 150000)
    qs.foreach { case (_, q) => q.processAllAvailable() }
    val progress = qs.map { case (tag, q) => tag -> q.recentProgress.toSeq }
    qs.foreach { case (_, q) => q.stop() }
    val batchOfFile = qs.map { case (tag, _) => tag -> sourceLog(work.resolve(s"$name/ckpt/${tag.split('/')(1)}")) }.toMap
    val commitAt = commitsOf(name)
    // commit time of the batch that read each file, latest over the queries;
    // None when some query committed no batch that read it
    def committed(f: String): Option[Double] = {
      val ts = batchOfFile.toSeq.map { case (tag, m) => m.get(f).flatMap(b => commitAt.get((tag, b))) }
      if (ts.forall(_.isDefined)) Some(ts.flatten.max) else None
    }
    val drainEnd = drain.flatMap(committed).maxOption.getOrElse(Clock.ms())
    def file(f: String, due: Double, at: Double) = Map("file" -> f, "due" -> due, "landed" -> at, "commit" -> committed(f))
    Map(
      "t_start" -> t0,
      "t_end" -> Clock.ms(),
      "drain_rows" -> drainRows,
      "drain_files" -> drain.size,
      "drain_ms" -> (drainEnd - t0),
      "drain_work_cpu_ms" -> (work1 - work0),
      "files" -> (warmLanded.map { case (f, at) => file(f, at, at) } ++ drain.map(file(_, t0, t0)) ++
        arrivals.map { case (f, due, at) => file(f, due, at) }),
      "late_ms_max" -> arrivals.map { case (_, due, at) => at - due }.maxOption.getOrElse(0.0),
      "watermark_ms" -> progress.find(_._1.endsWith("rollup")).flatMap(_._2.lastOption)
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(-1L),
      "batches" -> progress.map(_._2.size).sum,
    )
  }

  private def commitsOf(round: String): Map[(String, Long), Double] =
    commits.asScala.filter(_._1.startsWith(round + "/"))
      .map { case (tag, id, _, end) => (tag, id) -> end }.toMap

  /** File name -> batch id, from a query's file-source log. */
  private def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources/0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => Paths.get(new java.net.URI(m.group(1))).getFileName.toString -> m.group(2).toLong)
      .toMap
  }

  /** The same operators in batch over every row the round delivered. */
  private def reference(name: String): Unit = {
    val all = spark.read.schema(schema).parquet(work.resolve(s"$name/src").toString)
    val ref = work.resolve(s"$name/ref")
    StatefulOps.capacityLedger(tickets(all)).write.mode("overwrite").parquet(ref.resolve("ledger").toString)
    StatefulOps.topKCounter(listens(all), 3).write.mode("overwrite").parquet(ref.resolve("topk").toString)
    rollup(all).write.mode("overwrite").parquet(ref.resolve("rollup").toString)
  }

  def run(): Unit = {
    val staging = Paths.get(plan.one("staging"))
    val rows = plan.all("rows").map(r => r(0) -> r(1).toLong).toMap
    val warm = plan.list("warm_files")
    val drain = plan.list("drain")
    val paced = plan.list("paced")
    val pacedMs = plan.one("paced_ms").toDouble
    val w0 = Clock.ms()
    var (gc0, cpu0, jit0) = (0L, 0.0, 0L)
    val timed = round("timed", staging, warm, drain, paced, pacedMs, rows, () => {
      res("warm_stream_ms") = Clock.ms() - w0
      res("first_timed_ms") = Clock.ms()
      res("setup_work_cpu_ms") = Jvm.workCpuMs()
      gc0 = Jvm.gcMs()
      cpu0 = Jvm.cpuMs()
      jit0 = Jvm.jitMs()
      Jvm.resetHeapPeak()
    })
    res("gc_ms") = Jvm.gcMs() - gc0
    res("cpu_ms") = Jvm.cpuMs() - cpu0
    res("jit_ms") = Jvm.jitMs() - jit0
    res("heap_peak_mb") = Jvm.heapPeakMb()
    res("rounds") = mutable.LinkedHashMap[String, Any]("timed" -> timed)
    trace.foreach { t =>
      t.settle()
      t.detach()
      // the overhead is taken on the drain, so this round has no paced files
      val untraced = round("untraced", staging, warm, drain, Nil, pacedMs, rows, () => ())
      res("rounds").asInstanceOf[mutable.Map[String, Any]]("untraced") = untraced
      // the untraced round runs second and warmer, so this bounds the
      // tracing cost from above rather than measuring it alone
      val overhead = num(timed("drain_ms")) - num(untraced("drain_ms"))
      res("sink_spans_ms") = commits.asScala.filter(c => c._1.startsWith("timed/") && c._3 >= num(timed("t_start")))
        .map { case (_, _, a, b) => b - a }.toSeq
      res("layers") = StreamLayers(t, timed, overhead, res)
    }
    res("rounds").asInstanceOf[mutable.Map[String, Any]].keys.foreach(reference)
  }

  private def num(a: Any): Double = a match { case d: Double => d; case l: Long => l.toDouble; case _ => 0.0 }
}
