package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR through [[Run.each]] and prints, in order:
  *   - one line per query with its min wall over the passes and the Spark
  *     work of its last pass:
  *     `{"q","wall_s","jobs","stages","tasks","shuf_read_mb","shuf_write_mb","input_rows"}`;
  *   - one line of the catalog's job, stage and task totals;
  *   - the full record line (also written to `BENCH_FULL.json`);
  *   - a compact record line, always the last stdout line.
  *
  * Queries execute through the `noop` sink — a `count()` would let Catalyst
  * prune the compute we mean to measure (a projection-only query collapses
  * to a row count), while noop materializes every output column. Warmup
  * queries run first so JIT/codegen/parquet-footer costs don't land on
  * whichever query happens to run first.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // best-of-N per query (SPARK_GRAFT_REPS, default 3): a shared VM with
    // bursty hypervisor CPU steal (/proc/pressure/cpu avg10 up to 26% with
    // idle guest CPU) can make any single sample read 30-60x slow; the
    // minimum of two runs measures the engine, not the noise
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be at least 1, not $reps")
    val queries = Run.select(SparkEntry.queries)
    val cpus = Engine.defaultCores
    val spark = Engine.session("graft-bench", cores = cpus)
    Engine.tuneLogging()
    def noop(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup (not reported) on the smallest SF: the joins/aggregation path
    // (entry), the interpreted md5/minhash path (d2), and the VecDot codegen
    // path (e1) — so JIT compilation doesn't land on the measured queries
    val warmSf = "/root/testdata/sf0.001"
    Run.each(spark, warmSf, Seq(
      "entry" -> ((s: SparkSession, _: String) => SparkEntry.entry(s)),
      "d2_minhash_pairs" -> SparkEntry.queries("d2_minhash_pairs"),
      "e1_knn_brute" -> SparkEntry.queries("e1_knn_brute")))(noop)

    // steal bursts last minutes — interleave full passes (not back-to-back
    // reps of one query) so each query's samples are spread across the run
    val passes = (1 to reps).map(_ => Run.each(spark, sfDir, queries)(noop))
    // a failed sample is fail-fast noise (50-200 ms to throw) and never
    // enters a query's min, but a query that failed in some passes and
    // succeeded in others keeps its real timings. Only an every-pass
    // failure drops the query from the map and headline total; any failure
    // at all is reported in the "failed" array.
    val results = passes.transpose.flatMap { samples =>
      samples.flatMap(_.seconds.toOption).minOption.map(samples.head.name -> _)
    }
    val failed = passes.flatten.filter(_.seconds.isFailure).map(_.name).distinct

    // per query, its min wall and the Spark work of its last pass
    val best = results.toMap
    val last = passes.last
    last.foreach { r =>
      val wall = best.get(r.name).fold("null")(w => f"$w%.3f")
      println(
        f"""{"q":"${r.name}","wall_s":$wall,"jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},"shuf_read_mb":${r.shuffleRead / 1e6}%.1f,"shuf_write_mb":${r.shuffleWrite / 1e6}%.1f,"input_rows":${r.inputRows}}""")
    }
    println(s"""{"queries":${last.size},"jobs":${last.map(_.jobs).sum},"stages":${last.map(_.stages).sum},"tasks":${last.map(_.tasks).sum}}""")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"failed":$failedJson,"reps":$reps,"sf":"$sfDir"}"""
    println(line)
    // persist the full line: the driver's log capture keeps only the last
    // ~2000 chars, which decapitates a 97-query JSON line — the file is
    // the committed record. Resolved against the repo root (sbt forks can
    // start elsewhere; a CWD-relative write would silently skip updating
    // the committed file) and written temp-then-rename so a crash mid-write
    // can never leave it truncated. A FILTERED run (SPARK_GRAFT_ONLY) must
    // not silently clobber the committed full-catalog record, so it writes
    // only when SPARK_GRAFT_BENCH_OUT names a destination explicitly.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (sys.env.contains("SPARK_GRAFT_ONLY")) None else Some("BENCH_FULL.json"))
    outFile.foreach { f =>
      try {
        val target =
          if (Paths.get(f).isAbsolute) Paths.get(f)
          else Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
            .find(d => d.getParent == null || Files.exists(d.resolve("build.sbt"))).get
            .resolve(f)
        val tmp = Files.createTempFile(target.getParent, ".bench", ".tmp")
        Files.writeString(tmp, line + "\n")
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    }
    // the LAST stdout line is a COMPACT self-contained record sized to
    // survive the driver's tail window (~2000 chars minus sbt's trailing
    // success line): headline totals plus the slowest queries at 2 dp —
    // the full per-query map cannot fit (97 names alone exceed the
    // window), so it lives in the committed file named here. A parser
    // scanning the tail for a complete JSON line now always finds one.
    val slowest = results.sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"n_queries":${results.size},"reps":$reps,"sf":"$sfDir","failed":$failedJson,"queries_full":"${outFile.getOrElse("(not written: filtered run)")}","slowest":$slowest}""")
    spark.stop()
  }
}
