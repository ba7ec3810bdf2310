package graft

import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Queries execute through the `noop` sink — a `count()` would let Catalyst
  * prune the compute we mean to measure (a projection-only query collapses
  * to a row count), while noop materializes every output column. One
  * warmup query runs first so JIT/codegen/parquet-footer costs don't land
  * on whichever query happens to run first.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.defaultCores
    val spark = Engine.session("graft-bench", cores = cpus)
    Engine.tuneLogging()

    val failed = scala.collection.mutable.ListBuffer[String]()
    // one sample per (pass, query): Some(seconds) on success, None on
    // failure — a query that flakes in ONE pass keeps its passing
    // samples (min below runs over those), and is dropped from the
    // timing map only when every pass failed; either way its name lands
    // in the "failed" array
    def exec(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // free caches a query may have pinned (LSH band frames etc.) so later
      // queries aren't measured under avoidable storage-memory pressure
      spark.catalog.clearCache()
      if (ok) Some(elapsed) else None
    }

    // warmup (not reported) on the smallest SF: the joins/aggregation path
    // (entry), the interpreted md5/minhash path (d2), and the VecDot codegen
    // path (e1) — so JIT compilation doesn't land on the measured queries
    val warmSf = "/root/testdata/sf0.001"
    Seq(
      () => SparkEntry.entry(spark),
      () => SparkEntry.queries("d2_minhash_pairs")(spark, warmSf),
      () => SparkEntry.queries("e1_knn_brute")(spark, warmSf)
    ).foreach { q =>
      try q().write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }

    // best-of-N per query (SPARK_GRAFT_REPS, default 3): this host shows
    // bursty hypervisor CPU steal
    // (/proc/pressure/cpu avg10 up to 26% with idle guest CPU), which can
    // make any single sample read 30-60x slow; the minimum of two runs
    // measures the engine, not the noise
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // steal bursts last minutes — interleave full passes (not back-to-back
    // reps of one query) so each query's samples are spread across the run
    val passes = (1 to reps).map(_ => names.map(n => n -> exec(n)).toMap)
    // per-query min over the PASSING samples only: a failed sample is
    // fail-fast noise (50-200 ms to throw) and never enters the min, but
    // a query that failed in some passes and succeeded in others keeps
    // its real timings. Only an every-pass failure drops the query from
    // the map and headline total; any failure at all is reported in the
    // "failed" array.
    val results = names.flatMap { n =>
      val samples = passes.flatMap(_(n))
      if (samples.nonEmpty) Some(n -> samples.min) else None
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
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
      .orElse(if (only.isEmpty) Some("BENCH_FULL.json") else None)
    outFile.foreach { f =>
      try {
        val target = {
          val p = java.nio.file.Paths.get(f)
          if (p.isAbsolute) p
          else {
            var root = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
            while (root.getParent != null &&
              !java.nio.file.Files.exists(root.resolve("build.sbt")))
              root = root.getParent
            root.resolve(p)
          }
        }
        val tmp = java.nio.file.Files.createTempFile(target.getParent, ".bench", ".tmp")
        java.nio.file.Files.write(tmp,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
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
      .map { case (k, v) =>
        "\"" + k + "\":" +
          BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"n_queries":${results.size},"reps":$reps,"sf":"$sfDir","failed":$failedJson,"queries_full":"${outFile.getOrElse("(not written: filtered run)")}","slowest":$slowest}""")
    spark.stop()
  }
}
