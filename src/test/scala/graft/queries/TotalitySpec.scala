package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}

/** Empty-corpus totality: every catalog query must PLAN AND EXECUTE on a
  * zero-row dataset without throwing. At 100 TB "empty" is not a corner
  * case — a date-partition filter, a tenant predicate, or an upstream
  * outage routinely hands an operator zero rows, and an engine that
  * divides by a zero count or `head`s an empty frame turns that into a
  * job failure instead of an empty result. x12's ANSI empty-corpus guard
  * (round 9) came from exactly this class; this sweep pins the whole
  * catalog so no other site regresses.
  *
  * Contract per query class:
  *   - relational / text / sketch / window queries: empty (or
  *     one-row-of-zero-counts global aggregate) output, no throw;
  *   - model-backed queries (k-means / PQ / PCA / LSH dial): training on
  *     an empty corpus must still not crash the JOB — an empty model
  *     serving zero rows is acceptable, an exception is not.
  */
class TotalitySpec extends SparkSpec {

  test("every catalog query executes on a zero-row dataset without throwing") {
    withTempDir("graft_empty_sf") { dir =>
      val src = "/root/testdata/sf0.001"
      for (t <- Tables.names) {
        spark.read.parquet(s"$src/$t.parquet").limit(0)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$t.parquet")
      }
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try { fn(spark, dir).collect(); None }
          catch { case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}")
          } finally spark.catalog.clearCache()
      }
      assert(failures.isEmpty,
        s"${failures.size} queries throw on empty input:\n  ${failures.mkString("\n  ")}")
    }
  }
}
