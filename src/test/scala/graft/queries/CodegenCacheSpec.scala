package graft.queries

import graft.{Run, SparkEntry, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark compiles generated code through one JVM-wide class cache keyed by
  * the compiling thread's context class loader and the source text;
  * `Engine.session` sizes it to hold the catalog. This spec pins the
  * effect: a query set whose first run compiles more classes than Spark's
  * default cap of 100 compiles nothing when it runs again. Both runs go
  * through a new session, which gets its own class loader on the
  * executors, so the first run compiles the executor-side classes afresh
  * whatever earlier suites compiled.
  */
class CodegenCacheSpec extends SparkSpec {

  // the benchmark's catalog-write list (every catalog family) plus
  // twelve relational queries, so the first run compiles over 100 classes
  // even when the driver-side ones are already cached
  private val names = Seq(
    "q1_pricing_summary", "s6_scd2_intervals", "p4_filter_dateband", "j3_semi_segment",
    "a2_capacity_ledger", "a8_approx_distinct", "x10_group_regression", "w1_hourly_rollup",
    "r2_cube_orders", "t12_pii_redact", "d6_dup_clusters", "c2_chunking", "e2_knn_ivf",
    "m1_payload_meta",
    "j_multiway_revenue", "a5_top3_types_per_nation", "w3_hopping_rollup", "s3_asof_enrich",
    "r1_rollup_revenue", "x2_pivot_counts", "x8_funnel", "x5_lead_lag", "t2_top10_customers",
    "a6_distinct_users", "p5_merge_union", "j2_anti_customers")

  test("a second run of a catalog query set compiles no generated class") {
    val session = spark.newSession()
    withTempDir("graft_codegen_cache") { out =>
      def compiles(): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val failed = Run.each(session, "/root/testdata/sf0.001",
          Run.named(SparkEntry.queries, names)) { (name, df) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        }.filter(_.seconds.isFailure).map(_.name)
        assert(failed.isEmpty, s"queries failed: $failed")
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val first = compiles()
      assert(first > 100, s"the first run compiled only $first classes, within Spark's default cap")
      assert(compiles() == 0, "the second run recompiled generated classes")
    }
  }
}
