package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Exact NTILE layout assignment at scale — the write-time range
  * partitioner behind z-order / sort-key file layouts (x12/x15), freed
  * from the one obvious trap: `ntile(n).over(Window.orderBy(...))` is a
  * GLOBAL single-partition sort, which funnels the whole corpus through
  * one task. Two scale-safe replacements, both multiset-identical to the
  * window formulation:
  *
  *   - [[histNtileBuckets]] — the BOUNDED-DOMAIN path. When the sort key
  *     ranges over a fixed finite domain (the 64×64 hashed plane here:
  *     ≤4096 cells at ANY scale factor), one map-side-combining
  *     aggregation collapses the corpus to its cell histogram and the
  *     entire exact-ntile assignment becomes arithmetic over cumulative
  *     cell counts on that tiny frame. The corpus is touched exactly
  *     once, shuffles only the ≤|domain| partial counts, and nothing
  *     downstream grows with data size. This is the preferred path
  *     whenever it applies — there is no large branch to route to
  *     because the plan never depends on row count.
  *   - [[rangeNtile]] — the GENERAL path for unbounded sort keys:
  *     `repartitionByRange` (sampled range partitioner — the same
  *     machinery a parquet writer's write-time sort uses) + an in-
  *     partition sort + per-partition prefix offsets (one tiny count
  *     pass; P rows to the driver) turn local row numbers into exact
  *     global ranks, and the ntile bucket is closed-form arithmetic on
  *     the rank. No single-partition stage anywhere.
  *
  * Exactness contract: Spark's `ntile(nb)` over n rows gives the first
  * (n mod nb) buckets ceil(n/nb) rows and the rest floor(n/nb), assigned
  * in sort order. Both paths reproduce that bucketing exactly. Ties:
  * the window formulation splits equal-key runs across a bucket boundary
  * in whatever order the sort delivered them — callers for whom ties are
  * identical rows (the layout use case: the key determines the payload)
  * get multiset-identical output from all three formulations;
  * `LayoutSpec` pins both paths against the window reference.
  */
object Layout {

  /** SQL `div` (exact integral division, long-safe — `floor(a/b)` on
    * doubles would drift past 2^53). CaseWhen guards keep divisors
    * non-zero wherever this is used. */
  private def idiv(a: Column, b: Column): Column =
    GraftColumnBridge.column(new IntegralDivide(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Closed-form exact-ntile bucket of 1-based rank column `r` over `n`
    * rows in `nb` buckets (all long arithmetic, in-plan). The guard on
    * the fat region makes the q=0 (n < nb) case safe: every rank then
    * falls in the fat region and the `div q` branch never evaluates. */
  private def bucketOfRank(r: Column, n: Column, nb: Int): Column = {
    val q = idiv(n, lit(nb.toLong))
    val rem = n % lit(nb.toLong)
    when(r <= rem * (q + lit(1L)), idiv(r - 1, q + lit(1L)) + lit(1L))
      .otherwise(rem + idiv(r - rem * (q + lit(1L)) - lit(1L), q) + lit(1L))
  }

  /** 1-based rank of the first row of bucket `b` (longs, in-plan). */
  private def bucketStart(b: Column, n: Column, nb: Int): Column = {
    val q = idiv(n, lit(nb.toLong))
    val rem = n % lit(nb.toLong)
    (b - lit(1L)) * q + least(b - lit(1L), rem) + lit(1L)
  }

  /** 1-based rank of the last row of bucket `b` (longs, in-plan). */
  private def bucketEnd(b: Column, n: Column, nb: Int): Column = {
    val q = idiv(n, lit(nb.toLong))
    val rem = n % lit(nb.toLong)
    b * q + least(b, rem)
  }

  /** Bounded-domain exact ntile over a CELL HISTOGRAM: `hist` has one row
    * per distinct sort key (a "cell") with its row count in `cntCol`;
    * sort keys must be unique across rows (give the window a total
    * order). Returns `hist`'s columns plus `bucket` (int, 1..nb) and
    * `cnt_in_bucket` (long): cell × bucket with how many of the cell's
    * rows land in that bucket — a cell whose rank run straddles a
    * boundary emits one row per touched bucket. Aggregations that were
    * per-row become weighted by `cnt_in_bucket`.
    *
    * The window inside is single-partition BY DESIGN and safe BY
    * CONTRACT: it runs over the histogram, whose size is the domain
    * cardinality, not the corpus — callers own the boundedness argument
    * (x15: 64×64 hashed coordinates ⇒ ≤4096 rows at any scale). */
  def histNtileBuckets(hist: DataFrame, nb: Int, sortCols: Seq[Column],
      cntCol: Column = col("cnt")): DataFrame = {
    val w = Window.orderBy(sortCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val n = col("__n")
    // zero-count cells (an empty-but-present domain row) must be dropped,
    // not just because they occupy no bucket: they'd make __start = __end+1
    // and `sequence(lo, hi)` with lo > hi DESCENDS (step defaults to -1),
    // which would fabricate bucket rows instead of none
    //
    // fail fast on a violated unique-sort-key precondition: a tied key
    // makes the window order non-total, so WHICH tied cell straddles a
    // bucket boundary would vary run to run — wrong data, silently. The
    // lag rides the SAME window spec as the running sums (one WindowExec,
    // no extra exchange or job), and is folded into __end so column
    // pruning can't eliminate the check.
    val key = struct(sortCols: _*)
    val dupGuard = when(lag(key, 1).over(w) === key,
      raise_error(lit(
        "histNtileBuckets: sort keys must be unique across hist rows"))
        .cast("long")).otherwise(lit(0L))
    val withRanks = hist.filter(cntCol > 0)
      .withColumn("__end", sum(cntCol).over(run) + dupGuard)
      .withColumn("__n", sum(cntCol).over(all))
      .withColumn("__start", col("__end") - cntCol + 1)
    withRanks
      .withColumn("bucket",
        explode(sequence(bucketOfRank(col("__start"), n, nb),
          bucketOfRank(col("__end"), n, nb))))
      .withColumn("cnt_in_bucket",
        least(col("__end"), bucketEnd(col("bucket"), n, nb)) -
          greatest(col("__start"), bucketStart(col("bucket"), n, nb)) + 1)
      .withColumn("bucket", col("bucket").cast(IntegerType))
      .drop("__start", "__end", "__n")
  }

  /** General distributed exact ntile: returns `df`'s columns plus
    * `bucket` (int, 1..nb), multiset-identical to
    * `ntile(nb).over(Window.orderBy(sortCols))` whenever equal sort keys
    * mean identical rows. `repartitionByRange` range-partitions on the
    * sort key (equal keys co-locate), an in-partition sort orders each
    * range, and ONE tiny count job (P rows to the driver — partition
    * COUNTS, never data) yields the prefix offsets that turn local row
    * numbers into exact global ranks. The materialized sort is read
    * twice (count pass + assignment pass) from one `materialize`, so
    * the sort itself runs once. */
  def rangeNtile(df: DataFrame, nb: Int, sortCols: Seq[Column],
      parts: Int): DataFrame = {
    val spark = df.sparkSession
    val ranged = materialize(df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val counts = ranged.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = (0 until nParts).map(counts.getOrElse(_, 0L))
      .scanLeft(0L)(_ + _).toArray
    val n = offsets(nParts)
    val q = n / nb
    val rem = n % nb
    val schema = ranged.schema.add("bucket", IntegerType, nullable = false)
    val assigned = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = offsets(pid)
      it.map { row =>
        r += 1
        val b =
          if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
          else rem + (r - rem * (q + 1) - 1) / q + 1
        Row.fromSeq(row.toSeq :+ b.toInt)
      }
    }
    spark.createDataFrame(assigned, schema)
  }
}
