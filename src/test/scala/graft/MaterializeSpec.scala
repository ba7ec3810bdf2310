package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftListenerBus}
import org.apache.spark.sql.GraftMaterialize.{materialize, rowCount}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** [[org.apache.spark.sql.GraftMaterialize.materialize]]: one job, and a
  * leaf whose statistics are the measured row count and its byte size. */
class MaterializeSpec extends SparkSpec {

  /** 1,000 rows of (id: long, k: int) in 4 partitions, no exchange. */
  private def frame: DataFrame =
    spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).cast("int").as("k"))

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a materialized frame reports its row count and rows x row width bytes, from one job") {
    var m: DataFrame = null
    assert(jobsOf { m = materialize(frame) } == 1, "materialize ran more than its one job")
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(1000)))
    // Spark's row width for (long, int): 8 bytes of row overhead + 8 + 4
    assert(stats.sizeInBytes == BigInt(1000 * 20))
    assert(rowCount(m) == 1000L)
    assert(m.count() == 1000L)
    assert(spark.sharedState.cacheManager.isEmpty, "materialize pinned a CacheManager entry")
  }

  test("an empty materialized frame reports 0 rows") {
    val m = materialize(frame.filter(col("id") < 0))
    assert(rowCount(m) == 0L)
    assert(m.collect().isEmpty)
  }

  test("a self-join of a materialized frame resolves, with the statistics on both sides") {
    val m = materialize(frame)
    val j = m.as("a").join(m.as("b"), col("a.k") === col("b.k") && col("a.id") < col("b.id"))
    val leaves = j.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 2)
    assert(leaves.forall(_.stats.rowCount.contains(BigInt(1000))),
      s"a side of the self-join lost the measured count: ${leaves.map(_.stats)}")
    // 7 residue classes of 143 or 142 ids: the pairs within each class
    val sizes = (0 until 7).map(k => (0 until 1000).count(_ % 7 == k).toLong)
    assert(j.count() == sizes.map(n => n * (n - 1) / 2).sum)
  }

  test("a hash-partitioned input keeps its partitioning: a same-key aggregate adds no exchange") {
    // an explicit partition count: AQE keeps all 4 hash partitions
    val m = materialize(frame.repartition(4, col("k")))
    def finalPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.toString
        case p => p.toString
      }
    }
    val sameKey = finalPlan(m.groupBy(col("k")).agg(count(lit(1)).as("n")))
    assert(!sameKey.contains("Exchange"), s"the k-partitioned frame was shuffled again:\n$sameKey")
    // the control: another key does need the exchange
    val otherKey = finalPlan(m.groupBy(col("id")).agg(count(lit(1)).as("n")))
    assert(otherKey.contains("Exchange"), s"no exchange for a different key:\n$otherKey")
  }

  test("materialize runs from concurrent threads") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val counts = Await.result(Future.sequence((1 to 2).map { i =>
      Future(rowCount(materialize(frame.filter(col("k") < i))))
    }), Duration(2, "min"))
    val expected = (1 to 2).map(i => (0 until 1000).count(_ % 7 < i).toLong)
    assert(counts == expected)
  }
}
