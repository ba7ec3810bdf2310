package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Run`, the loop behind Bench and Verify: a failing query is reported by
  * name and does not stop the queries after it; a fatal error is not
  * swallowed; each record carries exactly its own query's Spark work; an
  * unknown query name is an error. */
class RunSpec extends SparkSpec {

  // the queries here build their rows from `range` and read no table
  private val noTables = ""

  private def rows(n: Int): Run.Query = (s, _) => s.range(n).toDF("id")

  private val grouped: Run.Query =
    (s, _) => s.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  private def noop(name: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a throwing query is returned as a failure and the rest are written") {
    withTempDir("graft_run") { out =>
      val boom: Run.Query = (_, _) => throw new IllegalStateException("synthetic failure")
      val records = Run.each(spark, noTables,
        Seq("first" -> rows(3), "boom" -> boom, "last" -> rows(5))) { (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
      assert(records.map(_.name) == Seq("first", "boom", "last"))
      assert(records.filter(_.seconds.isFailure).map(_.name) == Seq("boom"))
      assert(records(1).seconds.failed.get.getMessage == "synthetic failure")
      assert(spark.read.parquet(s"$out/first").count() == 3)
      assert(spark.read.parquet(s"$out/last").count() == 5)
      assert(!Files.exists(Paths.get(s"$out/boom")))
    }
  }

  test("a fatal error propagates instead of being logged as a failure") {
    val fatal: Run.Query = (_, _) => throw new OutOfMemoryError("synthetic")
    intercept[OutOfMemoryError] {
      Run.each(spark, noTables, Seq("fatal" -> fatal))(noop)
    }
  }

  test("a groupBy query is charged its jobs, its two stages and its shuffle write") {
    val Seq(r) = Run.each(spark, noTables, Seq("grouped" -> grouped))(noop)
    assert(r.seconds.isSuccess)
    assert(r.jobs >= 1)
    assert(r.stages >= 2)
    assert(r.tasks >= 2)
    assert(r.shuffleWrite > 0)
    assert(r.shuffleRead > 0)
  }

  test("a query that scans a parquet file is charged its row count") {
    withTempDir("graft_run_scan") { dir =>
      spark.range(0, 5000, 1, 2).toDF("id").write.parquet(s"$dir/t")
      val scan: Run.Query = (s, _) => s.read.parquet(s"$dir/t").groupBy().sum("id")
      val Seq(r) = Run.each(spark, noTables, Seq("scan" -> scan))(noop)
      assert(r.seconds.isSuccess)
      assert(r.inputRows == 5000)
    }
  }

  test("the same query run twice in a row is charged identical jobs, stages and tasks") {
    // a listener that holds up the bus, so a query's last events are still
    // queued when its action returns: only the drain at the query boundary
    // keeps them out of the next query's record
    val lag = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(lag)
    val tiny: Run.Query = (s, _) => s.range(0, 1, 1, 1).toDF("id")
    val Seq(a, b, c) =
      try Run.each(spark, noTables,
        Seq("a" -> grouped, "b" -> grouped, "tiny" -> tiny))(noop)
      finally spark.sparkContext.removeSparkListener(lag)
    assert(a.jobs >= 1)
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks))
    assert((c.jobs, c.stages, c.tasks) == (1, 1, 1))
  }

  test("an unknown query name is rejected, and the message names it") {
    val all: Map[String, Run.Query] = Map("a1" -> rows(1), "a2" -> rows(2))
    assert(Run.named(all, Seq("a2", "a1")).map(_._1) == Seq("a2", "a1"))
    val e = intercept[IllegalArgumentException](Run.named(all, Seq("a1", "a3", "")))
    assert(e.getMessage.contains("'a3'"))
    assert(e.getMessage.contains("''"))
    assert(!e.getMessage.contains("'a1'"))
  }
}
