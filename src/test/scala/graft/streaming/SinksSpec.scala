package graft.streaming

import graft.SparkSpec
import graft.music.{Event, Ticket, Topologies}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writeRoutedBatch: one pass, per-route partition dirs (3-way branch)") {
    val events = Seq(Event("e1", "a1", "v1", 10, "today")).toDF()
    val tickets = (1 to 12).map(i => Ticket(f"t$i%02d", s"c$i", "e1", 10.0)).toDF()
    val routed = Topologies.confirmationRoute(
      Topologies.purchaseEventTicket(tickets, events, col("id")), events)
    withTempDir("routed") { dir =>
      Sinks.writeRoutedBatch(routed, "route", dir)
      val back = spark.read.parquet(dir)
      val counts = back.groupBy("route").count().as[(String, Long)].collect().toMap
      assert(counts == Map("confirmed" -> 7L, "confirmed-low-stock" -> 3L, "rejected" -> 2L))
      // physical layout: one directory per route (partition pruning on read)
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq == Seq("route=confirmed", "route=confirmed-low-stock", "route=rejected"))
    }
  }

  test("routedForeachBatch: every route written from one micro-batch snapshot") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ticket]
    val seen = mutable.Map[String, Long]() // route -> rows written
    val batches = mutable.Set[Long]()
    val routed = in.toDF().withColumn("route",
      when(col("price") >= 20.0, lit("premium")).otherwise(lit("standard")))
    val q = Sinks.routedForeachBatch(routed, "route") { (route, df, batchId) =>
      seen.synchronized {
        seen(route) = seen.getOrElse(route, 0L) + df.count()
        batches += batchId
      }
    }.start()
    try {
      in.addData(Ticket("t1", "c1", "e1", 25.0), Ticket("t2", "c2", "e1", 5.0),
        Ticket("t3", "c3", "e1", 30.0))
      q.processAllAvailable()
      in.addData(Ticket("t4", "c4", "e1", 1.0))
      q.processAllAvailable()
      assert(seen.toMap == Map("premium" -> 2L, "standard" -> 2L))
      assert(batches.size == 2)
    } finally q.stop()
  }
}
