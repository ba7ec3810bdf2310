package graft.streaming

import graft.SparkSpec
import graft.functions.VectorFunctions.{minhash_sig, simhash_sig}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

final case class Evt(ts: Timestamp, event_type: String, value: Double)

class WindowedOpsSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("tumblingRollup (streaming) aggregates into hour windows with watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    val q = WindowedOps.tumblingRollup(in.toDF(), "ts", "event_type", "value")
      .writeStream.format("memory").queryName("win_out").outputMode("update").start()
    try {
      in.addData(
        Evt(t("2024-01-01 10:05:00"), "click", 1.0),
        Evt(t("2024-01-01 10:55:00"), "click", 2.0),
        Evt(t("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("window_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().sortBy(_._1.getTime)
      assert(rows.map(r => (r._1.toString, r._3, r._4)).toSeq ==
        Seq(("2024-01-01 10:00:00.0", 2L, 3.0), ("2024-01-01 11:00:00.0", 1L, 4.0)))
    } finally q.stop()
  }

  test("sessionRollup groups by inactivity gap (append mode, watermark close)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    // session windows only support append mode: a session emits once the
    // watermark passes its end
    val q = WindowedOps.sessionRollup(in.toDF(), "ts", "event_type", gap = "10 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      in.addData(
        Evt(t("2024-01-01 10:00:00"), "click", 1.0),
        Evt(t("2024-01-01 10:05:00"), "click", 1.0), // same session
        Evt(t("2024-01-01 10:30:00"), "click", 1.0)) // gap > 10min → new session
      q.processAllAvailable()
      // advance the watermark (1h) beyond both session ends → they finalize
      in.addData(Evt(t("2024-01-01 13:00:00"), "click", 1.0))
      q.processAllAvailable()
      in.addData(Evt(t("2024-01-01 15:00:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[(Timestamp, Timestamp, String, Long)]
        .collect().sortBy(_._1.getTime)
      assert(rows.length >= 2)
      assert(rows.head._4 == 2L) // 10:00+10:05 in one session
      assert(rows(1)._4 == 1L)   // 10:30 alone
    } finally q.stop()
  }

  test("slidingRollup lands each event in windowLen/slide overlapping windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Evt]
    val q = WindowedOps.slidingRollup(in.toDF(), "ts", "event_type", "value",
      windowLen = "1 hour", slide = "30 minutes")
      .writeStream.format("memory").queryName("slide_out").outputMode("update").start()
    try {
      in.addData(Evt(t("2024-01-01 10:40:00"), "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("slide_out")
        .select("window_start", "n", "sum_value")
        .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
      // 10:40 is covered by the 1 h windows starting 10:00 and 10:30
      assert(rows.map(r => (r._1.toString, r._2, r._3)).toSeq ==
        Seq(("2024-01-01 10:00:00.0", 1L, 3.0), ("2024-01-01 10:30:00.0", 1L, 3.0)))
    } finally q.stop()
  }

  test("vec_dot / simhash16 / vec_argmin_cell register as SQL functions (GraftExtensions builders)") {
    // Engine.session installs GraftExtensions, so all eight functions
    // resolve in plain SQL with no registration, in the shared session and
    // in a new session of the same context
    for (s <- Seq(spark, spark.newSession())) {
      val r = s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .as[Double].head()
      assert(r == 11.0)
      // one token hash 0b0101: bits 0,2 vote +1 (set), others -1... all-zero
      // sums stay >= 0 only for the set bits of the single vote
      val sh = s.sql("SELECT simhash16(array(5)) AS s").as[Int].head()
      assert(sh == 5)
      // (1,0) against centroids 0=(1,0), 1=(0,1): cluster 0 at sq 0
      val am = s.sql(
        """SELECT vec_argmin_cell(array(1.0D, 0.0D), 1.0D, array(
          |  named_struct('cluster', 0, 'c', array(1.0D, 0.0D), 'dcc', 1.0D),
          |  named_struct('cluster', 1, 'c', array(0.0D, 1.0D), 'dcc', 1.0D))) AS r""".stripMargin)
        .select("r.sq", "r.cluster").as[(Double, Int)].head()
      assert(am == ((0.0, 0)))
      // the aggregate: top-2 of three members, tie on cnt=2 broken by key asc
      val tk = s.sql(
        """SELECT transform(top_k_by_count(named_struct('cnt', cnt, 'key', key), 2),
          |  x -> x.key) AS t
          |FROM VALUES (2L, 'b'), (2L, 'a'), (1L, 'c') AS v(cnt, key)""".stripMargin)
        .as[Seq[String]].head()
      assert(tk == Seq("a", "b"))
      // k accepts any FOLDABLE integer expression, not just a bare literal:
      // arithmetic over literals and an explicit cast both resolve
      for (kExpr <- Seq("1+1", "CAST(2 AS INT)", "2L")) {
        val tf = s.sql(
          s"""SELECT transform(top_k_by_count(named_struct('cnt', cnt, 'key', key), $kExpr),
             |  x -> x.key) AS t
             |FROM VALUES (2L, 'b'), (2L, 'a'), (1L, 'c') AS v(cnt, key)""".stripMargin)
          .as[Seq[String]].head()
        assert(tf == Seq("a", "b"), s"k = $kExpr")
      }
      // word 2-shingles, first occurrence order, duplicates dropped
      val shingles = s.sql("SELECT shingles(array('a', 'b', 'a', 'b'), 2) AS s")
        .as[Seq[String]].head()
      assert(shingles == Seq("a b", "b a"))
      // the signatures equal the Column API's on the same shingles
      val sigs = s.sql(
        """SELECT sh, minhash_sig(sh, 4) AS m, simhash_sig(sh, 32) AS h,
          |  morton_interleave(3L, 5L) AS z
          |FROM (SELECT shingles(array('x', 'y', 'z', 'w'), 2) AS sh)""".stripMargin)
      val viaColumns = sigs.select(minhash_sig($"sh", 4), simhash_sig($"sh", 32))
        .as[(Seq[Long], Long)].head()
      assert(sigs.select("m", "h").as[(Seq[Long], Long)].head() == viaColumns)
      assert(viaColumns._1.size == 4)
      assert(sigs.select("z").as[Long].head() == 39L)
    }
  }
}
