package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The session-fixture contract ([[SessionMemo]], via [[Dedup]] /
  * [[Models]]): build ONCE per (SparkContext, dataset dir, tag), and keep
  * datasets strictly isolated — a fixture trained on one scale factor must
  * never be served for another, or every downstream gate silently computes
  * against the wrong corpus. This spec pins both halves with the live
  * dedup fixtures on two real dataset dirs in one session, and the table
  * schemas [[Tables.load]] memoizes under the same contract: the memoized
  * schema is the one a fresh read infers, a repeated load starts no Spark
  * job, and each load is still a fresh relation.
  */
class SessionMemoSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001"
  private val big = "/root/testdata/sf0.01"

  test("same (dataset, tag) memo-hits the identical frame instance") {
    val a = Dedup.canonDocs(spark, small)
    val b = Dedup.canonDocs(spark, small)
    assert(a eq b,
      "second call rebuilt the fixture — the memo must hand back the same frame")
  }

  test("different dataset dirs get independent fixtures") {
    val a = Dedup.canonDocs(spark, small)
    val b = Dedup.canonDocs(spark, big)
    assert(!(a eq b), "sf0.001 and sf0.01 shared one fixture instance")
    // each fixture must match a fresh (memo-free) derivation from its own
    // parquet — the generator ships 500 documents at BOTH these scales
    // (and zero shared texts), so the distinguishing check is CONTENT:
    // the fingerprint set of each served fixture equals its own dataset's
    // and differs from the other's
    import org.apache.spark.sql.functions.{col, md5}
    def fps(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(md5(col("text").cast("binary")).as("fp"))
        .collect().map(_.getString(0)).toSet
    val (fa, fb) = (fps(a), fps(b))
    assert(fa != fb, "the two datasets' fixtures serve identical content")
    assert(fa == fps(graft.operators.TextOps.canonicalDocs(
        graft.Tables.documents(spark, small), "doc_id", "text")),
      "sf0.001 fixture content drifted from a fresh derivation")
    assert(fb == fps(graft.operators.TextOps.canonicalDocs(
        graft.Tables.documents(spark, big), "doc_id", "text")),
      "sf0.01 fixture content drifted from a fresh derivation")
  }

  test("downstream fixtures chain within their own dataset") {
    // components is the end of the memo chain (canon -> shingles -> pairs
    // -> components); every id it labels must be a canonical doc of the
    // SAME dataset
    val comp = Dedup.components(spark, small)
    val canonIds = Dedup.canonDocs(spark, small)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val compIds = comp.select("id").collect().map(_.getLong(0)).toSet
    assert(compIds.subsetOf(canonIds),
      "component labels reference ids outside the dataset's canonical docs")
  }

  /** Jobs started while `body` runs. Listener events arrive on a bus
    * thread, so a marker job is run after `body` and the count is read
    * once the marker's start has been delivered: the bus keeps order, so
    * every job `body` started has been seen by then. */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "session-memo-marker-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the marker job's start never reached the listener")
      seen.size - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Tables.load serves the schema a fresh read infers, for every table at both scales") {
    for (d <- Seq(small, big); t <- Tables.names) {
      val loaded = Tables.load(spark, d, t).schema
      assert(loaded == spark.read.parquet(s"$d/$t.parquet").schema,
        s"$d/$t: memoized schema differs from a fresh inference")
      // twice: the second load reads through the memoized schema
      assert(Tables.load(spark, d, t).schema == loaded, s"$d/$t: second load changed schema")
    }
    // events.ts is the drift-prone column: the memoized read must decode
    // the same values a fresh inferring read does
    val ev = Tables.load(spark, small, "events")
    assert(ev.schema("ts") == spark.read.parquet(s"$small/events.parquet").schema("ts"))
    assert(ev.exceptAll(spark.read.parquet(s"$small/events.parquet")).isEmpty,
      "memoized-schema read of events decodes rows a fresh read does not")
  }

  test("a repeated Tables.load starts no Spark job; a bare inferring read does") {
    val path = s"$small/orders.parquet"
    // the counter must see what the memo removes: inference is a job
    assert(jobsDuring(spark.read.parquet(path)) >= 1,
      "a bare spark.read.parquet started no job — the counter cannot see inference")
    // first touch infers (the memo may be cold); every load after it must not
    for (t <- Tables.names) Tables.load(spark, small, t)
    val n = jobsDuring {
      for (t <- Tables.names) Tables.load(spark, small, t)
      Tables.events(spark, small)
    }
    assert(n == 0, s"repeated loads started $n Spark jobs")
  }

  test("two loads of one table are distinct relations: a self-join resolves") {
    import org.apache.spark.sql.functions.{col, sum}
    def ids(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(Tables.load(spark, small, "events")) & ids(Tables.load(spark, small, "events"))).isEmpty,
      "two loads share attribute ids — the memo must hold the schema, not the relation")
    val expected = Tables.events(spark, small).where(col("user_id").isNotNull)
      .groupBy("user_id").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    for ((a, b) <- Seq(
        (Tables.events(spark, small), Tables.events(spark, small)),
        (Tables.load(spark, small, "events"), Tables.load(spark, small, "events")))) {
      val joined = a.join(b, a("user_id") === b("user_id")).count()
      assert(joined == expected, s"self-join gave $joined rows, expected $expected")
    }
  }

  test("e21's model store lives under a per-application dir deleted when the application ends") {
    SimilarityQueries.e21StoredModelSearch(spark, small)
    val dir = graft.SessionMemo.appTempDir(spark, "graft_model_store")
    assert(dir eq graft.SessionMemo.appTempDir(spark, "graft_model_store"),
      "a second lookup built a second dir and listener")
    val store = new java.io.File(dir.path)
    assert(store.getName == s"graft_model_store_${spark.sparkContext.applicationId}")
    assert(store.list().nonEmpty, "e21 saved no model under the per-application dir")
    dir.onApplicationEnd(org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(!store.exists, "the model store outlived the application")
    // a later call in the same session saves a fresh store again
    assert(SimilarityQueries.e21StoredModelSearch(spark, small).count() > 0)
    assert(store.list().nonEmpty)
  }
}
