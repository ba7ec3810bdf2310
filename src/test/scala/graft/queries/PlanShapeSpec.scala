package graft.queries

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}

/** Regression guards for the plan properties the 100 TB design depends on —
  * a correctness gate can't see a plan rot from broadcast to cartesian or
  * from pushed-down scan to full scan, so these pin the plan text itself
  * (on sf0.001 inputs; plan SHAPE does not depend on the scale factor).
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q1 scan pushes the shipdate filter and prunes unread columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: ["), "no filter pushdown on the lineitem scan")
    assert(p.contains("l_shipdate"), "shipdate filter not at the scan")
    assert(!p.contains("l_comment"), "ReadSchema carries an unused column")
  }

  test("the events ts-normalization layer does not block column pruning") {
    // Tables.events projects ts -> epoch-micros on every read; a query
    // that never touches ts must still get a scan with NO ts column —
    // losing this means every events query at 100 TB drags the widest
    // column through the scan for nothing
    val p = plan("a6_distinct_users")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("ts"), s"unused ts survived into the events scan: $read")
    assert(read.contains("user_id") && read.contains("event_type"),
      s"expected a pruned 2-column events scan: $read")
  }

  test("multiway join broadcasts its dimension sides and never goes cartesian") {
    val p = plan("j_multiway_revenue")
    assert(p.contains("BroadcastHashJoin"), "dimension joins should broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian product in the join tree")
  }

  test("e15's ADC join is a broadcast hash join keyed on (cell, sub, code)") {
    val p = plan("e15_ivf_pq_search")
    assert(p.contains("BroadcastHashJoin"), "ADC join lost its broadcast")
    val keyed = p.linesIterator.exists { l =>
      l.contains("Left keys [3]") && l.contains("cell")
    }
    assert(keyed, "ADC join is not keyed on the 3-column (cell, sub, code) tuple")
    assert(!p.contains("CartesianProduct"), "cartesian product in e15")
  }

  test("a11's top-k aggregate runs a partial (map-side) phase") {
    val p = plan("a11_topk_agg")
    assert(p.contains("partial_top_k_by_count"),
      "TopKByCount lost its partial phase — the shuffle would carry the full member distribution")
  }

  test("t20's global top-k aggregate runs a partial (map-side) phase") {
    // a GLOBAL top-k is the worst case for the window formulation (every
    // row to ONE reducer); the partial phase is what bounds the reduce
    val p = plan("t20_bpe_pairs")
    assert(p.contains("partial_top_k_by_count"),
      "t20's TopKByCount lost its partial phase — the single-group reduce would receive the pair distribution")
  }

  test("minhash banding never plans a cartesian pair join") {
    val p = plan("d2_minhash_pairs")
    assert(!p.contains("CartesianProduct"), "LSH banding degenerated to all-pairs")
  }

  test("hot scan paths stay inside WholeStageCodegen") {
    // the custom expressions exist precisely to keep per-row work codegen'd;
    // a plan that loses its WholeStageCodegen spans has fallen back to
    // interpreted eval somewhere load-bearing
    // AQE's pre-execution formatted plan carries no codegen annotations
    // (WholeStageCodegen wraps when the adaptive plan actually runs), so
    // this one check plans with AQE off; codegen'd operators then carry
    // "[codegen id : N]"
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("q1_pricing_summary", "e1_knn_brute", "d1_exact_dedup",
        "t1_lang_id", "a11_topk_agg", "d4_simhash16", "d5_simhash_pairs",
        "d9_cross_neardups", "e9_kmeans_assign")) {
        assert(plan(name).contains("codegen id :"),
          s"$name has no WholeStageCodegen span")
      }
      // each kernel's static call sits inside a codegen'd operator: every
      // operator whose details call it carries a codegen id. simhash_sig
      // and vec_argmin_cell run only inside checkpointed fixtures, and d4
      // feeds simhash16 from an interpreted `transform`, so those three
      // are planned over the catalog's tables directly.
      import graft.functions.VectorFunctions._
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.load(spark, sf, "documents")
      val v = graft.Tables.load(spark, sf, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      def formatted(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      for ((label, p, fn) <- Seq(
          ("e1_knn_brute", plan("e1_knn_brute"), "vec_dot"),
          ("d9_cross_neardups", plan("d9_cross_neardups"), "minhash_sig"),
          ("d7_decontaminate", plan("d7_decontaminate"), "shingles"),
          ("documents", formatted(docs.select(simhash_sig(
            shingles(split(col("text"), " "), 3), 32))), "simhash_sig"),
          ("documents", formatted(docs.select(simhash16(
            array(hash(col("text")), hash(col("doc_id")))))), "simhash16"),
          ("embeddings", formatted(v.select(vec_argmin_cell(col("v"), vec_dot(col("v"), col("v")),
            array(struct(lit(0), col("v"), lit(0.0)))))), "vec_argmin_cell"))) {
        val callers = p.split("\n\n").toSeq.filter(_.contains(s"$fn("))
          .map(_.linesIterator.next())
        assert(callers.nonEmpty, s"$label plans no $fn call:\n$p")
        assert(callers.forall(_.contains("codegen id :")),
          s"$label calls $fn outside WholeStageCodegen: ${callers.mkString("; ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("Tables.load is a bare scan — no exchange decorates the load edge") {
    // round-8 A/B: a blanket key-hash fan-out at the load edge LOST to the
    // bare scan (20.6 s vs 18.9 s over the 16 affected queries; SCALE.md
    // §Scan edge) — the extra exchange per scan costs more than the
    // parallelism it buys, and at 100 TB a load-edge repartition of the
    // corpus would be a pure pessimization. Compute-heavy scan stages
    // apply their own inline repartition (e.g. shingleFrame). This pins
    // the rejected decoration so it can't silently return.
    for (t <- Seq("lineitem", "events", "documents", "embeddings")) {
      val p = graft.Tables.load(spark, sf, t).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"),
        s"Tables.load($t) plans an exchange at the scan edge:\n$p")
    }
  }

  test("x15's layout build never sorts the corpus — cell histogram, then exact-ntile arithmetic") {
    // round-9 fix of the repo's last scale-weak plan: the pre-round-9
    // shape sorted the WHOLE point cloud through one task per layout
    // (ntile over an unpartitioned window). Now the corpus is touched
    // exactly once, by a map-side-combining cell-histogram aggregate,
    // and both layouts bucket via Layout.histNtileBuckets arithmetic on
    // the checkpointed ≤4096-row histogram. Two pins:
    // (a) the histogram build — the only plan that sees corpus-sized
    //     data — is scan → partial agg → exchange → final agg, with NO
    //     Sort and no single-partition exchange; pinned on the
    //     PRODUCTION expression (mortonHistBuild, exactly what the
    //     fixture checkpoints), not an inline reconstruction that
    //     could drift from the code path the gate runs
    val histPlan = RelationalQueries.mortonHistBuild(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(histPlan.contains("HashAggregate"), "histogram lost its hash aggregate")
    assert(!histPlan.contains("Sort"), s"corpus-sized sort in the histogram build:\n$histPlan")
    assert(!histPlan.contains("SinglePartition"),
      s"single-partition exchange in the histogram build:\n$histPlan")
    // (b) the query's own plan (post-checkpoint tail) never re-reads the
    //     corpus: its windows/sorts run over the histogram RDD only
    val p = plan("x15_zonemap_prune")
    assert(!p.contains("Scan parquet"),
      s"x15's post-histogram plan re-entered the corpus scan:\n$p")
  }

  // --- dims-first join-shape pins (round-9 wins; round-10 regression guards) ---
  // Asserted on the OPTIMIZED LOGICAL plan, not the physical text: at
  // sf0.001 stats make every join a BroadcastHashJoin, so "one fact-side
  // shuffle join" is not physically observable at test scale — what IS
  // scale-independent is the join TREE (the fact leaf participates in
  // exactly one join because the dimension chain collapsed first) and the
  // broadcast HINTS on the structurally-tiny sides, which at 100 TB are
  // exactly what keep the fact table to a single orderkey shuffle.

  private def optimizedPlanOf(name: String): LogicalPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan

  /** A leaf "is" a table iff it still outputs that table's marker column
    * (join keys survive column pruning by construction). */
  private def hasLeaf(p: LogicalPlan, marker: String): Boolean =
    p.collectLeaves().exists(_.output.exists(_.name == marker))

  private def joinsOf(p: LogicalPlan): Seq[Join] = p.collect { case j: Join => j }

  private def assertBroadcastHinted(joins: Seq[Join], marker: String, who: String): Unit = {
    val dimJoins = joins.filter(j =>
      j.right.collectLeaves().size == 1 && hasLeaf(j.right, marker))
    assert(dimJoins.nonEmpty, s"no join with $who as its sole right side — shape drifted")
    for (j <- dimJoins)
      assert(j.hint.rightHint.exists(_.strategy.contains(BROADCAST)),
        s"$who side lost its broadcast hint: ${j.hint}")
  }

  test("r1 and j_multiway are dims-first: lineitem rides exactly ONE join; nation/region broadcast") {
    for (name <- Seq("r1_rollup_revenue", "j_multiway_revenue")) {
      val joins = joinsOf(optimizedPlanOf(name))
      val factJoins = joins.filter(hasLeaf(_, "l_orderkey"))
      assert(factJoins.size == 1,
        s"$name: lineitem participates in ${factJoins.size} joins — the dims " +
          s"chain must collapse to (o_orderkey, dims) BEFORE touching the fact table")
      assertBroadcastHinted(joins, "n_nationkey", s"$name nation")
      assertBroadcastHinted(joins, "r_regionkey", s"$name region")
      // and the fact join's dims side is the collapsed orders⋈customer chain,
      // not a bare orders leaf followed by a second fact-side customer join
      val dimsSide = factJoins.head.right
      assert(hasLeaf(dimsSide, "o_orderkey") && hasLeaf(dimsSide, "c_custkey"),
        s"$name: the single fact join's right side is not the collapsed dims chain")
    }
  }

  test("a4 is dims-first: lineitem rides one dims join plus one broadcast-hinted supplier join") {
    val joins = joinsOf(optimizedPlanOf("a4_out_of_nation"))
    val factJoins = joins.filter(hasLeaf(_, "l_orderkey"))
    assert(factJoins.size == 2,
      s"a4: expected the fact leaf under exactly 2 joins (supplier broadcast + " +
        s"collapsed orders⋈customer dims), found ${factJoins.size}")
    assertBroadcastHinted(joins, "s_suppkey", "a4 supplier")
    // orders⋈customer collapsed off the fact spine: exactly one join has
    // neither fact leaf nor supplier leaf, and it is the o⋈c dims join
    val dimsOnly = joins.filterNot(j => hasLeaf(j, "l_orderkey") || hasLeaf(j, "s_suppkey"))
    assert(dimsOnly.size == 1 &&
      hasLeaf(dimsOnly.head, "o_orderkey") && hasLeaf(dimsOnly.head, "c_custkey"),
      "a4: orders⋈customer no longer collapses before the fact join")
  }

  test("the dims-first family plans broadcast joins and no cartesian at bench scale") {
    for (name <- Seq("r1_rollup_revenue", "a4_out_of_nation")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: dimension joins should broadcast")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product in the join tree")
    }
  }

  test("t19's post-checkpoint tail never re-scans or re-explodes the corpus") {
    // round-10 fusion: ONE explode + per-doc aggregate builds the
    // checkpointed position frame G, and every derived statistic (per-doc
    // bigrams, unigram counts, vocab, corpus bigram counts) reads G. The
    // tail plan the query returns must therefore contain NO parquet scan
    // and NO Generate — losing this means a chain re-tokenizes the corpus
    // per branch again (the three-pass shape the fusion replaced)
    val p = plan("t19_bigram_lm")
    assert(!p.contains("Scan parquet"),
      s"t19's tail re-entered the corpus scan:\n$p")
    assert(!p.contains("Generate"),
      s"t19's tail re-explodes token positions:\n$p")
  }

  test("NO catalog query plans a CartesianProduct (broadcast NLJ of tiny frames is the only cross-join form)") {
    // "explainString" itself only plans, but CONSTRUCTING some frames
    // (kmeans/PQ/LSH families) runs their materializing training
    // jobs first — on sf0.001 that keeps the sweep under a minute, and
    // the asserted plans are the post-checkpoint tails of each query.
    // Every deliberate crossJoin in this repo is crossJoin(broadcast(tiny))
    // which compiles to BroadcastNestedLoopJoin, never CartesianProduct
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty,
      s"CartesianProduct found in: ${offenders.mkString(", ")}")
  }

  // --- SmallSort (GraftExtensions) decides at run time, from the measured
  // size of the stage under a global sort. `plan` prints AQE's initial plan,
  // which still holds the range exchange, so these run the query and read
  // the final plan.

  /** The collected rows and AQE's final plan. */
  private def runFinal(name: String): (Seq[Row], String) = {
    val df = SparkEntry.queries(name)(spark, sf)
    val rows = df.collect().toSeq
    val fin = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    (rows, fin.toString)
  }

  test("a small final sort runs as one task; over the threshold it keeps its range exchange, same rows in the same order") {
    for (name <- Seq("w1_hourly_rollup", "q1_pricing_summary")) {
      val (small, smallPlan) = runFinal(name)
      assert(!smallPlan.contains("rangepartitioning"),
        s"$name: a result under one advisory partition still range-partitions:\n$smallPlan")
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1")
      val (big, bigPlan) =
        try runFinal(name)
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(bigPlan.contains("rangepartitioning"),
        s"$name: with a 1-byte threshold the sort lost its range exchange:\n$bigPlan")
      assert(small.nonEmpty, s"$name: empty result pins no order")
      assert(small == big, s"$name: the one-task sort and the range sort disagree on rows or order")
    }
  }

  test("a sort above an explode or a join keeps its range exchange: their sizes are not measured") {
    // a11's tail is Sort <- posexplode <- top-k aggregate stage, and Spark
    // sizes the explode like its input; x8's tail is Sort <- join of
    // aggregate stages, and Spark sizes the join as a product of its inputs
    for ((name, node) <- Seq("a11_topk_agg" -> "Generate", "x8_funnel" -> "Join")) {
      val (_, p) = runFinal(name)
      assert(p.contains(node), s"$name's tail lost its $node; the case no longer tests the guard:\n$p")
      assert(p.contains("rangepartitioning"), s"$name's sort above a $node went to one task:\n$p")
      // once the range stage has run, a one-task sort would only repeat its work
      assert(!p.contains("Coalesce"), s"$name sorts its range-partitioned output again in one task:\n$p")
    }
  }

  test("a sort of a materialized frame runs as one task: its size is fixed when the frame is made") {
    // t21 sorts the 3-row BPE merge table as it is, so no stage below the
    // sort exists for AQE to measure; the optimizer decides it from the
    // frame's measured statistics
    val (rows, p) = runFinal("t21_bpe_train")
    assert(rows.size == 3, s"t21's merge table changed size: $rows")
    assert(!p.contains("rangepartitioning"), s"t21's sort still range-partitions:\n$p")
  }

  test("no runtime bloom filter is planned against the IVFADC fixtures' small probe sides") {
    // the residual-PQ codes and books are materialized with measured
    // sizes; sized by their origin plans' estimates, Spark injected a
    // 1,000,000-item bloom_filter_agg subquery checked against 20 rows
    for (name <- Seq("e17_ivfadc_search", "e18_ivfadc_recall")) {
      val p = plan(name)
      assert(!p.contains("bloom_filter_agg"), s"$name plans a runtime bloom filter:\n$p")
    }
  }

  test("a sort under a limit stays a top-k: it plans no range exchange to remove") {
    val (_, p) = runFinal("t2_top10_customers")
    assert(p.contains("TakeOrderedAndProject"), s"t2's top-10 became a full one-task sort:\n$p")
  }
}
