package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the ANN recall semantics the gate queries can't distinguish:
  * a query assigned to one cell whose true nearest neighbor sits in
  * ANOTHER cell (the boundary case multi-probe exists for). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // two clusters ~45° apart in the (x,y) plane; the query sits between
  // them, assigned to cell 0 but angularly closer to cell 1's members
  private def corpus() = {
    val cell0 = (10 to 19).map(i => (i.toLong, Array(1.0f, 0.01f * (i - 10), 0f, 0f), 0L))
    val cell1 = (20 to 29).map(i => (i.toLong, Array(0.7f, 0.7f + 0.01f * (i - 20), 0f, 0f), 1L))
    val query = Seq((0L, Array(0.9f, 0.44f, 0f, 0f), 0L))
    (cell0 ++ cell1 ++ query).toDF("vec_id", "embedding", "label")
  }

  test("single-probe IVF stays in the assigned cell; multi-probe recovers the true neighbor") {
    val all = corpus()
    val q = all.filter($"vec_id" === 0L)

    val brute = Similarity.knnBruteForce(all, q, 5)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    assert(brute.head >= 20L && brute.head <= 29L,
      s"construction broken: true nearest ${brute.head} should be in cell 1")

    val single = Similarity.knnIVF(all, q, 5)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    assert(single.nonEmpty && single.forall(id => id >= 10L && id <= 19L),
      "single-probe must only see its own cell")

    // nprobe=2 covers both cells here, so multi-probe must equal brute force
    val multi = Similarity.knnIVFMultiProbe(all, q, 5, nprobe = 2)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    assert(multi == brute,
      s"multi-probe over all cells must match brute force: $multi vs $brute")
  }

  test("every cosine kNN search ranks equal cosines by n_id and never returns the query") {
    // exact duplicates: 0, 3, 5, 7 share one vector (cos 1 to each other),
    // 4 and 9 another (cos 1/sqrt(1.25) to the first group); 1 and 2 sit
    // orthogonal in a second cell. Queries 0 and 5 are corpus members, so
    // each has an exact duplicate of itself that the self-exclusion must
    // keep while dropping the query row.
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(1f, 0.5f, 0f, 0f)
    val o = Array(0f, 1f, 0f, 0f)
    val docs = Seq((0L, a, 0L), (1L, o, 1L), (2L, o, 1L), (3L, a, 0L), (4L, b, 0L),
      (5L, a, 0L), (7L, a, 0L), (9L, b, 0L))
      .toDF("vec_id", "embedding", "label")
    val q = docs.filter($"vec_id".isin(0L, 5L))
    // seeds are ids 0 and 1: one learned cell per planted direction
    val (assigned, centroids) = Similarity.kmeans(docs, k = 2, rounds = 2, dims = 4)
    val searches = Seq(
      "knnBruteForce" -> Similarity.knnBruteForce(docs, q, 5),
      "knnIVF" -> Similarity.knnIVF(docs, q, 5),
      "knnIVFMultiProbe" -> Similarity.knnIVFMultiProbe(docs, q, 5, nprobe = 2),
      "knnIVFMultiProbeLearned" ->
        Similarity.knnIVFMultiProbeLearned(assigned, centroids, q, 5, nprobe = 2))
    val expected = Map(0L -> Seq(3L, 5L, 7L, 4L, 9L), 5L -> Seq(0L, 3L, 7L, 4L, 9L))
    for ((name, df) <- searches) {
      val rows = df.as[(Long, Long, Int, Double)].collect().toSeq
      assert(rows.forall(r => r._1 != r._2), s"$name returned a query as its own neighbor: $rows")
      val byQuery = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
      assert(byQuery.keySet == expected.keySet, s"$name: queries ${byQuery.keySet}")
      for ((qid, ranked) <- byQuery) {
        assert(ranked.map(_._3) == (1 to 5), s"$name q=$qid: ranks ${ranked.map(_._3)}")
        assert(ranked.map(_._2) == expected(qid), s"$name q=$qid: neighbors ${ranked.map(_._2)}")
        assert(ranked.map(_._4) == Seq(1.0, 1.0, 1.0, 0.8944, 0.8944),
          s"$name q=$qid: cosines ${ranked.map(_._4)}")
      }
    }
  }

  test("kmeans learns the planted two-cluster structure and drives learned multi-probe") {
    // drop the label column entirely: the quantizer must be LEARNED.
    // init = first-2 vectors (ids 0, 1) — one seed per planted cluster.
    val planted =
      (0 to 9).map(i => (i.toLong, Array(1.0f, 0.01f * i, 0f, 0f))) ++
        (10 to 19).map(i => (i.toLong, Array(0.01f * (i - 10), 1.0f, 0f, 0f)))
    val df = planted.toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.kmeans(df, k = 2, rounds = 3, dims = 4)
    val byCluster = assigned.select($"vec_id", $"cluster")
      .as[(Long, Int)].collect().groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.keySet == Set(0, 1))
    assert(byCluster(0) == (0L to 9L).toSet, s"cluster 0 = ${byCluster(0)}")
    assert(byCluster(1) == (10L to 19L).toSet, s"cluster 1 = ${byCluster(1)}")
    // distances are non-negative and deterministic across a re-run
    val sq1 = assigned.select($"vec_id", $"sq").as[(Long, Double)].collect().sorted.toSeq
    assert(sq1.forall(_._2 >= 0.0))
    val sq2 = Similarity.kmeans(df, k = 2, rounds = 3, dims = 4)._1
      .select($"vec_id", $"sq").as[(Long, Double)].collect().sorted.toSeq
    assert(sq1 == sq2)
    // learned multi-probe over both cells must equal brute force
    val q = df.filter($"vec_id" === 5L)
    val brute = Similarity.knnBruteForce(df, q, 3)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    val learned = Similarity.knnIVFMultiProbeLearned(assigned, centroids, q, 3, nprobe = 2)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    assert(learned == brute, s"learned multi-probe $learned vs brute $brute")
  }

  test("fused coarse+PQ training equals the independent kmeans and pqModel chains exactly") {
    // the whole point of coarsePqModels is scheduling, not math: every
    // chain must be row-identical to its standalone run — coarse rounds
    // deliberately differ from PQ rounds so the freeze path is exercised
    val rnd = new scala.util.Random(11)
    val docs = (0 until 30).map(i =>
      (i.toLong * 3 + 7, Array.fill(8)(rnd.nextFloat() * 2 - 1))) // sparse ids
      .toDF("vec_id", "embedding")
    val (coarseK, coarseRounds, m, k, rounds, dims) = (3, 3, 2, 4, 2, 8)
    val (fa, fc, fcodes, fbooks) =
      Similarity.coarsePqModels(docs, coarseK, coarseRounds, m, k, rounds, dims)
    val (ia, ic) = Similarity.kmeans(docs, coarseK, coarseRounds, dims)
    val (icodes, ibooks) = Similarity.pqModel(docs, m, k, rounds, dims)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(fa.select($"vec_id", $"cluster", $"sq")) ==
      rows(ia.select($"vec_id", $"cluster", $"sq")), "coarse assignments diverge")
    assert(rows(fc) == rows(ic), "coarse centroids diverge")
    assert(rows(fcodes) == rows(icodes), "PQ codes diverge")
    assert(rows(fbooks) == rows(ibooks), "PQ codebooks diverge")
  }

  test("kmeans: sparse ids seed correctly; k > corpus and duplicate vectors degrade gracefully") {
    // ids nowhere near 0..k-1: seeds are the k SMALLEST ids, labeled 0..k-1
    val sparse = Seq(
      (1000L, Array(1f, 0f, 0f, 0f)),
      (2000L, Array(1f, 0f, 0f, 0f)), // exact duplicate of 1000
      (3000L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val (a, _) = Similarity.kmeans(sparse, k = 5, rounds = 2, dims = 4)
    val m = a.select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    assert(m.size == 3) // every vector assigned even though k > |corpus|
    assert(m(1000L) == m(2000L)) // identical vectors share a cluster
    assert(m.values.forall(c => c >= 0 && c < 3)) // rank labels, not raw ids
  }

  test("pqCodes learns independent per-subspace structure") {
    // 4 dims, m=2 subspaces of 2: front half clusters on axis x vs y,
    // back half on axis z vs w — INDEPENDENTLY of the front (the point of
    // PQ: the code space is the cross product, here 2x2 patterns from 2+2
    // codebook entries). Seeds (ids 0, 1) differ in BOTH subspaces.
    def vec(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val docs = Seq(
      (0L, vec(1f, 0f, 1f, 0f)), // front A, back A (seed 0)
      (1L, vec(0f, 1f, 0f, 1f)), // front B, back B (seed 1)
      (2L, vec(0.9f, 0.1f, 0.1f, 0.9f)), // front A, back B
      (3L, vec(0.1f, 0.9f, 0.9f, 0.1f)), // front B, back A
      (4L, vec(0.8f, 0.2f, 0.8f, 0.2f))) // front A, back A
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqModel(docs, m = 2, k = 2, rounds = 2, dims = 4)._1
      .select($"vec_id", $"sub", $"code").as[(Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(codes(0L) != codes(1L))
    assert(codes(0L)(0) == codes(2L)(0) && codes(1L)(0) == codes(3L)(0)) // front halves
    assert(codes(1L)(1) == codes(2L)(1) && codes(0L)(1) == codes(3L)(1)) // back halves
    assert(codes(4L) == codes(0L)) // full agreement only when both halves agree
    // every (vec, sub) coded exactly once
    assert(codes.values.forall(_.length == 2) && codes.size == 5)
  }

  test("pqAdcSearch ranks by shared-code count on the planted corpus") {
    def vec(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val docs = Seq(
      (0L, vec(1f, 0f, 1f, 0f)),
      (1L, vec(0f, 1f, 0f, 1f)),
      (2L, vec(0.9f, 0.1f, 0.1f, 0.9f)), // shares 0's FRONT code only
      (3L, vec(0.1f, 0.9f, 0.9f, 0.1f)), // shares 0's BACK code only
      (4L, vec(0.8f, 0.2f, 0.8f, 0.2f))) // shares BOTH of 0's codes
      .toDF("vec_id", "embedding")
    val q = docs.filter($"vec_id" === 0L)
    val (codes, books) = Similarity.pqModel(docs, m = 2, k = 2, rounds = 2, dims = 4)
    val r = Similarity.pqAdcSearchFrom(codes, books, q, m = 2, subLen = 2, topK = 4)
      .orderBy($"rank").as[(Long, Long, Int, Double)].collect()
    // ADC distance is a pure function of the neighbor's CODES: the
    // both-codes-match vector must rank first, the no-match vector last
    assert(r.head._2 == 4L, s"both-codes match should rank 1st: ${r.toSeq}")
    assert(r.last._2 == 1L, s"no-code match should rank last: ${r.toSeq}")
    assert(r.map(_._4).toSeq == r.map(_._4).sorted.toSeq) // adc ascending
    // 2 and 3 (one shared code each) sit strictly between
    assert(Set(r(1)._2, r(2)._2) == Set(2L, 3L))
  }

  test("VecArgminCell (codegen) equals the HOF fold incl. ties and the empty table") {
    // random vectors + centroid table; the HOF formulation is the spec
    val rnd = new scala.util.Random(42)
    val dims = 8
    val vecs = (0 until 50)
      .map(i => (i.toLong, Array.fill(dims)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "v")
      .withColumn("dxx", graft.functions.VectorFunctions.vec_dot($"v", $"v"))
    // duplicate centroid (clusters 2 and 3 identical) forces sq ties: the
    // strict < must keep the LOWER cluster id on both paths
    val base = Array.fill(dims)(rnd.nextDouble())
    val cents = Seq(
      (0, Array.fill(dims)(rnd.nextDouble())),
      (1, Array.fill(dims)(rnd.nextDouble())),
      (2, base), (3, base.clone()))
      .toDF("cluster", "c")
      .withColumn("dcc", graft.functions.VectorFunctions.vec_dot($"c", $"c"))
      .agg(array_sort(collect_list(struct($"cluster", $"c", $"dcc"))).as("cents"))
    val both = vecs.crossJoin(cents)
      .withColumn("cg",
        graft.functions.VectorFunctions.vec_argmin_cell($"v", $"dxx", $"cents"))
      .withColumn("hof", aggregate(
        $"cents",
        struct(lit(Double.MaxValue).as("sq"), lit(-1).as("cluster")),
        (acc, ct) => {
          val sq = $"dxx" - lit(2.0) *
            graft.functions.VectorFunctions.vec_dot($"v", ct.getField("c")) +
            ct.getField("dcc")
          when(sq < acc.getField("sq"),
            struct(sq.as("sq"), ct.getField("cluster").as("cluster")))
            .otherwise(acc)
        }))
      .select($"vec_id", $"cg.sq", $"cg.cluster", $"hof.sq", $"hof.cluster")
      .as[(Long, Double, Int, Double, Int)].collect()
    both.foreach { case (id, csq, ccl, hsq, hcl) =>
      assert(csq == hsq && ccl == hcl, s"vec $id: codegen ($csq,$ccl) vs HOF ($hsq,$hcl)")
    }
    // ties landed on a duplicated centroid for at least some vector -> the
    // tie-break path was actually exercised, and 3 never wins over 2
    assert(both.forall(_._3 != 3))
    // empty centroid table -> the fold's init value
    val empty = vecs.limit(1)
      .withColumn("cents", array().cast(
        "array<struct<cluster:int,c:array<double>,dcc:double>>"))
      .select(graft.functions.VectorFunctions
        .vec_argmin_cell($"v", $"dxx", $"cents").as("r"))
      .select($"r.sq", $"r.cluster").as[(Double, Int)].head()
    assert(empty == ((Double.MaxValue, -1)))
  }

  test("ivfPqSearch with nprobe covering every cell equals exhaustive ADC; nprobe=1 scores only the probed cell") {
    def vec(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val docs = Seq(
      (0L, vec(1f, 0f, 1f, 0f)),
      (1L, vec(0f, 1f, 0f, 1f)),
      (2L, vec(0.9f, 0.1f, 0.1f, 0.9f)),
      (3L, vec(0.1f, 0.9f, 0.9f, 0.1f)),
      (4L, vec(0.8f, 0.2f, 0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val q = docs.filter($"vec_id" === 0L)
    // coarse k=2 cells; nprobe=2 probes BOTH -> the cell restriction is
    // vacuous and IVF-PQ must reproduce the exhaustive ADC ranking exactly
    val (pqCodes, pqBooks) = Similarity.pqModel(docs, m = 2, k = 2, rounds = 2, dims = 4)
    val full = Similarity.pqAdcSearchFrom(pqCodes, pqBooks, q, m = 2, subLen = 2, topK = 4)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3).toSeq
    val (a, c, codes, books) = Similarity.coarsePqModels(docs, coarseK = 2, coarseRounds = 2,
      m = 2, k = 2, rounds = 2, dims = 4)
    def ivf(nprobe: Int) =
      Similarity.ivfPqSearchFrom(a, c, codes, books, q, m = 2, subLen = 2, topK = 4, nprobe)
    val all = ivf(nprobe = 2).as[(Long, Long, Int, Double)].collect().sortBy(_._3).toSeq
    assert(all == full, s"all-cells IVF-PQ must equal exhaustive ADC: $all vs $full")
    // nprobe=1: every returned neighbor must live in ONE coarse cell
    val cells = Similarity.kmeans(docs, k = 2, rounds = 2, dims = 4)._1
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val one = ivf(nprobe = 1)
      .select($"n_id").as[Long].collect().toSeq
    assert(one.nonEmpty && one.map(cells).distinct.size == 1,
      s"nprobe=1 must confine scoring to a single coarse cell, got cells ${one.map(cells)}")
    assert(one.size < full.size,
      "single-probe must actually prune (fewer candidates than exhaustive)")
  }

  test("residual PQ beats raw PQ when clusters outnumber codebook entries") {
    // 4 well-separated cluster offsets but only k=2 codebook entries per
    // subspace: raw PQ cannot represent 4 offsets with 2 entries, residual
    // PQ subtracts the coarse centroid first so its codebook only has to
    // cover the small intra-cluster jitter — the reason IVFADC encodes
    // residuals
    val rnd = new scala.util.Random(7)
    val offsets = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val docs = (0 until 40).map { i =>
      val base = offsets(i % 4)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding")
    val raw = Similarity.pqModel(docs, m = 2, k = 2, rounds = 2, dims = 4)._1
    val (assigned, centroids) = Similarity.kmeans(docs, k = 4, rounds = 3, dims = 4)
    val resVecs = Similarity.residualsFrom(assigned, centroids)
    // residuals are near-centered: magnitudes collapse vs the raw vectors
    val resNorm = resVecs.select(
      sqrt(graft.functions.VectorFunctions.vec_dot(
        $"embedding", $"embedding"))).as[Double].collect()
    assert(resNorm.forall(_ < 1.0), s"residuals should be tiny, max=${resNorm.max}")
    val res = Similarity.pqModel(resVecs, m = 2, k = 2, rounds = 2, dims = 4)._1
    val rawTot = raw.agg(sum($"sq")).as[Double].head()
    val resTot = res.agg(sum($"sq")).as[Double].head()
    assert(resTot < rawTot * 0.5,
      s"residual PQ should reconstruct far better: res=$resTot raw=$rawTot")
  }

  test("ivfAdcResidualSearch keeps every neighbor in the query's cluster and ranks by residual distance") {
    // 4 cluster offsets ~14 apart, jitter <= 0.3: a neighbor in the
    // query's own cluster has residual-ADC distance O(jitter²) while any
    // cross-cluster candidate scores against a FAR centroid's residual
    // (O(offset²)) — so the returned top-k must live entirely in the
    // query's cluster even with every cell probed, and the adc column must
    // ascend with rank. (Exact within-cluster ORDER is not pinned: a
    // 2-entry codebook quantizes the jitter too coarsely for that.)
    val rnd = new scala.util.Random(11)
    val offsets = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val docs = (0 until 24).map { i =>
      val base = offsets(i % 4)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding")
    val q = docs.filter($"vec_id" === 0L)
    // coarse quantizer first: the residual codebooks train on its residuals
    val (assigned, centroids) = Similarity.kmeans(docs, k = 4, rounds = 3, dims = 4)
    val resid = Similarity.residualsFrom(assigned, centroids)
    val (codes, books) = Similarity.pqModelFrom(
      Similarity.slicedVecs(resid, 2, 2, 0), k = 2, rounds = 2, subLen = 2, nSub = 2)
    val res = Similarity.ivfAdcResidualSearchFrom(assigned, centroids, codes, books, q,
      m = 2, subLen = 2, topK = 3, nprobe = 4)
      .orderBy($"rank").as[(Long, Long, Int, Double)].collect().toSeq
    assert(res.size == 3)
    assert(res.forall(_._2 % 4 == 0),
      s"neighbors should share the query's cluster: ${res.map(_._2)}")
    assert(res.map(_._4) == res.map(_._4).sorted, "adc must ascend with rank")
    // cross-cluster separation is macroscopic: every returned adc is far
    // below the squared inter-offset distance (~200)
    assert(res.forall(_._4 < 10.0), s"in-cluster adc should be tiny: $res")
  }

  test("VecArgminCell skips null centroid entries identically in eval and codegen") {
    // cluster 0 is a null struct element, cluster 1 has a null double in c,
    // cluster 2 has a null dcc field, cluster 3 is the one valid entry:
    // all invalid entries are SKIPPED, so 3 must win on both paths; an
    // all-invalid table degenerates to the empty-table result
    val vecs = Seq((0L, Array(1.0, 2.0))).toDF("vec_id", "v")
      .withColumn("dxx", graft.functions.VectorFunctions.vec_dot($"v", $"v"))
    val centsTyped = "array<struct<cluster:int,c:array<double>,dcc:double>>"
    def runOnce(centsSql: String): (Double, Int) =
      vecs.withColumn("cents", expr(centsSql).cast(centsTyped))
        .select(graft.functions.VectorFunctions
          .vec_argmin_cell($"v", $"dxx", $"cents").as("r"))
        .select($"r.sq", $"r.cluster").as[(Double, Int)].head()
    // cg=true runs under defaults; cg=false forces the genuinely
    // interpreted projection (SparkSpec.interpreted: NO_CODEGEN)
    def run(centsSql: String, codegen: Boolean): (Double, Int) =
      if (codegen) runOnce(centsSql) else interpreted(runOnce(centsSql))
    val mixed = """array(
      cast(null as struct<cluster:int,c:array<double>,dcc:double>),
      named_struct('cluster', 1, 'c', array(1.0D, cast(null as double)), 'dcc', 2.0D),
      named_struct('cluster', 2, 'c', array(0.0D, 0.0D), 'dcc', cast(null as double)),
      named_struct('cluster', 3, 'c', array(1.0D, 2.0D), 'dcc', 5.0D))"""
    for (cg <- Seq(true, false)) {
      val (sq, cl) = run(mixed, cg)
      assert(cl == 3 && math.abs(sq) < 1e-12,
        s"codegen=$cg: valid centroid 3 must win, got ($sq, $cl)")
      val allBad = run("""array(
        cast(null as struct<cluster:int,c:array<double>,dcc:double>),
        named_struct('cluster', 1, 'c', array(cast(null as double), 1.0D), 'dcc', 1.0D))""", cg)
      assert(allBad == ((Double.MaxValue, -1)),
        s"codegen=$cg: all-invalid table must degenerate to the empty result")
    }
  }

  test("e22 re-rank: exact refine recovers every truth member the shortlist contains") {
    // end-to-end on the sf0.001 fixture corpus: reranked hits must equal
    // |truth ∩ shortlist| — i.e. the refine step can only lose a truth
    // member the compressed-domain shortlist never surfaced — and so can
    // never score below ADC-only (the rerank_ge theorem, per query)
    val d = "/root/testdata/sf0.001"
    val out = graft.queries.SimilarityQueries.e22AdcRerank(spark, d)
      .select($"q_id", $"hit_adc", $"hit_rerank", $"rerank_ge")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.size == 10)
    assert(out.forall(_._4), s"rerank_ge violated: $out")
    assert(out.forall { case (_, adc, rr, _) => rr >= adc })
    // and the refine is not vacuous on this corpus: strictly better
    // somewhere (deterministic fixture, so this is a stable pin)
    assert(out.exists { case (_, adc, rr, _) => rr > adc },
      s"re-rank never improved on the fixture corpus: $out")
  }

  test("multi-probe with nprobe=1 degrades to probing the nearest CENTROID (not the assignment)") {
    val all = corpus()
    val q = all.filter($"vec_id" === 0L)
    // the query's angle is nearer cell 1's centroid than cell 0's, so even
    // nprobe=1 centroid-probing beats assignment-probing for this query
    val multi1 = Similarity.knnIVFMultiProbe(all, q, 5, nprobe = 1)
      .orderBy($"rank").select($"n_id").as[Long].collect().toSeq
    assert(multi1.nonEmpty && multi1.forall(id => id >= 20L && id <= 29L),
      s"nprobe=1 should probe the nearest-centroid cell (cell 1), got $multi1")
  }
}
