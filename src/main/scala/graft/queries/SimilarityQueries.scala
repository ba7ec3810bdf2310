package graft.queries

import graft.Tables
import graft.operators.Similarity._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.functions._

/** Similarity-search operators over the `embeddings` table. */
object SimilarityQueries {

  private def queriesSide(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 10)

  /** Exact top-5 cosine neighbors for a small query batch — the brute-force
    * baseline every ANN variant is measured against. */
  def e1KnnBrute(s: SparkSession, d: String): DataFrame =
    knnBruteForce(Tables.embeddings(s, d), queriesSide(s, d), 5)
      .orderBy(col("q_id"), col("rank"))

  /** IVF-style ANN: probe only the query's coarse cell (`label` stands in
    * for the k-means assignment). */
  def e2KnnIVF(s: SparkSession, d: String): DataFrame =
    knnIVF(Tables.embeddings(s, d), queriesSide(s, d), 5)
      .orderBy(col("q_id"), col("rank"))

  /** Multi-probe IVF ANN: probe the 2 nearest cells by centroid similarity
    * (centroids derived in-plan — the e4 training step feeding the e2
    * search shape; the recall dial over single-probe IVF). */
  def e6KnnIVFMultiProbe(s: SparkSession, d: String): DataFrame =
    knnIVFMultiProbe(Tables.embeddings(s, d), queriesSide(s, d), 5, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))

  /** Embedding near-dup pairs within a coarse cell at cosine ≥ 0.35. */
  def e3CosNeardup(s: SparkSession, d: String): DataFrame =
    cosineNearDupPairs(Tables.embeddings(s, d), 0.35)
      .orderBy(col("id1"), col("id2"))

  /** Unit-normalization (the embedding-prep step before any cosine
    * pipeline: normalized vectors turn cosine into plain dot product).
    * Norm via the codegen'd VecDot; output is exploded to scalar
    * (vec_id, dim, unit_val) rows — the oracle comparator hashes scalar
    * cells, so array columns stay internal, never in a gated result. */
  def e5Normalize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), col("e"),
        sqrt(graft.functions.VectorFunctions.vec_dot(col("e"), col("e"))).as("norm"))
      .select(col("vec_id"), col("norm"), posexplode(col("e")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        graft.operators.Relational.round4(col("col") / col("norm")).as("unit_val"))
      .orderBy(col("vec_id"), col("dim"))

  /** Int8 scalar quantization — the ANN memory-compression step (float32 →
    * int8 is the 4× that turns a 100 TB embedding store into 25 TB, with
    * the per-vector scale kept for dequantization). qval = ⌊x/scale + ½⌋
    * with scale = max|x|/127: every operation (abs, max, divide, floor) is
    * correctly-rounded IEEE, so both engines produce bit-identical results
    * with no display rounding. Output exploded to scalar rows (gate-
    * hashable); a zero vector quantizes to zeros, not NaN. */
  def e7Quantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))) / lit(127.0))
      .select(col("vec_id"), col("scale"), posexplode(col("e")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(col("col") / col("scale") + lit(0.5)))
          .cast("int").as("qval"),
        col("scale"))
      .orderBy(col("vec_id"), col("dim"))

  /** Quantization round-trip fidelity: per-vector max reconstruction error
    * relative to the quantization step — mathematically ≤ 0.5 for
    * round-to-nearest, so this is the invariant that makes e7's output fit
    * for ANN. Same correctly-rounded IEEE ops on both engines; only the
    * final ratio is display-rounded. */
  def e8DequantError(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))) / lit(127.0))
      .filter(col("scale") > 0.0)
      .select(col("vec_id"), col("scale"), posexplode(col("e")))
      .select(col("vec_id"), col("scale"),
        abs(col("col") - floor(col("col") / col("scale") + lit(0.5)) * col("scale")).as("err"))
      .groupBy(col("vec_id"), col("scale"))
      .agg(max(col("err")).as("max_err"))
      .select(col("vec_id"),
        graft.operators.Relational.round4(col("max_err") / col("scale")).as("rel_err"))
      .orderBy(col("vec_id"))

  /** k-means defaults shared by the e9/e10/e11 gates AND their generated
    * oracle SQL ([[Catalog.kmeansCtes]]): 8 clusters, 3 Lloyd rounds, init
    * = first k vectors by id. */
  val KmeansK = 8
  val KmeansRounds = 3
  val KmeansDims = 64

  /** In-plan Lloyd k-means assignment after [[KmeansRounds]] rounds: which
    * cluster each vector lands in, plus its squared distance — the learned
    * replacement for the dataset's `label` column as the IVF coarse
    * quantizer. */
  def e9KmeansAssign(s: SparkSession, d: String): DataFrame =
    Models.coarsePq(s, d).assigned
      .select(col("vec_id"), col("cluster"),
        graft.operators.Relational.round4(col("sq")).as("sq_dist"))
      .orderBy(col("vec_id"))

  /** Per-cluster inertia of the final k-means assignment (the quantity
    * Lloyd descends): exact decimal sum of the display-rounded per-vector
    * squared distances — order-independent, so distributed summation
    * cannot perturb the gate. */
  def e10KmeansInertia(s: SparkSession, d: String): DataFrame =
    Models.coarsePq(s, d).assigned
      .select(col("cluster"),
        graft.operators.Relational.round4(col("sq")).as("sqr"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sqr").cast("decimal(18,4)")).cast("double").as("inertia"))
      .orderBy(col("cluster"))

  /** Multi-probe IVF ANN over the LEARNED quantizer: e6's probe/scan shape
    * with cells and probe centroids from the in-plan k-means instead of
    * the dataset's `label` column — the full train→assign→search path. */
  def e11KnnIVFLearned(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    knnIVFMultiProbeLearned(cp.assigned, cp.centroids, queriesSide(s, d), 5, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Recall@5 of the learned-IVF search against the brute-force ground
    * truth — the standard ANN quality measurement, closing the
    * train→assign→search→EVALUATE loop in-plan. Per query: how many of the
    * exact top-5 neighbors ([[e1KnnBrute]]'s result) the multi-probe
    * learned search ([[e11KnnIVFLearned]]'s result) returned
    * ([[recallAgainst]]); the cost is the two searches themselves. */
  def e12RecallAtK(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    val truth = knnBruteForce(Tables.embeddings(s, d), queriesSide(s, d), 5)
      .select(col("q_id"), col("n_id"))
    recallAgainst(truth,
      knnIVFMultiProbeLearned(cp.assigned, cp.centroids, queriesSide(s, d), 5, nprobe = 2))
      .orderBy(col("q_id"))
  }

  /** Per-query recall of an approximate search against its (q_id, n_id)
    * truth — the check e12 and e18 share: both sides are tiny ranked lists
    * (q × k rows), so the compare join broadcasts; the denominator is the
    * per-query truth count (= k here), so the gate stays honest if a query
    * ever has fewer than k neighbors. Columns (q_id, n_truth, n_hit,
    * recall). */
  private def recallAgainst(truth: DataFrame, approx: DataFrame): DataFrame =
    truth
      .join(broadcast(approx.select(col("q_id").as("a_q"), col("n_id").as("a_n"))),
        col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_hit"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        graft.operators.Relational.round4(
          col("n_hit").cast("double") / col("n_truth")).as("recall"))

  /** Probe-count sensitivity of learned-IVF recall — the recall/cost dial
    * MEASURED instead of asserted at one point: recall@5 at nprobe ∈
    * {1, 2, 4} from ONE scored candidate pass. The widest probe set
    * (prank ≤ 4) is scored once; each narrower nprobe's top-5 is a
    * row_number whose ordering pushes prank > n rows to the bottom — three
    * sorts over the same frame, no re-join, no re-scan. `monotone` pins
    * the structural guarantee that recall never falls as nprobe grows
    * (true-top-5 members outrank every non-member in any candidate
    * subset, so widening the probe set only adds them). */
  def e12bProbeRecall(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    val scored = learnedCandidates(cp.assigned, cp.centroids, queriesSide(s, d), nprobe = 4)
      .select(col("q_id"), col("n_id"), col("prank"), col("cos"))
    def wn(n: Int) = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(when(col("prank") <= n, 0).otherwise(1).asc,
        col("cos").desc, col("n_id").asc)
    val flags = scored
      .withColumn("rk1", row_number().over(wn(1)))
      .withColumn("rk2", row_number().over(wn(2)))
      .withColumn("rk4", row_number().over(wn(4)))
      .select(col("q_id"), col("n_id"),
        (col("prank") <= 1 && col("rk1") <= 5).as("h1"),
        (col("prank") <= 2 && col("rk2") <= 5).as("h2"),
        (col("prank") <= 4 && col("rk4") <= 5).as("h4"))
    val truth = knnBruteForce(Tables.embeddings(s, d), queriesSide(s, d), 5)
      .select(col("q_id"), col("n_id"))
    def recall(h: Column): Column =
      graft.operators.Relational.round4(
        count(when(h, lit(1))).cast("double") / count(lit(1)))
    truth
      .join(broadcast(flags), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        recall(col("h1")).as("recall_1"),
        recall(col("h2")).as("recall_2"),
        recall(col("h4")).as("recall_4"))
      .withColumn("monotone",
        col("recall_1") <= col("recall_2") && col("recall_2") <= col("recall_4"))
      .orderBy(col("q_id"))
  }

  /** PQ geometry shared by the e13 gate and its generated oracle: 2
    * subspaces of 32 dims, 8-entry codebooks, 2 Lloyd rounds. */
  val PqM = 2
  val PqK = 8
  val PqRounds = 2

  /** Product-quantization codes: per (vector, subspace) the nearest
    * codebook entry and its squared error — the sub-byte ANN storage path
    * (see [[graft.operators.Similarity.pqModel]]). */
  def e13PqCodes(s: SparkSession, d: String): DataFrame =
    Models.coarsePq(s, d).codes
      .select(col("vec_id"), col("sub"), col("code"),
        graft.operators.Relational.round4(col("sq")).as("sq"))
      .orderBy(col("vec_id"), col("sub"))

  /** PQ-ADC top-5 search: the query scores the whole corpus through its
    * codebook lookup table — the code-only scan that makes PQ an INDEX,
    * not just compression (see [[graft.operators.Similarity.pqAdcSearchFrom]]). */
  def e14AdcSearch(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    graft.operators.Similarity.pqAdcSearchFrom(
      cp.codes, cp.books, queriesSide(s, d), PqM, KmeansDims / PqM, 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ (IVFADC) top-5 search: the coarse cells (e9's k-means), the PQ
    * codes (e13's codebooks), and the ADC scan (e14's LUT) composed so each
    * query scores ONLY its 2 probed cells — the scale-safe form of e14
    * (see [[graft.operators.Similarity.ivfPqSearchFrom]]). */
  def e15IvfPqSearch(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    graft.operators.Similarity.ivfPqSearchFrom(
      cp.assigned, cp.centroids, cp.codes, cp.books, queriesSide(s, d),
      PqM, KmeansDims / PqM, topK = 5, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Residual product quantization vs raw PQ — the IVFADC encoding choice
    * made measurable: PQ trained on coarse-quantizer residuals
    * ([[graft.operators.Similarity.residualsFrom]]) against PQ trained on the
    * raw vectors, per-vector total squared reconstruction error side by
    * side (subspaces are an orthogonal decomposition, so the per-sub sq
    * errors sum exactly to the vector's reconstruction error). `improved`
    * pins the expected direction; both engines compute the same flag, so
    * the gate stays honest either way. */
  def e16ResidualPq(s: SparkSession, d: String): DataFrame = {
    // both encodings come from the session fixtures: the raw codes train
    // fused with the coarse chain, the residual codes train on the SAME
    // coarse model's residuals — arithmetic identical to the two
    // independent chains the oracle replays
    val raw = Models.coarsePq(s, d).codes
    val res = Models.residualPq(s, d).codes
    def perVec(codes: DataFrame, name: String): DataFrame =
      codes
        .select(col("vec_id"), graft.operators.Relational.round4(col("sq"))
          .cast("decimal(18,4)").as("sqr"))
        .groupBy(col("vec_id"))
        .agg(sum(col("sqr")).cast("double").as(name))
    perVec(raw, "raw_err")
      .join(perVec(res, "res_err"), Seq("vec_id"))
      .withColumn("improved", col("res_err") <= col("raw_err"))
      .orderBy(col("vec_id"))
  }

  /** Semantic dedup — the SemDeDup-style composition (Abbas et al. 2023)
    * the embedding-side catalog builds toward: [[e9KmeansAssign]]'s learned
    * cells bound the pair search, within-cell cosine pairs at ≥ 0.35
    * become edges, [[graft.operators.Graph.connectedComponents]] collapses
    * them to clusters labeled by min member id, and `keep` marks the one
    * representative per cluster. Never all-pairs: the cell equi-join +
    * salting bounds the blowup exactly like e3, and the component
    * iteration runs on the (tiny) edge list only. */
  def c5SemanticDedup(s: SparkSession, d: String): DataFrame = {
    // the labeled corpus comes checkpointed from the session fixture, so
    // BOTH sides of the salted self-join read one materialized frame
    val base = Models.coarsePq(s, d).assigned
      .select(col("vec_id"), col("v").as("emb"),
        col("cluster").as("cell"), sqrt(col("dxx")).as("nrm"))
    val pairs = graft.operators.Similarity
      .cosineNearDupPairsFrom(base, 0.35)
      .select(col("id1"), col("id2"))
    val labels = graft.operators.Graph.connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    labels
      .select(col("id").as("vec_id"), col("comp").as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", col("vec_id") === col("cluster"))
      .orderBy(col("cluster"), col("vec_id"))
  }

  /** Full IVFADC top-5 search: e15's probed-cells ADC over e16's residual
    * encoding — per probed cell the query builds its own residual LUT, so
    * the ADC sum approximates the true residual distance (see
    * [[graft.operators.Similarity.ivfAdcResidualSearchFrom]]). */
  def e17IvfadcSearch(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    val rp = Models.residualPq(s, d)
    graft.operators.Similarity.ivfAdcResidualSearchFrom(
      cp.assigned, cp.centroids, rp.codes, rp.books, queriesSide(s, d),
      PqM, KmeansDims / PqM, topK = 5, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Brute-force EUCLIDEAN top-k truth — the metric ADC approximates, so
    * it is what the PQ-family evaluations (e18, e19) grade against.
    * Same broadcast-queries / per-partition-top-k shape as
    * [[graft.operators.Similarity.knnBruteForce]], distance
    * ‖q‖² − 2·q·n + ‖n‖² ranked (asc, n_id). */
  private[queries] def l2Truth(s: SparkSession, d: String, k: Int): DataFrame = {
    import graft.operators.Similarity.dot
    val c = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("n_id"),
        col("embedding").cast("array<double>").as("n_emb"))
      .withColumn("n_dxx", dot(col("n_emb"), col("n_emb")))
    val q = queriesSide(s, d)
      .select(col("vec_id").as("tq_id"),
        col("embedding").cast("array<double>").as("tq_emb"))
      .withColumn("tq_dxx", dot(col("tq_emb"), col("tq_emb")))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tq_id")).orderBy(col("d2").asc, col("n_id").asc)
    c.join(broadcast(q), col("tq_id") =!= col("n_id"))
      .withColumn("d2", col("tq_dxx")
        - lit(2.0) * dot(col("tq_emb"), col("n_emb")) + col("n_dxx"))
      .withColumn("trank", row_number().over(wt))
      .filter(col("trank") <= k)
      .select(col("tq_id").as("q_id"), col("n_id"))
  }

  /** Recall@5 of the full IVFADC search (e17) against brute-force
    * EUCLIDEAN truth — ADC approximates squared L2, so the truth ranking
    * must be L2 too (grading an L2 search against cosine truth would
    * conflate metric mismatch with quantization loss). Mirrors
    * [[e12RecallAtK]] for the PQ path through the same
    * [[recallAgainst]]. */
  def e18IvfadcRecall(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    val rp = Models.residualPq(s, d)
    recallAgainst(Models.l2Truth5(s, d),
      ivfAdcResidualSearchFrom(
        cp.assigned, cp.centroids, rp.codes, rp.books, queriesSide(s, d),
        PqM, KmeansDims / PqM, topK = 5, nprobe = 2))
      .orderBy(col("q_id"))
  }

  /** ADC shortlist re-ranking (e22) — the refine step of Jégou et al.
    * 2011 §III-C that production IVFADC deployments run: the compressed-
    * domain search produces a SHORTLIST of R = 20 candidates per query
    * (cheap: code-only scan of the probed cells), then only those R rows
    * fetch their RAW vectors and re-rank by exact L2, emitting the top 5.
    *
    * Why this is the at-scale shape: the expensive asset — the full-
    * precision vectors — is touched |Q|·R times total, via a broadcast
    * semi-join of the (tiny) shortlist against the vector store keyed on
    * vec_id, never scanned. ADC quantization error decides only WHO is in
    * the shortlist; the final ordering is exact. Recall can only go up:
    * any true top-5 member present in the 20-candidate shortlist has (by
    * definition of the truth) a smaller exact distance than every
    * non-truth candidate, so exact re-ranking always surfaces it —
    * `rerank_ge` is a theorem, and the gate measures it TRUE per query
    * against the same brute-force L2 truth e18 grades on. */
  def e22AdcRerank(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity.dot
    val truth = Models.l2Truth5(s, d)
    val cp = Models.coarsePq(s, d)
    val rp = Models.residualPq(s, d)
    // compressed-domain shortlist: IVFADC (e17's search, same model) at
    // topK = 20; materialized — two consumers (adc@5 arm + re-rank arm)
    // must not re-run the ADC join
    val shortlist = materialize(graft.operators.Similarity.ivfAdcResidualSearchFrom(
      cp.assigned, cp.centroids, rp.codes, rp.books, queriesSide(s, d),
      PqM, KmeansDims / PqM, topK = 20, nprobe = 2)
      .select(col("q_id"), col("n_id"), col("rank")))
    val q = queriesSide(s, d)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("q_dxx", dot(col("qe"), col("qe")))
    // raw vectors ONLY for shortlist members: broadcast the |Q|·R pair
    // list so the vector fetch is a map-side hash semi-join, not a scan
    val cand = shortlist.select(col("q_id"), col("n_id"))
    val fetched = Tables.embeddings(s, d)
      .select(col("vec_id").as("n_id"),
        col("embedding").cast("array<double>").as("ne"))
      .join(broadcast(cand), "n_id")
      .join(broadcast(q), "q_id")
      .withColumn("d2", col("q_dxx")
        - lit(2.0) * dot(col("qe"), col("ne")) + dot(col("ne"), col("ne")))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("n_id").asc)
    val rr = fetched
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 5)
      .select(col("q_id").as("r_q"), col("n_id").as("r_n"))
    val adc5 = shortlist.filter(col("rank") <= 5)
      .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
    truth
      .join(broadcast(adc5),
        col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
      .join(broadcast(rr),
        col("q_id") === col("r_q") && col("n_id") === col("r_n"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        count(col("a_n")).as("hit_adc"), count(col("r_n")).as("hit_rerank"))
      .select(col("q_id"), col("n_truth"), col("hit_adc"), col("hit_rerank"),
        graft.operators.Relational.round4(
          col("hit_adc").cast("double") / col("n_truth")).as("recall_adc"),
        graft.operators.Relational.round4(
          col("hit_rerank").cast("double") / col("n_truth")).as("recall_rerank"),
        (col("hit_rerank") >= col("hit_adc")).as("rerank_ge"))
      .orderBy(col("q_id"))
  }

  /** PQ geometry dial, measured: exhaustive-ADC recall@5 against Euclidean
    * truth for m = 2 (6-bit codes) vs m = 4 (12-bit codes) on the same
    * corpus, as ONE row of corpus-level means. `finer_wins` is a MEASURED
    * comparison, not an asserted invariant: finer slicing adds code
    * capacity but also strengthens the subspace-independence assumption
    * ADC relies on, and on isotropic embeddings the violation can
    * outweigh the capacity (the phenomenon that motivates OPQ's learned
    * rotation, Ge et al. 2013) — on this synthetic corpus m=4 indeed
    * loses. The oracle replays both geometries and must land on the same
    * means and the same flag. */
  def e19PqDial(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity.pqAdcSearchFrom
    val truth = Models.l2Truth5(s, d)
    // m=2 is the session fixture's standard geometry; m=4 is the finer
    // comparison arm, its own train-once fixture ([[Models.pqM4]])
    def search(m: Int): DataFrame =
      if (m == PqM) {
        val cp = Models.coarsePq(s, d)
        pqAdcSearchFrom(cp.codes, cp.books, queriesSide(s, d), PqM, KmeansDims / PqM, 5)
      } else {
        val p4 = Models.pqM4(s, d)
        pqAdcSearchFrom(p4.codes, p4.books, queriesSide(s, d), m, KmeansDims / m, 5)
      }
    def meanRecall(m: Int): DataFrame =
      truth
        .join(broadcast(
          search(m).select(col("q_id").as("a_q"), col("n_id").as("a_n"))),
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(graft.operators.Relational.round4(
          count(col("a_n")).cast("double") / count(lit(1)))
          .cast("decimal(18,4)").as("r"))
        .agg(graft.operators.Relational.round4(
          sum(col("r")).cast("double") / count(lit(1))).as("mean_recall"))
    meanRecall(2).select(col("mean_recall").as("mean_recall_m2"))
      .crossJoin(meanRecall(4).select(col("mean_recall").as("mean_recall_m4")))
      .withColumn("finer_wins", col("mean_recall_m4") >= col("mean_recall_m2"))
  }

  /** Coordinate PARTITIONS for the OPQ-lite dial (e20): how the 64 dims
    * split into the m=2 subspaces. Only the partition matters to PQ
    * distortion — reordering coordinates WITHIN a subspace is an isometry
    * of the slice (identical Lloyd trajectory up to coordinate labels) —
    * but the order is kept identical on both engines so hashes match.
    * All candidates are deterministic; "identity" is the contiguous
    * split every other PQ gate uses. */
  val OpqPerms: Seq[(String, Seq[Int])] = Seq(
    "identity" -> (1 to 64),
    "even_odd" -> ((1 to 63 by 2) ++ (2 to 64 by 2)),
    "quarters" -> ((1 to 16) ++ (33 to 48) ++ (17 to 32) ++ (49 to 64)),
    "mod4_pairs" -> ((1 to 64).filter(i => i % 4 == 1 || i % 4 == 2)
      ++ (1 to 64).filter(i => i % 4 == 3 || i % 4 == 0)))

  /** OPQ-lite permutation search (e20): e19 measured that PQ geometry can
    * LOSE to coarser slicing when the subspace-independence assumption
    * breaks — the phenomenon OPQ's learned rotation fixes (Ge et al.
    * 2013). Full OPQ (SVD per iteration) is out of scope in-plan; the
    * honest, deterministic middle step is a PERMUTATION search: train PQ
    * under a small fixed candidate set of coordinate partitions
    * ([[OpqPerms]]) on the same codebook budget and measure total
    * reconstruction error. One row per candidate with `beats_identity`
    * (direction flag, e16's pattern — measured, not asserted) and
    * `is_best`. The three non-identity candidates train FUSED (6 chains,
    * one barrier set per round) through the session model cache
    * ([[Models.opqPermCodes]] — train-once, like every e-family
    * fixture); identity's error comes from the session fixture's raw PQ
    * codes — the same arithmetic as its own chain. A production OPQ-lite
    * would pick `is_best` and store the winning permutation with the
    * codebooks (one extra int per dim).
    *
    * Measured on the synthetic corpus (sf0.01): identity wins — the
    * embeddings are isotropic, so no coordinate partition finds structure
    * to exploit, the same honest direction e19 reports for finer m. On
    * real embeddings with correlated blocks the dial turns; the gate pins
    * the MEASUREMENT machinery, not a foregone winner. */
  def e20OpqPermute(s: SparkSession, d: String): DataFrame = {
    val idCodes = Models.coarsePq(s, d).codes
    val others = OpqPerms.filter(_._1 != "identity")
    val codes = Models.opqPermCodes(s, d)
    def total(c: DataFrame, permName: String): DataFrame =
      c.select(graft.operators.Relational.round4(col("sq"))
        .cast("decimal(18,4)").as("sqr"))
        .agg(sum(col("sqr")).cast("double").as("total_err"))
        .select(lit(permName).as("perm"), col("total_err"))
    // 4 rows; read three times below
    val all = materialize((total(idCodes, "identity") +: others.zipWithIndex.map {
      case ((name, _), pi) =>
        total(codes.filter(col("sub") >= pi * PqM && col("sub") < (pi + 1) * PqM), name)
    }).reduce(_ unionAll _))
    all
      .crossJoin(broadcast(all.filter(col("perm") === "identity")
        .select(col("total_err").as("__id"))))
      .crossJoin(broadcast(all.agg(min(col("total_err")).as("__min"))))
      .select(col("perm"), col("total_err"),
        (col("total_err") <= col("__id")).as("beats_identity"),
        (col("total_err") === col("__min")).as("is_best"))
      .orderBy(col("perm"))
  }

  /** Top-PC projection by in-plan power iteration (e23,
    * [[graft.operators.Similarity.pcaTrainAxis]]): 6 rounds of the
    * covariance-action aggregate recover the corpus's dominant axis, and
    * every embedding is projected onto it — the dimensionality-reduction
    * step (PCA whitening, OPQ's rotation basis, 1-D embedding sketches)
    * done as one mergeable aggregate per round. `var_ratio` — the
    * fraction of total centered variance the axis explains (λ₁/tr C) —
    * is derived from exact decimal sums of the round4'd per-row
    * quantities (e10's order-free idiom). The oracle replays the entire
    * centering + 6-round chain from the raw embeddings.
    * `PcaPowerSpec` pins axis recovery on a known anisotropic corpus.
    * Training rides the [[Models.pcaAxis]] session fixture (train-once,
    * like every e-family model); the gate measures projection +
    * variance-ratio — the serving work. */
  def e23PcaProject(s: SparkSession, d: String): DataFrame = {
    val m = Models.pcaAxis(s, d, rounds = 6, dims = KmeansDims)
    val p = materialize(graft.operators.Similarity.pcaProjectFrom(m.centered, m.ax))
    val ratio = p.agg(
      (sum(graft.operators.Relational.round4(col("proj") * col("proj"))
          .cast("decimal(18,4)")).cast("double")
        / sum(col("xx").cast("decimal(18,4)")).cast("double")).as("__r"))
      .select(graft.operators.Relational.round4(col("__r")).as("var_ratio"))
    p.crossJoin(broadcast(ratio))
      .select(col("vec_id"), col("proj"), col("var_ratio"))
      .orderBy(col("vec_id"))
  }

  /** Stored-model serving (the deployment contract IN the correctness
    * record): persist the session-trained coarse+PQ model through
    * [[graft.operators.ModelStore]] — plain parquet tables, the form a
    * 100 TB deployment trains once and serves from — load it back, and
    * run the IVF-PQ search from the LOADED tables. Doubles round-trip
    * parquet bit-exactly and every serving fold orders by (cluster, sub)
    * packs rather than storage order, so the result must be row-for-row
    * identical to e15's in-memory search; the oracle replays the full
    * training + search chain (same SQL as e15). `ModelStoreSpec` pins the
    * round-trip in isolation; this gate pins it against the cross-engine
    * oracle. The store path is session-salted tmp, deleted when the
    * application ends, a new version per call (GC keeps two) — a bench
    * pass measures the full save + load + search round trip. */
  def e21StoredModelSearch(s: SparkSession, d: String): DataFrame = {
    val cp = Models.coarsePq(s, d)
    val dir = java.nio.file.Paths.get(
      graft.SessionMemo.appTempDir(s, "graft_model_store").path,
      java.lang.Integer.toHexString(d.hashCode)).toString
    graft.operators.ModelStore.saveCoarsePq(
      dir, cp.assigned, cp.centroids, cp.codes, cp.books,
      PqM, PqK, KmeansK, KmeansDims)
    val (assigned, centroids, codes, books) =
      graft.operators.ModelStore.loadCoarsePq(s, dir, PqM, PqK, KmeansK, KmeansDims)
    graft.operators.Similarity.ivfPqSearchFrom(
      assigned, centroids, codes, books, queriesSide(s, d),
      PqM, KmeansDims / PqM, topK = 5, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-label centroid (the IVF training step made explicit): elementwise
    * mean over each cell's vectors via posexplode → (label, dim) partial
    * averages, emitted as scalar (label, dim, c) rows. The explode shuffles
    * (label, dim, x) triples — at 100 TB that's the standard map-reduce
    * centroid plan (dim-partitioned partial sums), never a collect.
    * Averages are display-rounded (round4) on both engines: float sums in
    * shuffled order are not bit-reproducible, rounded means are. */
  def e4Centroid(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("c"))
      .select(col("label"), col("dim"),
        graft.operators.Relational.round4(col("c")).as("c"))
      .orderBy(col("label"), col("dim"))
}
