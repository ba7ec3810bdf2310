package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over embedding columns.
  *
  * Vectors are `array<float>`; all math is done after a cast to
  * `array<double>` with strictly left-to-right summation (`aggregate`), so
  * results are deterministic and oracle-reproducible.
  */
object Similarity {

  /** Dot product — a custom codegen'd Catalyst expression (a zip_with +
    * aggregate fold is interpreted and dominates pairwise-similarity cost;
    * see [[graft.functions.VecDot]]). Identical summation order. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (q_id, q_emb, q_norm, extra…) — a search's query side, norms once
    * per vector. */
  private def querySide(queries: DataFrame, extra: Column*): DataFrame =
    queries
      .select(Seq(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb")) ++ extra: _*)
      .withColumn("q_norm", norm(col("q_emb")))

  /** (n_id, n_emb, n_norm, extra…) — a search's corpus side, spread over
    * every core: single-row-group inputs would pin this CPU-heavy stage to
    * one task. */
  private def corpusSide(corpus: DataFrame, extra: Column*): DataFrame =
    corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(Seq(col("vec_id").as("n_id"), asDouble(col("embedding")).as("n_emb")) ++ extra: _*)
      .withColumn("n_norm", norm(col("n_emb")))

  /** The scoring join every cosine search shares: the corpus side
    * (n_id, n_emb, n_norm [, n_cell]) against the broadcast query side
    * (q_id, q_emb, q_norm [, q_cell]) — on the cell when the query side
    * carries one — never pairing a query with itself. `cos` =
    * dot / (‖q‖·‖n‖), operation-for-operation the oracle SQL's. */
  private def cosineScored(c: DataFrame, q: DataFrame): DataFrame = {
    val notSelf = col("q_id") =!= col("n_id")
    val on =
      if (q.columns.contains("q_cell")) col("q_cell") === col("n_cell") && notSelf
      else notSelf
    c.join(broadcast(q), on)
      .withColumn("cos", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
  }

  /** The per-query top-k every cosine search ends with: rank by
    * (cos desc, n_id asc), display-round the cosine. */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    Relational.topKPerGroup(scored, Seq("q_id"), Seq(col("cos").desc, col("n_id").asc), k)
      .select(col("q_id"), col("n_id"), col("rank"), Relational.round4(col("cos")).as("cos"))

  /** Brute-force top-k cosine neighbors for a (small) query set.
    *
    * The query side is `broadcast()` — at 100 TB the corpus streams through
    * executors once while every executor holds the (tiny) query batch, i.e.
    * a broadcast nested-loop join with per-partition top-k via the window.
    * This is the exact baseline; [[knnIVF]] is the sub-linear scale path.
    *
    * Norms are computed once per VECTOR (separate projections) rather than
    * once per pair — per-pair work is the whole cost model.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    cosineTopK(cosineScored(corpusSide(corpus), querySide(queries)), k)

  /** IVF-style ANN: the corpus carries a coarse partition assignment (here
    * the precomputed `label` column, standing in for a k-means cell id) and
    * each query probes only its own cell.
    *
    * Scale: turns the O(|corpus|·|queries|) scan into O(|cell|·|queries|)
    * — the IVF inverted-list structure expressed relationally as an
    * equi-join on the cell id, which Spark shuffles/broadcasts optimally.
    * Recall < 1.0 by construction (single-probe); add neighboring cells to
    * the probe list for higher recall.
    */
  def knnIVF(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    cosineTopK(cosineScored(
      corpusSide(corpus, col("label").as("n_cell")),
      querySide(queries, col("label").as("q_cell"))), k)

  /** Multi-probe IVF ANN: each query probes its `nprobe` nearest cells by
    * CENTROID similarity instead of only its own assignment — the standard
    * IVF recall dial (a query near a cell boundary finds neighbors that
    * landed on the other side).
    *
    * The centroids are derived in-plan from the corpus (the e4 training
    * step): posexplode → (label, dim) partial means — the map-reduce
    * centroid plan, never a collect — then re-assembled to one array per
    * cell. Means are display-rounded (round4) BEFORE any distance math:
    * float sums in shuffled order are not bit-reproducible across engines,
    * rounded means are, and every downstream distance is then a
    * deterministic left-to-right fold over identical inputs.
    *
    * Scale: centroid derivation is one cheap aggregation (cells × dims
    * rows); the probe ranking ([[probeCells]]) is |queries| × |cells|
    * against a broadcast centroid table; the scan stays
    * O(nprobe · |cell| · |queries|) via the same broadcast equi-join as
    * [[knnIVF]] — recall rises with nprobe at linear, bounded cost, still
    * never O(|corpus| · |queries|).
    */
  def knnIVFMultiProbe(
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    val cent = corpus
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("c"))
      .select(col("label"), col("pos"), Relational.round4(col("c")).as("c"))
      .groupBy(col("label").as("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("c"))
    cosineTopK(cosineScored(
      corpusSide(corpus, col("label").as("n_cell")),
      probeCells(cent, queries, nprobe)), k)
  }

  /** In-plan Lloyd k-means over an embedding corpus — the training step
    * that turns "IVF-shaped" into IVF: the coarse cells [[knnIVF]] probes
    * are LEARNED here instead of read from a precomputed `label` column.
    *
    * Returns (assignments, centroids): assignments = one row per vector
    * (`vec_id`, `v` double-cast embedding, `dxx` its self-dot, `cluster`,
    * `sq` squared Euclidean distance to its centroid); centroids = one row
    * per surviving cluster (`cluster`, `c` double array).
    *
    * Every step is deterministic and oracle-reproducible:
    *   - init = the k smallest-id vectors (fixed seed; works for sparse or
    *     offset id spaces), cluster-labeled 0..k-1 by id rank,
    *     display-rounded;
    *   - assignment = argmin over ‖x‖² − 2·x·c + ‖c‖², each dot a strictly
    *     left-to-right double fold ([[graft.functions.VecDot]]) over
    *     identical inputs, ties broken by cluster id. The k centroids are
    *     packed into ONE broadcast row (array of structs, sorted by
    *     cluster id) and the argmin is a scalar `aggregate` fold over that
    *     array — assignment is pure scan-stage work. The alternative
    *     (crossJoin with k centroid ROWS + a per-vector window/min_by)
    *     re-shuffles corpus×k rows EVERY round — the formulation that dies
    *     first at 100 TB;
    *   - update = ONE cluster-keyed wide aggregate (`dims` avg expressions
    *     re-assembled into the centroid array): map-side partials carry
    *     k × dims (sum, count) pairs per task — the same shuffle volume as
    *     the exploded (cluster, dim)-row formulation (e4's display shape)
    *     without its Generate and re-assembly aggregate. Means are
    *     display-rounded (round4) BEFORE the next round's distance math:
    *     float sums in shuffled order are not bit-reproducible across
    *     engines, rounded means are.
    *
    * Each round's centroid table (k × dims doubles — tiny) is
    * materialized: the next round's plan references a materialized
    * leaf, so lineage stays O(1) in `rounds` and the final assignment plan
    * contains exactly one corpus scan. Per-round cost at scale is one pass
    * over the corpus (broadcast k·dims centroids, argmin in the scan
    * stage) + one (cluster, dim)-keyed mean shuffle — the canonical
    * distributed Lloyd round. A cluster that captures no vectors drops out
    * (standard Lloyd degeneracy; both engines compute the same drop).
    *
    * A 100 TB deployment would train on a hash-sample (t6's deterministic
    * sampling idiom) and run only the final assignment pass over the full
    * corpus; the plan shapes are identical.
    */
  def kmeans(corpus: DataFrame, k: Int, rounds: Int, dims: Int): (DataFrame, DataFrame) = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val vecs = corpus
      .repartition(par)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("dxx", dot(col("v"), col("v")))
    // (cluster, c) rows -> ONE row holding all k centroids (+ self-dots),
    // sorted by cluster id so the fold's strict < keeps the lowest id on
    // ties — identical tie semantics to a (sq asc, cluster asc) ranking
    def packed(cent: DataFrame): DataFrame =
      cent
        .withColumn("dcc", dot(col("c"), col("c")))
        .agg(array_sort(collect_list(
          struct(col("cluster"), col("c"), col("dcc")))).as("cents"))
    // the argmin is the codegen'd VecArgminCell kernel — same float ops in
    // the same order as the functions.aggregate fold it replaces (oracle
    // hashes unchanged; equivalence property-pinned in SimilaritySpec),
    // but one tight generated loop instead of an interpreted per-centroid
    // lambda, which dominated every Lloyd round's assignment pass
    def assign(centArr: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(centArr))
        .withColumn("best", graft.functions.VectorFunctions.vec_argmin_cell(
          col("v"), col("dxx"), col("cents")))
        .select(col("vec_id"), col("v"), col("dxx"),
          col("best").getField("cluster").as("cluster"),
          col("best").getField("sq").as("sq"))
    // seed = k smallest ids (TakeOrdered — no full sort), labeled by rank:
    // the k-row window is a single tiny partition, not a scale concern
    val w0 = Window.orderBy(col("vec_id"))
    var centArr = materialize(packed(
      vecs.orderBy(col("vec_id")).limit(k)
        .withColumn("cluster", (row_number().over(w0) - 1).cast("int"))
        .select(col("cluster"),
          transform(col("v"), x => Relational.round4(x)).as("c"))))
    for (_ <- 1 to rounds) {
      centArr = materialize(packed(
        assign(centArr)
          .groupBy(col("cluster"))
          .agg(array((1 to dims).map(i =>
            Relational.round4(avg(element_at(col("v"), i)))): _*).as("c"))))
    }
    val centroids = centArr
      .select(explode(col("cents")).as("ct"))
      .select(col("ct.cluster").as("cluster"), col("ct.c").as("c"))
    (assign(centArr), centroids)
  }

  /** [[pcaTrainAxis]]'s centering stage: (vec_id, x) with x the
    * round4'd-mean-centered embedding, materialized — the frame the
    * training rounds and the projection both scan. */
  def pcaCentered(corpus: DataFrame, dims: Int): DataFrame = {
    val vecs = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val mu = vecs.agg(array((1 to dims).map(i =>
      Relational.round4(avg(element_at(col("v"), i)))): _*).as("mu"))
    materialize(vecs.crossJoin(broadcast(mu))
      .select(col("vec_id"),
        zip_with(col("v"), col("mu"), (a, b) => a - b).as("x")))
  }

  /** Top principal component by POWER ITERATION, fully in-plan — the
    * dimensionality-reduction primitive (PCA/OPQ's workhorse; Golub &
    * Van Loan §8.2) in [[kmeans]]'s distributed shape: each round is ONE
    * map-side-combining aggregate over a [[pcaCentered]] frame computing
    * the covariance action w = Σ (x−μ)((x−μ)·v) — never a materialized
    * d×d covariance, never a DATA collect — with the O(d) normalize fused
    * into the same one-row result, which comes back to the driver as a
    * d-double model constant (the same single-row model-meta pattern as
    * [[ModelStore.loadCoarsePq]]) and re-enters the next round as a
    * literal array: no per-round checkpoint or broadcast exchange, just
    * one aggregate job per round. At 100 TB each round still shuffles d
    * doubles per task; the corpus is scanned once per round from the
    * materialized centered frame. Round-to-round state (the axis) is
    * round4-quantized exactly like [[kmeans]]'s centroids, so
    * partial-aggregation order cannot perturb the chain and the oracle
    * replays it verbatim. Start axis = uniform 1/8 (exact), non-orthogonal
    * to any data direction that survives centering; sign is stable because
    * the covariance is PSD (w·v = v·Cv ≥ 0 — no per-round flip). Returns
    * the dominant axis after `rounds` rounds; [[pcaProjectFrom]] projects
    * onto it. */
  def pcaTrainAxis(centered: DataFrame, rounds: Int, dims: Int): Array[Double] = {
    var ax: Array[Double] = Array.fill(dims)(0.125)
    for (_ <- 1 to rounds) {
      val axLit = array(ax.toIndexedSeq.map(lit(_)): _*)
      ax = centered
        .withColumn("s", dot(col("x"), axLit))
        .agg(array((1 to dims).map(i =>
          Relational.round4(avg(element_at(col("x"), i) * col("s")))): _*).as("w"))
        .select(transform(col("w"),
          wj => Relational.round4(wj / sqrt(dot(col("w"), col("w"))))).as("ax"))
        .head().getSeq[Double](0).toArray
    }
    ax
  }

  /** [[pcaTrainAxis]]'s projection stage: per-vector projection `proj`
    * onto a trained axis plus the centered self-dot `xx` (both round4'd)
    * — one scan of the centered frame with the axis as a literal array. */
  def pcaProjectFrom(centered: DataFrame, ax: Array[Double]): DataFrame = {
    val axLit = array(ax.toIndexedSeq.map(lit(_)): _*)
    centered.select(col("vec_id"),
      Relational.round4(dot(col("x"), axLit)).as("proj"),
      Relational.round4(dot(col("x"), col("x"))).as("xx"))
  }

  /** Multi-probe IVF ANN over a LEARNED assignment: [[knnIVFMultiProbe]]'s
    * exact probe/scan shape, but the corpus cells come from [[kmeans]]
    * assignments and the probe ranking uses the trained centroids directly
    * (no re-derivation from a label column). `assigned`/`centroids` are
    * the pair [[kmeans]] returns. */
  def knnIVFMultiProbeLearned(
      assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame =
    cosineTopK(learnedCandidates(assigned, centroids, queries, nprobe), k)

  /** [[knnIVFMultiProbeLearned]]'s scored candidates before the top-k:
    * every (query, neighbor) pair in the query's `nprobe` probed cells,
    * with `cos` and the cell's probe rank `prank`. */
  private[graft] def learnedCandidates(
      assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame =
    cosineScored(
      assigned.select(col("vec_id").as("n_id"), col("v").as("n_emb"),
        col("cluster").as("n_cell"), sqrt(col("dxx")).as("n_norm")),
      probeCells(centroids, queries, nprobe))

  /** Product quantization — the codebook path that takes ANN storage BELOW
    * scalar quantization's 4× (e7): the vector splits into `m` contiguous
    * subspaces, each subspace trains its own k-entry codebook ([[kmeans]]
    * per slice), and a vector's code is its nearest codebook entry per
    * subspace — m·log₂(k) bits per vector (m=2, k=8 here: 6 bits vs 2048
    * for float32/64d), with the per-subspace squared error as the
    * distortion witness. This is the IVF-PQ memory layout (Jégou et al.
    * 2011): IVF (e9/e11) coarse-partitions, PQ compresses the residuals'
    * storage inside each cell.
    *
    * Returns (codes, codebooks): codes = (vec_id, sub, code, sq raw),
    * codebooks = (sub, cluster, c). Scale: all m subspace chains train in
    * ONE plan — the sliced projections explode (tagged by `sub`) in the
    * scan stage, the m codebooks pack into ONE broadcast row (array
    * indexed by sub of per-sub centroid packs), assignment is the same
    * scan-stage [[graft.functions.VecArgminCell]] fold against the row's
    * own subspace pack, and the update is ONE (sub, cluster)-keyed mean
    * exchange per round. Per-round: one corpus pass + one tiny shuffle +
    * one checkpoint barrier — training m subspaces sequentially pays m×
    * the barriers for identical arithmetic.
    *
    * Numerically identical to m independent [[kmeans]] chains over the
    * slices (the formulation the DuckDB oracle replays): seeds are the k
    * smallest-id vectors — the same ids for every subspace — sliced and
    * round4'd; each row's argmin folds only over ITS subspace's centroid
    * pack; means aggregate per (sub, cluster). Only the scheduling is
    * fused, not the math. */
  def pqModel(
      corpus: DataFrame, m: Int, k: Int, rounds: Int, dims: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    pqModelFrom(
      slicedVecs(corpus.repartition(par), m, dims / m, 0), k, rounds, dims / m, m)
  }

  /** `df`'s vector column `vec` cut into `m` contiguous `subLen`-long
    * slices by ONE scan-stage explode: rows (keys…, sub = base + s, v). A
    * union of m sliced projections would instead copy `df`'s whole plan —
    * a probe, its runtime filters — into each of the m branches. */
  private def slices(
      df: DataFrame, keys: Seq[String], vec: Column,
      m: Int, subLen: Int, base: Int): DataFrame =
    df
      .select(keys.map(col) :+ explode(array((0 until m).map { s =>
        struct(lit(base + s).as("sub"), slice(vec, s * subLen + 1, subLen).as("v"))
      }: _*)).as("sv"): _*)
      .select(keys.map(col) ++ Seq(col("sv.sub").as("sub"), col("sv.v").as("v")): _*)

  /** Corpus × m sliced rows, each tagged by subspace id `base + s` — the
    * scan-stage explode that feeds [[pqModelFrom]]; no shuffle of its own.
    * `base` offsets the sub ids so independently-sliced frames (raw +
    * residual in e16) can union into ONE training with dense sub ids. */
  def slicedVecs(corpus: DataFrame, m: Int, subLen: Int, base: Int): DataFrame =
    slices(corpus, Seq("vec_id"), asDouble(col("embedding")), m, subLen, base)
      .withColumn("dxx", dot(col("v"), col("v")))

  /** The fused multi-chain Lloyd trainer behind [[pqModel]], over a
    * caller-built (vec_id, sub, v, dxx) frame whose sub ids must be dense
    * 0..nSub−1 (each sub's pack is addressed positionally in the broadcast
    * row). Callers that union independently-sourced slice frames (e16's
    * raw + residual chains) get ALL chains for one set of round barriers —
    * the arithmetic is identical to independent [[kmeans]] runs per sub
    * (seeds = the k smallest ids, the same for every sub; per-sub argmin;
    * (sub, cluster)-keyed means), only the scheduling is shared.
    * Returns (codes = (vec_id, sub, code, sq raw), books = (sub, cluster,
    * c)); `nSub` is the (dense) chain count. */
  def pqModelFrom(
      vecs: DataFrame, k: Int, rounds: Int, subLen: Int, nSub: Int): (DataFrame, DataFrame) = {
    val (assignedAll, books) =
      multiChainModel(vecs, Seq.fill(nSub)(k), Seq.fill(nSub)(rounds), subLen)
    val codes = assignedAll
      .select(col("vec_id"), col("sub"), col("cluster").as("code"), col("sq"))
    (codes, books)
  }

  /** The HETEROGENEOUS multi-chain Lloyd trainer: each chain (dense sub id
    * 0..nSub−1) carries its own codebook size `subKs(sub)`, round count
    * `subRounds(sub)`, and slice length (≤ `maxLen`, implied by its rows'
    * `v`). A chain whose rounds are exhausted FREEZES — its centroids ride
    * along untouched while longer chains keep updating — so chains of
    * different depths still share one checkpoint barrier per round instead
    * of paying their own chain of barriers (the scheduling cost that
    * dominates training at toy scale, and the reason the coarse quantizer
    * trains fused with the PQ codebooks in [[coarsePqAll]]).
    *
    * Per chain the arithmetic is EXACTLY an independent [[kmeans]] run:
    * seeds = the `subKs(sub)` smallest-id vectors (every sub carries the
    * full vec_id set, so one TakeOrdered on sub 0 serves all chains; a
    * chain with smaller k takes the prefix of the shared rank), assignment
    * = the per-sub [[graft.functions.VecArgminCell]] fold, update = one
    * (sub, cluster)-keyed mean exchange round4'd before the next round.
    * The update aggregates `maxLen` positional means; a shorter chain's
    * out-of-range positions are null (`try_element_at`) and trimmed, so
    * mixed slice lengths share the single exchange.
    *
    * Returns (assignedAll = (vec_id, sub, v, dxx, cluster, sq) from ONE
    * final corpus pass over every chain, books = (sub, cluster, c)). */
  def multiChainModel(
      vecs: DataFrame, subKs: Seq[Int], subRounds: Seq[Int],
      maxLen: Int): (DataFrame, DataFrame) = {
    require(subKs.nonEmpty && subKs.length == subRounds.length,
      s"per-sub k (${subKs.length}) and rounds (${subRounds.length}) must align")
    val nSub = subKs.length
    // (sub, cluster, c) -> ONE row: subcents[sub] = that subspace's
    // cluster-sorted centroid pack (VecArgminCell's input shape)
    def packed(cent: DataFrame): DataFrame =
      cent
        .withColumn("dcc", dot(col("c"), col("c")))
        .groupBy(col("sub"))
        .agg(array_sort(collect_list(
          struct(col("cluster"), col("c"), col("dcc")))).as("cents"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
          e => e.getField("cents")).as("subcents"))
    def assign(cent: DataFrame, in: DataFrame): DataFrame =
      in.crossJoin(broadcast(packed(cent)))
        .withColumn("best", graft.functions.VectorFunctions.vec_argmin_cell(
          col("v"), col("dxx"), element_at(col("subcents"), col("sub") + 1)))
        .select(col("vec_id"), col("sub"), col("v"), col("dxx"),
          col("best").getField("cluster").as("cluster"),
          col("best").getField("sq").as("sq"))
    // seeds: the max-k smallest ids ranked once; each chain keeps the
    // prefix its own k asks for — identical to a per-chain TakeOrdered
    val maxK = subKs.max
    val kOfSub: Column =
      if (subKs.distinct.size == 1) lit(subKs.head)
      else element_at(array(subKs.map(lit): _*), col("sub") + 1)
    val w0 = Window.orderBy(col("vec_id"))
    val seedIds = vecs
      .filter(col("sub") === 0)
      .select(col("vec_id"))
      .orderBy(col("vec_id")).limit(maxK)
      .withColumn("cluster", (row_number().over(w0) - 1).cast("int"))
    var cent = materialize(vecs.join(broadcast(seedIds), Seq("vec_id"))
      .filter(col("cluster") < kOfSub)
      .select(col("sub"), col("cluster"),
        transform(col("v"), x => Relational.round4(x)).as("c")))
    for (r <- 1 to subRounds.max) {
      val active = subRounds.indices.filter(i => subRounds(i) >= r)
      val inVecs =
        if (active.size == nSub) vecs
        else vecs.filter(col("sub").isInCollection(active))
      val updated = assign(cent, inVecs)
        .groupBy(col("sub"), col("cluster"))
        .agg(filter(array((1 to maxLen).map(i =>
          Relational.round4(avg(try_element_at(col("v"), lit(i))))): _*),
          x => x.isNotNull).as("c"))
      val next =
        if (active.size == nSub) updated
        else updated.unionAll(cent.filter(!col("sub").isInCollection(active)))
      cent = materialize(next)
    }
    (assign(cent, vecs), cent)
  }

  /** Coarse quantizer + PQ codebooks trained as ONE fused multi-chain run:
    * the coarse chain is just one more sub (id `m`, full-length slice,
    * its own k and round count) unioned into the PQ slice frame, so every
    * Lloyd round costs ONE corpus pass + ONE (sub, cluster) exchange + ONE
    * checkpoint barrier for ALL chains — training the coarse chain
    * sequentially before PQ paid its own barrier chain for identical
    * arithmetic. Returns (assignedAll, books) with subs 0..m−1 the PQ
    * chains and sub m the coarse chain; [[splitCoarsePq]] separates them. */
  def coarsePqAll(
      corpus: DataFrame, coarseK: Int, coarseRounds: Int,
      m: Int, k: Int, rounds: Int, dims: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val rep = corpus.repartition(par)
    val vecs = slicedVecs(rep, m, dims / m, 0).unionAll(slicedVecs(rep, 1, dims, m))
    multiChainModel(vecs,
      Seq.fill(m)(k) :+ coarseK, Seq.fill(m)(rounds) :+ coarseRounds, dims)
  }

  /** Split [[coarsePqAll]]'s tagged output into the four frames its
    * consumers speak: (assigned, centroids) in [[kmeans]]'s shape and
    * (codes, books) in [[pqModel]]'s. */
  def splitCoarsePq(all: DataFrame, books: DataFrame, m: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val assigned = all.filter(col("sub") === m)
      .select(col("vec_id"), col("v"), col("dxx"), col("cluster"), col("sq"))
    val centroids = books.filter(col("sub") === m)
      .select(col("cluster"), col("c"))
    val codes = all.filter(col("sub") < m)
      .select(col("vec_id"), col("sub"), col("cluster").as("code"), col("sq"))
    (assigned, centroids, codes, books.filter(col("sub") < m))
  }

  /** [[kmeans]]-shaped coarse model + [[pqModel]]-shaped PQ model from one
    * fused training ([[coarsePqAll]]): (assigned, centroids, codes, books).
    * Numerically identical to the two separate trainings. */
  def coarsePqModels(
      corpus: DataFrame, coarseK: Int, coarseRounds: Int,
      m: Int, k: Int, rounds: Int, dims: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (all, books) = coarsePqAll(corpus, coarseK, coarseRounds, m, k, rounds, dims)
    splitCoarsePq(all, books, m)
  }

  /** Each query's `nprobe` nearest coarse cells by centroid cosine — the
    * probe ranking every IVF search here shares: (q_id, q_emb, q_norm,
    * q_cell, prank, c), ranked (csim desc, cluster asc), carrying the
    * probed cell's centroid `c` so residual-encoding callers can subtract
    * it. `centroids` = (cluster, c). */
  private[graft] def probeCells(
      centroids: DataFrame, queries: DataFrame, nprobe: Int): DataFrame = {
    val cent = centroids.withColumn("cent_norm", norm(col("c")))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cluster").asc)
    querySide(queries).crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("q_emb"), col("c")) / (col("q_norm") * col("cent_norm")))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("cluster").as("q_cell"),
        col("prank"), col("c"))
  }

  /** The ADC lookup table (Jégou et al. 2011 §III): each `qv` row's query
    * vector `qe`, sliced into `m` subvectors, against every codebook entry
    * of its subspace — (keys…, sub, code, part) with part =
    * ‖qe‖² − 2·qe·c + ‖c‖², display-rounded then decimal-cast so the
    * downstream sum is order-independent. */
  private def adcTable(
      qv: DataFrame, keys: Seq[String], books: DataFrame, m: Int, subLen: Int): DataFrame =
    slices(qv, keys, col("qe"), m, subLen, 0)
      .join(books.withColumn("dcc", dot(col("c"), col("c"))), "sub")
      .select(keys.map(col) ++ Seq(col("sub"), col("cluster").as("code"),
        Relational.round4(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("c"))
          + col("dcc")).cast("decimal(18,4)").as("part")): _*)

  /** The ADC tail every PQ search shares: join the codes to the BROADCAST
    * lookup table on `keys` — with the cell among them, pruning happens in
    * the join key, map-side — drop self-matches, decimal-sum each
    * (q_id, n_id)'s partials and rank (adc asc, n_id asc). Any change here
    * must keep the e14, e15 and e17 oracles hash-exact. */
  private def adcTopK(
      codes: DataFrame, lut: DataFrame, keys: Seq[String], topK: Int): DataFrame =
    Relational.topKPerGroup(
      codes.join(broadcast(lut), keys)
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("part"))
        .groupBy(col("q_id"), col("n_id"))
        .agg(sum(col("part")).cast("double").as("adc")),
      Seq("q_id"), Seq(col("adc").asc, col("n_id").asc), topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"))

  /** Codes with their coarse cell attached — in a production index the
    * (cell, codes) pair is stored once per vector and this join is free. */
  private def withCells(codes: DataFrame, assigned: DataFrame): DataFrame =
    codes.join(assigned.select(col("vec_id"), col("cluster").as("cell")), Seq("vec_id"))

  /** PQ search by asymmetric distance computation (ADC, Jégou et al. 2011
    * §III) over a trained PQ model ([[pqModel]]'s codes and books): the
    * query stays UNquantized; its squared distance to every codebook entry
    * is tabulated once (the lookup table — m·k rows per query), and a
    * corpus vector's approximate distance is the sum of its m codes' table
    * entries. The scoring scan never touches float vectors — only
    * (sub, code) ints against a broadcast LUT — which is the entire point
    * of PQ at 100 TB: the index is codes, not vectors, stored once; a
    * search pays only the scoring scan.
    *
    * Per-subspace partials are display-rounded then decimal-summed
    * (order-independent, oracle-exact); ranking is (adc asc, n_id asc).
    * Scale: the LUT is |queries|·m·k rows — broadcast; the corpus side is
    * one scan of the code table + one per-query top-k window; nothing is
    * ever |corpus|×|queries| floats. The (q_id, n_id) AGGREGATE is still
    * corpus×queries small ints — exhaustive ADC by definition; the
    * probed-cells composition that bounds it to nprobe·|cell|·|queries|
    * is [[ivfPqSearchFrom]] (raw codes) / [[ivfAdcResidualSearchFrom]]
    * (residual codes). */
  def pqAdcSearchFrom(
      codes: DataFrame, books: DataFrame, queries: DataFrame,
      m: Int, subLen: Int, topK: Int): DataFrame = {
    val qv = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qe"))
    adcTopK(codes, adcTable(qv, Seq("q_id"), books, m, subLen), Seq("sub", "code"), topK)
  }

  /** IVF-PQ search — the IVFADC composition (Jégou et al. 2011 §III) the
    * standalone pieces exist for: the coarse quantizer ([[kmeans]])
    * partitions the corpus into cells, PQ ([[pqModel]]) compresses each
    * vector to m codes, and a query ADC-scores ONLY the nprobe cells its
    * coarse probe ranks highest — [[pqAdcSearchFrom]]'s code-only scan
    * without its corpus×queries aggregate, which is the entire point at
    * 100 TB: per query the scored set is nprobe·|cell| rows of small
    * ints, never the corpus.
    *
    * Runs over ALREADY-trained coarse + PQ models ([[coarsePqModels]]) —
    * the production shape: a deployed index stores (cell, codes) per
    * vector and the trained books/centroids, and a search pays only the
    * probe + the bounded ADC join. The scoring join is keyed on
    * (cell, sub, code): the broadcast side is the per-query LUT pre-joined
    * with its probed cells (|queries|·nprobe·m·k rows — tiny), so pruning
    * happens IN the join key, map-side, before the (q_id, n_id) aggregate.
    * The cell column rides next to the codes via a vec_id-keyed join of
    * the two trained assignments. Probe ranking is by centroid cosine
    * ([[probeCells]], identical to [[knnIVFMultiProbeLearned]]); ADC
    * partials are display-rounded then decimal-summed, so distributed
    * order cannot perturb the gate. */
  def ivfPqSearchFrom(
      assigned: DataFrame, centroids: DataFrame,
      codes: DataFrame, books: DataFrame, queries: DataFrame,
      m: Int, subLen: Int, topK: Int, nprobe: Int): DataFrame = {
    val probed = probeCells(centroids, queries, nprobe)
      .select(col("q_id"), col("q_cell").as("cell"))
    val qv = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qe"))
    // LUT entries tagged with their query's probed cells: the broadcast
    // probe table whose (cell, sub, code) key prunes at the join
    val lutCells = probed.join(adcTable(qv, Seq("q_id"), books, m, subLen), Seq("q_id"))
    adcTopK(withCells(codes, assigned), lutCells, Seq("cell", "sub", "code"), topK)
  }

  /** Full IVFADC search (Jégou et al. 2011 §III): [[ivfPqSearchFrom]]'s
    * probed-cells-only ADC scan, but over RESIDUAL codes — each corpus
    * vector is encoded as its offset from its coarse centroid
    * ([[residualsFrom]]), and each query builds a SEPARATE lookup table
    * per probed cell from its own residual against that cell's centroid.
    * The ADC sum then approximates ‖(q − c_cell) − recon(codes)‖², the
    * quantity the residual codebooks were trained to minimize — e16 shows
    * the encoding is tighter, this operator is the search that cashes
    * that in.
    *
    * Shapes are identical to [[ivfPqSearchFrom]]: the broadcast side grows
    * only by the per-cell LUT copies (|queries|·nprobe·m·k rows), the
    * scoring join stays keyed on (cell, sub, code), and the aggregate
    * stays nprobe·|cell|·|queries|.
    *
    * The residual `codes`/`books` must have been trained on
    * [[residualsFrom]] of exactly this `assigned`/`centroids` pair —
    * seeds that diverge would silently mis-rank. That makes the two
    * trainings inherently sequential (residuals subtract the finished
    * coarse centroids), unlike [[coarsePqModels]]'s fused run. */
  def ivfAdcResidualSearchFrom(
      assigned: DataFrame, centroids: DataFrame,
      codes: DataFrame, books: DataFrame, queries: DataFrame,
      m: Int, subLen: Int, topK: Int, nprobe: Int): DataFrame = {
    // the probe keeps each probed cell's centroid: the query's residual is
    // PER CELL (q − c_cell), one LUT per (query, probed cell)
    val qr = probeCells(centroids, queries, nprobe)
      .select(col("q_id"), col("q_cell").as("cell"),
        zip_with(col("q_emb"), col("c"), (x, c) => x - c).as("qe"))
    adcTopK(withCells(codes, assigned), adcTable(qr, Seq("q_id", "cell"), books, m, subLen),
      Seq("cell", "sub", "code"), topK)
  }

  /** Coarse-quantizer residuals over a trained coarse quantizer ([[kmeans]]'s
    * `assigned`/`centroids`) — the vectors IVFADC actually encodes (Jégou
    * et al. 2011 §III): r(x) = x − c(cell(x)), each vector minus its
    * assigned coarse centroid. Residual magnitudes are a fraction of raw
    * magnitudes, so a PQ codebook of the same size spends its k entries on
    * a tighter distribution and reconstruction error drops — the e16 gate
    * measures exactly that. Returns (vec_id, embedding) with the residual
    * in `embedding`, drop-in for [[pqModel]]/[[slicedVecs]]. Taking the
    * trained quantizer keeps one training for both the residuals and the
    * search that probes the same cells (e17): training twice would be both
    * wasteful and subtly wrong if seeds ever diverged.
    *
    * The centroid join is a broadcast of k rows; the subtraction is
    * scan-stage `zip_with` over correctly-rounded IEEE doubles (exact
    * float→double inputs minus round4'd means), so both engines compute
    * bit-identical residuals. */
  def residualsFrom(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned
      .join(broadcast(centroids), Seq("cluster"))
      .select(col("vec_id"), zip_with(col("v"), col("c"), (x, c) => x - c).as("embedding"))

  /** Exact embedding dedup at a cosine threshold over LSH-style cells: pairs
    * within the same coarse cell with cosine ≥ threshold. Near-dup detection
    * for embedding-indexed corpora; the cell join bounds the pair blowup.
    *
    * The self-join is SALTED: joining on the cell id alone gives one
    * partition per cell (10 cells ≪ cores here; at 100 TB the same shape —
    * few huge cells — is the classic skew). One side keys by
    * (cell, hash(id) % S), the other replicates each row S ways, spreading
    * each cell's pair work over S tasks at the cost of an S× blowup of one
    * (tiny per-cell) side. Norms are per-vector, computed pre-join.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, saltBuckets: Int = 16): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val base = corpus
      .repartition(par)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"), col("label").as("cell"))
      .withColumn("nrm", norm(col("emb")))
    cosineNearDupPairsFrom(base, threshold, saltBuckets)
  }

  /** [[cosineNearDupPairs]] over a caller-prepared (vec_id, emb, cell
    * [, nrm]) frame — the variant that takes LEARNED cells (a [[kmeans]]
    * assignment) instead of the dataset's `label` column. Same salted
    * self-join; `nrm` is computed here if absent. */
  def cosineNearDupPairsFrom(
      prepared: DataFrame, threshold: Double, saltBuckets: Int = 16): DataFrame = {
    val base =
      if (prepared.columns.contains("nrm")) prepared
      else prepared.withColumn("nrm", norm(col("emb")))
    val a = base
      .select(col("vec_id").as("id1"), col("emb").as("e1"), col("cell"), col("nrm").as("n1"))
      .withColumn("salt", pmod(col("id1"), lit(saltBuckets)))
    val b = base
      .select(col("vec_id").as("id2"), col("emb").as("e2"), col("cell"), col("nrm").as("n2"))
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit): _*)))
    a.join(b, Seq("cell", "salt"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), Relational.round4(col("cos")).as("cos"))
  }
}
