package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.GraftMaterialize.{materialize, rowCount}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components over an edge list — the cluster-collapse
  * step of a dedup pipeline: near-dup PAIRS (LSH+verify output) become
  * GROUPS, each labeled by its minimum member id, so a corpus keeps one
  * representative per group (reference semantics: same min-id convention as
  * [[TextOps.canonicalDocs]] uses for byte-identical docs).
  *
  * Algorithm: min-label propagation. Every node starts at
  * min(own id, min neighbor id) — the node-set dedup is a groupBy-min
  * instead of a distinct, so the first propagation step rides the
  * initialization shuffle for free; each subsequent step, every node
  * takes the minimum label among itself and its neighbors; fixpoint when
  * no label changes. Steps = graph diameter —
  * near-dup graphs are unions of near-cliques (diameter 2-3), so this
  * converges in a handful of steps, and TWO steps share each
  * materialization barrier (the per-round fixed cost). Each fused round
  * is ONE job: the label projection carries a `chg` flag whose sum is
  * read through `observe()` (a CollectMetrics node evaluated as a side
  * effect of the round's `materialize` job — no separate
  * convergence-count job).
  * Fully distributed; nothing driver-side except the observed metric —
  * and below a size threshold the whole iteration collapses to a
  * single-task executor-side union-find (see [[connectedComponents]]),
  * because a barrier chain is the wrong tool for an edge list that fits
  * one task.
  *
  * If `maxIter` rounds don't converge (diameter exceeds the bound — chains,
  * not the dedup shape), the operator AUTO-SWITCHES to
  * [[starContractComponents]], the O(log² n)-round alternating
  * large-star/small-star contraction of Kiveris et al., "Connected
  * Components in MapReduce and Beyond" (SOCC '14) — same output contract,
  * diameter-independent round count.
  *
  * Growing LINEAGE is the iteration hazard — and persist alone does NOT fix
  * it: caching stores the physical data, but each round's logical plan
  * still nests every previous round's, so Catalyst analysis cost compounds
  * until planning dwarfs execution. Each round's labels are therefore
  * `materialize`d — a fresh leaf plan per round, O(1) planning
  * forever (production with fault-tolerance needs: reliable `checkpoint`
  * to durable storage instead).
  *
  * Only nodes that appear in an edge are labeled (singletons are not dup
  * candidates and stay out of the output, exactly like a pair list).
  */
object Graph {

  /** The size route every operator here takes: `cols` of `df`, widened
    * to long, materialized once (the caller's pipeline never re-runs;
    * every consumer below reads the stored blocks), and whether the frame
    * fits the single-task path — long-typed `cols` and at most
    * `localMaxRows` rows. The row count comes with the materializing job.
    *
    * The widening is lossless: integral sub-long columns are cast to
    * LongType so the single-task paths (whose row codecs are long-keyed)
    * accept them. Entity keys aggregated out of fact tables routinely
    * arrive as INT (e.g. nation keys); uncast, they would fail the
    * LongType gate and send a 25-node graph through the distributed
    * per-round checkpoint chain (~45 jobs for 5 rounds, dominated by
    * scheduling). The cast is exact (int ⊂
    * long), applied in BOTH paths, so distributed results are unchanged
    * except the id column's nullable-free widening; non-integral ids
    * (strings) keep their type and keep routing distributed. */
  private def sized(df: DataFrame, localMaxRows: Long, cols: String*): (DataFrame, Boolean) = {
    val wide = cols.foldLeft(df.select(cols.map(col): _*)) { (acc, c) =>
      acc.schema(c).dataType match {
        case IntegerType | ShortType | ByteType => acc.withColumn(c, col(c).cast("long"))
        case _ => acc
      }
    }
    val m = materialize(wide)
    (m, cols.forall(m.schema(_).dataType == LongType) && rowCount(m) <= localMaxRows)
  }

  /** (id, comp) per node of the undirected edge list `edges` (columns
    * `id1`, `id2`); `comp` = min node id reachable. `maxIter` bounds the
    * min-label propagation STEPS (a fused round burns two); past the
    * bound the diameter-independent star contraction finishes instead.
    *
    * SMALL-GRAPH FAST PATH: when the materialized edge list has at most
    * `localMaxEdges` rows and long-typed ids, the labels come from a
    * single-task union-find ([[unionFindLocal]]) instead of the
    * iteration — identical output (min-id labels are a pure function of
    * connectivity), ONE job instead of a checkpoint-barrier chain. This
    * is the broadcast-threshold pattern applied to an iterative
    * operator: a dedup pair list is bounded by duplicate mass, not
    * corpus size, so in practice even large corpora produce edge lists
    * that fit one task — and when one doesn't (the 100 TB case this
    * operator is shaped for), the size check routes it to the
    * distributed iteration unchanged. The check itself is free: the
    * edge list must be materialized anyway (every round reads it), and
    * the job that materializes it counts its rows. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      localMaxEdges: Long = 4L << 20): DataFrame = {
    // ONE materialization of the caller's pair pipeline (often expensive:
    // LSH verify joins, salted cosine self-joins); every consumer below —
    // fast path, iteration rounds, star fallback — reads these blocks.
    val (e0, local) = sized(edges, localMaxEdges, "id1", "id2")
    if (local) return unionFindLocal(e0)
    val sym = e0
      .union(e0.select(col("id2").as("id1"), col("id1").as("id2")))
    // per-round labels are materialized: computed once AND lineage cut
    // (see scaladoc). Dataset.unpersist is a no-op for
    // checkpointed frames (their blocks belong to an internal RDD, not the
    // CacheManager); dropping each round's reference lets ContextCleaner
    // reclaim its blocks after driver GC — bounded by GC cadence, not
    // session lifetime.
    //
    // SEEDED start: the node set needs a dedup shuffle anyway, and a
    // groupBy-min over the same keys costs the same shuffle as distinct —
    // so the initial labeling takes one propagation step FOR FREE
    // (comp = min(id, min neighbor) instead of comp = id). On the
    // near-clique graphs dedup produces (diameter 2-3) this is a third
    // to half of the steps, i.e. one fewer fused round + checkpoint
    // barrier — the dominant per-round cost.
    var labels = materialize(sym.groupBy(col("id1").as("id"))
      .agg(min(col("id2")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("comp")))
    var converged = false
    var iter = 1 // the seed consumed one of maxIter's STEPS
    // one propagation step: every node takes the min label among itself
    // and its neighbors; extra columns (`prev`) ride along untouched
    def step(lbl: DataFrame): DataFrame = {
      val nm = sym
        .join(lbl.select(col("id").as("nbr"), col("comp").as("ncomp")),
          sym("id1") === col("nbr"))
        .groupBy(sym("id2").as("id"))
        .agg(min(col("ncomp")).as("nmin"))
      lbl.join(nm, Seq("id"), "left")
        .withColumn("comp", least(col("comp"), coalesce(col("nmin"), col("comp"))))
        .drop("nmin")
    }
    while (!converged && iter < maxIter) {
      // TWO propagation steps share one materialization barrier: the
      // dominant per-round cost at any scale is the checkpoint + job
      // submission, not the tiny-label joins, so fusing steps halves the
      // barrier chain while lineage depth stays bounded (2 joins per
      // checkpoint). Convergence reads the fused round's net effect —
      // if two steps changed nothing, one step would not have either
      // (labels are monotone non-increasing). The round's ONLY job is
      // its materialize, and the CollectMetrics node it executes
      // through carries the signal out as an observed metric.
      val obs = Observation(s"cc_changed_$iter")
      val next = materialize(step(step(labels.withColumn("prev", col("comp"))))
        .withColumn("chg", (col("comp") < col("prev")).cast("long"))
        .observe(obs, sum(col("chg")).as("changed"))
        .select(col("id"), col("comp")))
      labels = next // previous round's reference dropped → ContextCleaner
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      iter += 2 // two propagation steps per fused round: maxIter budgets
                // STEPS, so fusing must not double the budget
    }
    if (converged) labels
    else starContractComponents(e0) // adversarial diameter: O(log²n) rounds
  }

  /** Single-task exact connected components for SMALL materialized edge
    * lists — the fast path [[connectedComponents]] takes below its
    * `localMaxEdges` threshold. Classic union-find with path halving and
    * min-id roots: union always links the larger root under the smaller,
    * so every tree's root is its component's minimum id and the final
    * labeling is a pure function of connectivity — byte-identical to what
    * the distributed iteration produces, independent of edge order. Runs
    * as ONE `mapPartitions` task over the coalesced edge list (executor-
    * side, not a driver collect; with the default 4M-edge bound the
    * LongMap peaks well under a gigabyte). This and the multimodal
    * decoder are the repo's only mapPartitions — both cases where
    * per-partition imperative state is the honest formulation. */
  private[operators] def unionFindLocal(e0: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val out = e0
      .select(col("id1").as("_1"), col("id2").as("_2")).as(tup)
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) { // path halving keeps trees near-flat
            val gp = parent.getOrElse(p, p)
            parent.update(x, gp)
            x = gp
            p = parent.getOrElse(x, x)
          }
          x
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }(tup)
    out.toDF("id", "comp")
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., SOCC '14) — round count O(log² n) regardless of graph
    * DIAMETER, vs min-label's O(diameter). The fallback for chain-shaped
    * graphs; [[connectedComponents]] switches to it automatically.
    *
    * Each round rewrites the edge set toward a forest of stars:
    *   - large-star: every node u links each STRICTLY-LARGER neighbor v to
    *     m(u) = min(Γ(u) ∪ u) — long tails fold toward local minima;
    *   - small-star: edges oriented (hi → lo); every hi links itself and
    *     each smaller neighbor to m — stars flatten to depth 1.
    * Both steps preserve connectivity (every rewritten edge stays within
    * the component), and disjoint stars rooted at each component's minimum
    * are the unique fixpoint, so at convergence labels read straight off
    * the edges: (child → root) ∪ (root → root).
    *
    * Per round: two groupBy-min + join passes over the edge set, each
    * materialized (same lineage reasoning as min-label). Convergence =
    * set equality with the previous round's canonical edge set — checked as
    * equal measured row counts + an empty except over materialized blocks.
    */
  def starContractComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    def canonical(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    var e = materialize(canonical(edges.select(col("id1").as("u"), col("id2").as("v"))))
    var converged = rowCount(e) == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: m = min over each node's neighborhood incl. itself;
      // every neighbor v > u re-links to m
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("nm"), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val afterLarge = materialize(canonical(large))
      // small-star: orient (hi = u > lo = v); m = min neighbor; hi and all
      // its smaller neighbors link to m. afterLarge is canonical (u < v),
      // so (hi, lo) = (v, u).
      val hi = afterLarge.select(col("v").as("u"), col("u").as("v"))
      val hiMin = hi.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = hi.join(hiMin, "u")
        .select(col("v").as("u"), col("m").as("v")) // smaller neighbors → m
        .union(hiMin.select(col("u"), col("m").as("v"))) // hi itself → m
      val next = materialize(canonical(small))
      // set equality on canonical distinct edge lists: |A| = |B| ∧ A∖B = ∅
      converged = rowCount(next) == rowCount(e) && next.except(e).isEmpty
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContractComponents did not converge in $maxIter rounds")
    // fixpoint = disjoint min-rooted stars: every edge is (root u, child v)
    e.select(col("v").as("id"), col("u").as("comp"))
      .union(e.select(col("u").as("id"), col("u").as("comp")))
      .distinct()
  }

  /** Weighted PageRank in FIXED-POINT integer arithmetic — the graph
    * centrality companion to [[connectedComponents]]. Ranks are longs at
    * `scale` (default 1e9 = 1.0); every step is integer multiply and FLOOR
    * division, so the result is a pure function of the graph with no
    * floating-point accumulation order to diverge across engines, partition
    * counts, or reruns — the same determinism contract as the decimal-sum
    * aggregates, extended to an ITERATIVE computation.
    *
    * Per iteration (damping d = dampNum/100):
    *   pr'(v) = (100−dampNum)·scale div 100
    *          + dampNum · Σ_{(u,v,w)} (pr(u)·w div wout(u)) div 100
    * Floor division loses the sub-unit remainder (and dangling-node mass),
    * so total mass decays slightly instead of being redistributed — a
    * documented, deterministic bias of ≤ outdegree ulps per node per round,
    * identical on any engine that floors positive integer division.
    *
    * Scale shape: this is the ENTITY-graph centrality pattern — the edge
    * list is produced by a fact-scale aggregation (100 TB of facts →
    * |V|² max edge weights), and iterations run on the aggregated edge
    * list only. Each round is one (src-keyed join + dst-keyed aggregate)
    * over edges — never over facts — with per-round `materialize`
    * keeping lineage O(1) exactly as the components loop does. Overflow
    * headroom: pr ≤ |V|·scale and pr·w must stay under 2^63 — callers
    * with fact-count weights beyond ~10^9 should pre-divide weights by a
    * constant (rank is invariant to uniform weight scaling up to floor
    * residue; the spec pins this insensitivity at small scale). */
  def pagerankInt(edges: DataFrame, nodes: DataFrame, iters: Int,
      scale: Long = 1000000000L, dampNum: Long = 85L,
      localMaxEdges: Long = 4L << 20): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    // the aggregated edge list is the iteration's whole input —
    // materialize it once (the fact-scale aggregation behind it must
    // never re-run per round), then size-route exactly like
    // [[connectedComponents]]: an entity graph that fits one task runs
    // its `iters` rounds as one imperative loop (integer arithmetic, so
    // the local loop is bit-identical to the join-per-round plan);
    // anything larger iterates distributed.
    val (e0, localE) = sized(edges, localMaxEdges, "src", "dst", "w")
    val (nodesW, localN) = sized(nodes, localMaxEdges, "id")
    if (localE && localN) return pagerankLocal(e0, nodesW, iters, scale, dampNum)
    val wout = e0.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = materialize(e0.join(wout, "src")
      .select(col("src"), col("dst"), col("w"), col("wout")))
    val base = (100L - dampNum) * scale / 100L
    var ranks = materialize(nodesW.select(col("id"), lit(scale).as("pr")))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst"), expr("(pr * w) div wout").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      ranks = materialize(nodesW.join(contrib, nodesW("id") === contrib("dst"), "left")
        .select(nodesW("id"),
          expr(s"$base + ($dampNum * coalesce(sc, 0L)) div 100").as("pr")))
    }
    ranks
  }

  /** Single-task [[pagerankInt]] for small entity graphs: the edge list
    * and node list ride into ONE task as a tag-discriminated union, and
    * the `iters` rounds run as an in-memory loop over LongMaps. Every
    * arithmetic step mirrors the distributed plan exactly — positive
    * long multiply, floor division (Java `/` == SQL `div` on
    * non-negatives), contributions only from ranked sources, base rank
    * for contribution-less nodes — so the output is bit-identical. */
  private def pagerankLocal(e0: DataFrame, nodes: DataFrame, iters: Int,
      scale: Long, dampNum: Long): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup4 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    val tup2 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val base = (100L - dampNum) * scale / 100L
    val tagged = e0
      .select(lit(0L).as("_1"), col("src").as("_2"), col("dst").as("_3"), col("w").as("_4"))
      .union(nodes.select(lit(1L).as("_1"), col("id").as("_2"),
        lit(0L).as("_3"), lit(0L).as("_4")))
    tagged.as(tup4).coalesce(1).mapPartitions { it =>
      val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val ns = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (tag, a, b, c) =>
        if (tag == 0L) es += ((a, b, c)) else ns += a
      }
      val wout = new scala.collection.mutable.LongMap[Long]()
      es.foreach { case (s, _, w) => wout.update(s, wout.getOrElse(s, 0L) + w) }
      var pr = new scala.collection.mutable.LongMap[Long]()
      ns.foreach(n => pr.update(n, scale))
      for (_ <- 1 to iters) {
        val contrib = new scala.collection.mutable.LongMap[Long]()
        es.foreach { case (s, dd, w) =>
          pr.get(s).foreach { p =>
            contrib.update(dd, contrib.getOrElse(dd, 0L) + (p * w) / wout(s))
          }
        }
        val next = new scala.collection.mutable.LongMap[Long]()
        ns.foreach(n =>
          next.update(n, base + (dampNum * contrib.getOrElse(n, 0L)) / 100L))
        pr = next
      }
      ns.iterator.map(n => (n, pr(n)))
    }(tup2).toDF("id", "pr")
  }

  /** Single-source BFS levels (unweighted SSSP) by min-relaxation —
    * Pregel's canonical first program, run as `iters` rounds of ONE
    * edge join + min-aggregate per round over the ENTITY edge list
    * (Bellman-Ford on unit weights; Malewicz et al. 2010 §5.1). Levels
    * are exact integers, so the chain is hash-equal with no tolerance —
    * d6/x11's determinism discipline. `iters` bounds the explored
    * radius: nodes beyond it keep a null level (unreached), which is the
    * honest answer under a fixed round budget. Per round the shuffle
    * carries (dst, candidate-level) pairs with a map-side min-combine;
    * a frontier-delta refinement (send only newly-improved nodes) would
    * cut re-sends on high-diameter graphs but changes no answers —
    * entity graphs here are shallow, so the simpler relaxation is the
    * right trade. O(1) lineage via per-round `materialize`. */
  def bfsLevels(edges: DataFrame, nodes: DataFrame, src: Long,
      iters: Int, localMaxEdges: Long = 4L << 20): DataFrame = {
    // size-routed like pagerankInt: a one-task entity graph runs its
    // min-relaxation rounds as an in-memory loop with identical levels
    val (e, localE) = sized(edges.select(col("src").as("eu"), col("dst").as("ev")),
      localMaxEdges, "eu", "ev")
    val (nodesW, localN) = sized(nodes, localMaxEdges, "id")
    if (localE && localN) return bfsLocal(e, nodesW, src, iters)
    var levels = materialize(nodesW
      .select(col("id"), when(col("id") === src, 0L).as("lvl")))
    for (_ <- 1 to iters) {
      val cand = e.join(levels, e("eu") === levels("id"))
        .filter(col("lvl").isNotNull)
        .select(col("ev").as("id"), (col("lvl") + 1L).as("nl"))
        .groupBy(col("id")).agg(min(col("nl")).as("nl"))
      levels = materialize(levels.join(cand, Seq("id"), "left")
        .select(col("id"), least(col("lvl"), col("nl")).as("lvl")))
    }
    levels
  }

  /** Single-task [[bfsLevels]]: tag-union of edges and nodes into one
    * task, `iters` rounds of min-relaxation over a LongMap (-1 encodes
    * the null "unreached" level). Per round the candidate set is
    * computed from the PREVIOUS round's levels — the same snapshot
    * semantics as the join formulation — and only listed nodes are ever
    * relaxed or emitted, so the result is row-identical including the
    * nullable lvl column. */
  private def bfsLocal(e: DataFrame, nodes: DataFrame, src: Long,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup3 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.LONG)
    val tagged = e
      .select(lit(0L).as("_1"), col("eu").as("_2"), col("ev").as("_3"))
      .union(nodes.select(lit(1L).as("_1"), col("id").as("_2"), lit(0L).as("_3")))
    tagged.as(tup3).coalesce(1).mapPartitions { it =>
      val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val ns = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (tag, a, b) =>
        if (tag == 0L) es += ((a, b)) else ns += a
      }
      val lvl = new scala.collection.mutable.LongMap[Long]()
      ns.foreach(n => lvl.update(n, if (n == src) 0L else -1L))
      for (_ <- 1 to iters) {
        val cand = new scala.collection.mutable.LongMap[Long]()
        es.foreach { case (u, v) =>
          val lu = lvl.getOrElse(u, -1L)
          if (lu >= 0L) {
            val nl = lu + 1L
            val cur = cand.getOrElse(v, Long.MaxValue)
            if (nl < cur) cand.update(v, nl)
          }
        }
        cand.foreach { case (v, nl) =>
          lvl.get(v).foreach { cur =>
            if (cur < 0L || nl < cur) lvl.update(v, nl)
          }
        }
      }
      ns.iterator.map { n =>
        val l = lvl(n)
        (n, if (l < 0L) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(l))
      }
    }(outEnc).toDF("id", "lvl")
  }

  /** Exact triangle count + global clustering coefficient over a distinct
    * undirected edge list (columns `u` < `v`) — the graph-structure
    * statistic behind community detection and co-occurrence quality
    * checks. Uses DEGREE-ORDERED ORIENTATION (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW '11):
    * orient every edge toward its (degree, id)-larger endpoint; each
    * triangle then has exactly ONE node with both edges outgoing, and
    * out-degrees are bounded by √(2m), which is what stops a hub node
    * from exploding the per-key work (the naive formulation's
    * sum-of-deg² blowup, the paper's "last reducer").
    *
    * Closing form: the EDGE-ITERATOR over out-adjacency sets — each
    * triangle {a,b,c} oriented a→b, a→c, b→c is found exactly once, as
    * c ∈ N⁺(a) ∩ N⁺(b) on its unique both-edges-outgoing pivot edge
    * (a,b); so n_triangles = Σ over oriented edges of
    * |N⁺(s) ∩ N⁺(t)|. Plan: one degree aggregate (node-cardinality),
    * two joins to decorate edges with endpoint degrees, ONE groupBy
    * collecting each source's out-neighbors into a sorted array
    * (bounded by √(2m) elements), two equi-joins decorating every edge
    * with both endpoints' arrays, and a per-row array intersection —
    * no wedge set is ever materialized and no (t1, t2)-keyed shuffle
    * exists, which is what the previous wedge-join + LeftSemi
    * formulation paid for. Sources with out-degree 1 can't pivot a
    * triangle (N⁺ is a singleton that can't contain the co-endpoint),
    * so they're pruned by array size right off the adjacency join —
    * the prune is free, where the old shape needed a window count.
    * The wedge denominator for the coefficient — Σ deg·(deg−1)/2 —
    * reads straight off the degree aggregate; nothing in the plan
    * materializes unoriented neighbor pairs.
    *
    * SMALL-GRAPH FAST PATH (the [[connectedComponents]] pattern): a
    * non-empty long-keyed edge list at or below `localMaxEdges` rows is
    * counted by ONE single-task executor-side pass running the exact
    * same algorithm imperatively — entity graphs aggregated out of fact
    * tables are |V|²-bounded and usually tiny next to the facts, and a
    * five-branch distributed plan on a few thousand edges is pure
    * scheduling overhead. Same orientation, same pivot-edge counting,
    * bit-identical output; bigger or non-long edge lists take the
    * distributed plan unchanged.
    *
    * Output: one row — n_nodes, n_edges, n_wedges, n_triangles,
    * gcc = round4(3·triangles / wedges) (null on a wedge-free graph). */
  def triangleStats(edges: DataFrame, localMaxEdges: Long = 4L << 20): DataFrame = {
    // the edge list is read by FOUR plan branches (degree union ×2, the
    // orientation join, the edge-count stat) — materialize it once, or
    // every branch re-executes the caller's edge-building pipeline (for
    // x14 that pipeline is a fact-scale self-join worth 2 s at sf0.1,
    // and exchange reuse does not span all the branch shapes). The
    // materialized frame is |E| rows of two ids — the aggregated entity
    // graph, tiny next to the facts that produced it at any scale.
    val (ec, local) = sized(edges, localMaxEdges, "u", "v")
    val stats =
      if (local && rowCount(ec) > 0) triangleStatsLocal(ec)
      else {
        val deg = ec.select(col("u").as("n"))
          .union(ec.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val e = ec
          .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
          .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
        val uFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        val o = materialize(e.select( // read by the adjacency build AND the edge side
          when(uFirst, col("u")).otherwise(col("v")).as("s"),
          when(uFirst, col("v")).otherwise(col("u")).as("t")))
        // sorted out-adjacency per source; arrays are √(2m)-bounded by the
        // orientation, so collect_list can never explode a partition
        val adj = o.groupBy(col("s"))
          .agg(sort_array(collect_list(col("t"))).as("nb"))
        val tri = o
          .join(adj.select(col("s"), col("nb").as("nb_s")), Seq("s"))
          .filter(size(col("nb_s")) >= 2) // out-degree-1 sources can't pivot
          .join(adj.select(col("s").as("t"), col("nb").as("nb_t")), Seq("t"))
          .select(size(array_intersect(col("nb_s"), col("nb_t"))).as("c"))
          .agg(sum(col("c")).cast("long").as("n_triangles"))
          .select(coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
          expr("sum(deg * (deg - 1) div 2)").cast("long").as("n_wedges"))
        val edgeStats = ec.agg(count(lit(1)).as("n_edges"))
        nodeStats.crossJoin(edgeStats).crossJoin(tri)
      }
    stats.select(col("n_nodes"), col("n_edges"), col("n_wedges"),
      col("n_triangles"),
      Relational.round4(lit(3.0) * col("n_triangles") / col("n_wedges"))
        .as("gcc"))
  }

  /** Single-task degree-ordered triangle census for SMALL materialized
    * edge lists — the same orientation + pivot-edge algorithm as the
    * distributed plan, run imperatively in one `mapPartitions` task
    * (sorted adjacency arrays, two-pointer intersection). Returns the
    * four-count frame the shared gcc projection finishes. */
  private def triangleStatsLocal(ec: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    ec.select(col("u").as("_1"), col("v").as("_2")).as(tup)
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        val deg = new scala.collection.mutable.LongMap[Long]()
        rows.foreach { case (u, v) =>
          deg.update(u, deg.getOrElse(u, 0L) + 1L)
          deg.update(v, deg.getOrElse(v, 0L) + 1L)
        }
        var nWedges = 0L
        deg.foreachValue(d => nWedges += d * (d - 1) / 2)
        // orient toward the (degree, id)-larger endpoint; collect sorted
        // out-adjacency per source
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
        val oriented = rows.map { case (u, v) =>
          val du = deg(u); val dv = deg(v)
          val uFirst = du < dv || (du == dv && u < v)
          val (s, t) = if (uFirst) (u, v) else (v, u)
          adj.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuffer[Long]()) += t
          (s, t)
        }
        val adjSorted = new scala.collection.mutable.LongMap[Array[Long]]()
        adj.foreach { case (k, b) =>
          val a = b.toArray
          java.util.Arrays.sort(a)
          adjSorted.update(k, a)
        }
        var nTri = 0L
        oriented.foreach { case (s, t) =>
          val ns = adjSorted(s)
          if (ns.length >= 2) adjSorted.get(t).foreach { nt =>
            var i = 0; var j = 0
            while (i < ns.length && j < nt.length) {
              if (ns(i) == nt(j)) { nTri += 1; i += 1; j += 1 }
              else if (ns(i) < nt(j)) i += 1
              else j += 1
            }
          }
        }
        Iterator.single((deg.size.toLong, rows.length.toLong, nWedges, nTri))
      }(outEnc)
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles")
  }
}
