package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for LLM training-data pipelines.
  *
  * Built from `functions._` column expressions — no UDFs. Determinism
  * matters doubly: results must be identical between runs AND reproducible
  * by the DuckDB oracle, so all hashing is md5 (stable, engine-independent)
  * rather than Spark's Murmur3 `hash()`.
  *
  * PERFORMANCE NOTE: higher-order functions (`transform`/`aggregate`/
  * `filter`) are CodegenFallback in Spark — they run interpreted. An
  * expression tree that nests `split(text)` inside a lambda re-evaluates
  * the split PER ELEMENT (O(n²) per row, interpreted). Every operator here
  * therefore takes already-materialized array columns, and the query layer
  * projects each intermediate (tokens → shingles → signature) exactly once
  * per row through separate `select`s.
  */
object TextOps {

  /** Whitespace tokenization. The corpus is single-space separated; for real
    * corpora swap the pattern for `\\s+`. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct n-token shingles from a MATERIALIZED token-array column
    * (1-based positions, matching DuckDB list indexing). Shingling gives
    * MinHash discriminative power on small-vocabulary corpora — unigrams
    * saturate. Guarded for texts shorter than n tokens (Spark's `sequence`
    * counts DOWN for start > stop). */
  def shinglesOf(toks: Column, n: Int = 3): Column = {
    val idx = sequence(lit(1), size(toks) - (n - 1))
    val make = transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, (i + o).cast("int"))): _*))
    array_distinct(when(size(toks) >= n, make).otherwise(array()))
  }

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: canonical doc per md5(text) group. One shuffle on the
    * 128-bit fingerprint; the shuffle carries only (fp, doc_id) — 40 bytes
    * per doc regardless of doc size. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol).cast("binary")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** MinHash family: ONE md5 per element (the expensive part — md5 is an
    * interpreted expression), then k cheap universal-hash derivations
    * `(a_i·h + b_i) mod P` over the 32-bit base hash. The alternative
    * (md5 per salt per element) costs k× the md5 calls for identical
    * statistical behavior.
    *
    * Constants: P = 2^31-1 (prime); a_i < 2^21 so a_i·h < 2^53 — no int64
    * overflow on either engine. P is a `final val` constant, so the
    * MinHashSig kernel's `% MinhashP` compiles to a constant modulus. */
  final val MinhashP = 2147483647L
  def minhashA(i: Int): Long = 977L + 104729L * i
  def minhashB(i: Int): Long = 12345L + 7919L * i

  /** 32-bit base hash per element (first 8 md5 hex chars), as an array —
    * materialize once, then derive all signature components from it. */
  def elementHashes(elems: Column): Column =
    transform(elems, t => conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long"))

  /** Signature component i: min over the materialized base-hash array. */
  def minhashFromHashes(hs: Column, i: Int): Column =
    array_min(transform(hs, h => (h * minhashA(i) + minhashB(i)) % MinhashP))

  /** One canonical representative per exact-duplicate group: the min-id doc
    * per content fingerprint. MANDATORY upstream of LSH banding: a cluster
    * of N byte-identical docs shares every band key, so banding them all
    * puts N²/2 pairs in one bucket — and real corpora are dup-heavy (that's
    * why you dedup). Collapsing the cluster to one representative first
    * makes per-bucket skew depend only on band collision probability among
    * NON-identical docs. The shuffle here carries (fp, id) pairs — 40 B/doc,
    * same as [[exactDedup]]; exact-dup membership itself is d1's output. */
  def canonicalDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs
      .select(col(idCol), md5(col(textCol).cast("binary")).as("__fp"))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("__keep"))
    docs.join(keep, docs(idCol) === keep("__keep"), "left_semi")
  }

  /** Candidate near-duplicate pairs (id1 < id2) via banded MinHash-LSH over
    * 3-token shingles, among exact-dedup representatives ([[canonicalDocs]]
    * runs first — see its scaladoc for why that is a skew requirement, not
    * an optimization). Defaults (16 hashes, bands of 4) put the LSH s-curve
    * threshold near Jaccard 0.5: catch probability ≈ 1.0 at s=0.9, ≈ 0.03
    * at s=0.3.
    *
    * Scale: shingle/signature computation is embarrassingly parallel in the
    * scan stage (each doc → 16×32B signature). The only shuffle is on band
    * keys; with identical docs pre-collapsed, bucket sizes are bounded by
    * band collision probability, so the within-bucket self-join is
    * skew-bounded. Pairs WITHIN an exact-dup cluster are deliberately not
    * re-expanded (they are d1's output, and materializing them is inherently
    * quadratic in cluster size).
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    candidatesFromBands(minhashBands(
      canonicalDocs(docs, idCol, textCol), idCol, textCol, numHashes, rowsPerBand))

  /** Self-join of a band frame into candidate pairs (id1 < id2). */
  def candidatesFromBands(bandFrame: DataFrame): DataFrame = {
    // materialized: the band frame feeds BOTH sides of the
    // self-join; without materialization Spark recomputes the whole
    // signature pipeline twice. The materialized frame is numBands rows ×
    // ~40 B per doc — the standard LSH trade at any scale (blocks spill to
    // executor disk if they outgrow memory, and are reclaimed when the
    // frame's reference dies — nothing stays pinned in the CacheManager).
    val withBands = materialize(bandFrame)
    val a = withBands.as("a")
    val b = withBands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** (doc_id, sh) distinct-shingle frame — the shared upstream of the LSH
    * banding, the exact-Jaccard verification, and decontamination. Compute
    * (and materialize) it ONCE per pipeline: the tokenize→shingle pass is
    * the dominant corpus-wide CPU cost. */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(par) // CPU-bound; don't inherit file-layout parallelism
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      // one-pass codegen'd shingling; [[shinglesOf]] is the reference
      // formulation it must match (pinned equal in TextOpsPropertySpec)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.shingles(col("__toks"), n).as("sh"))
  }

  /** Cross-corpus decontamination: training docs sharing ≥ `minOverlap`
    * distinct n-token shingles with any eval/benchmark doc — the dedup
    * modality that keeps benchmark answers out of training data. Output is
    * one row per contaminated (train, eval) pair with its overlap count;
    * anti-join the flagged train ids to scrub.
    *
    * Plan shape at 100 TB: the EVAL side is small by nature (benchmarks are
    * MBs, corpora are TBs), so its exploded shingle list is broadcast and
    * the train corpus streams through one map-side equi-join — no shuffle
    * of train shingles at all; the only exchange is the final
    * (train, eval)-keyed overlap count, whose rows are bounded by matches.
    * Broadcast also removes hot-shingle join skew (every task owns the
    * whole eval table). Production dials: raise `n` (8-13-gram windows are
    * the common contamination test; this corpus's small vocabulary makes
    * trigrams-with-count-threshold the equivalent signal) and pre-drop
    * shingles whose eval document frequency exceeds a cap (boilerplate). */
  def decontaminationPairs(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minOverlap: Int = 3): DataFrame = {
    val tsh = shingleFrame(train, idCol, textCol, n)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("s"))
    val esh = shingleFrame(eval, idCol, textCol, n)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("s"))
    // both sides are DISTINCT shingles per doc, so rows after the join are
    // unique (train, eval, shingle) triples and count(*) IS the overlap
    tsh.join(broadcast(esh), "s")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Cross-corpus NEAR-duplicate decontamination — [[decontaminationPairs]]'
    * fuzzy sibling: exact shared-shingle counting misses paraphrase-level
    * leakage, so this one runs banded MinHash ACROSS the corpora (train
    * bands stream, eval bands broadcast — benchmarks are MBs, corpora TBs)
    * and verifies candidates with exact Jaccard ≥ `threshold`.
    *
    * Plan: one shingle pass per corpus, each materialized once (it feeds
    * both the banding and the verify join); the candidate join is map-side
    * against the broadcast eval bands, so no train-side shuffle exists
    * anywhere; candidates (tiny by LSH construction) broadcast through the
    * two verify joins. Banding is deterministic given the fixed hash
    * family, so the result — including which sub-threshold-banding pairs
    * are surfaced — is oracle-reproducible. */
  def crossCorpusNearDups(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val tsh = materialize(shingleFrame(train, idCol, textCol))
    val esh = materialize(shingleFrame(eval, idCol, textCol))
    val tb = bandsFromShingles(tsh, numHashes, rowsPerBand)
      .select(col("doc_id").as("train_id"), col("band"), col("bk"))
    val eb = bandsFromShingles(esh, numHashes, rowsPerBand)
      .select(col("doc_id").as("eval_id"), col("band"), col("bk"))
    val cands = tb.join(broadcast(eb), Seq("band", "bk"))
      .select(col("train_id"), col("eval_id")).distinct()
    broadcast(cands)
      .join(tsh.select(col("doc_id").as("train_id"), col("sh").as("__tsh")),
        Seq("train_id"))
      .join(broadcast(esh.select(col("doc_id").as("eval_id"), col("sh").as("__esh"))),
        Seq("eval_id"))
      .withColumn("__j", jaccard(col("__tsh"), col("__esh")))
      .filter(col("__j") >= threshold)
      .select(col("train_id"), col("eval_id"),
        Relational.round4(col("__j")).as("jaccard"))
  }

  /** (doc_id, band, bk) rows: one per LSH band per doc. Each intermediate
    * (tokens, shingles, signature components) is projected once so the
    * interpreted lambdas never re-evaluate an upstream subtree. */
  def minhashBands(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame =
    bandsFromShingles(shingleFrame(docs, idCol, textCol), numHashes, rowsPerBand)

  /** Band keys from a (possibly persisted) shingle frame. The signature
    * comes from the one-pass codegen'd [[graft.functions.MinHashSig]]
    * (see its scaladoc for why not 17 interpreted HOF passes); the
    * element-wise builders below ([[elementHashes]]/[[minhashFromHashes]])
    * define the reference semantics it must match, and the spec pins the
    * two paths equal. */
  def bandsFromShingles(shDf: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigDf = shDf.select(col("doc_id"),
      graft.functions.VectorFunctions.minhash_sig(col("sh"), numHashes).as("__sig"))
    val bands = (0 until numHashes / rowsPerBand).map { j =>
      // concat (null-propagating, ':'-separated) — an empty shingle set gives
      // null band keys that can never join, on both engines; concat_ws would
      // silently skip the nulls on the Spark side only
      val concatCols = (0 until rowsPerBand).flatMap { r =>
        val c = element_at(col("__sig"), j * rowsPerBand + r + 1).cast("string")
        if (r == 0) Seq(c) else Seq(lit(":"), c)
      }
      struct(lit(j).as("band"), md5(concat(concatCols: _*).cast("binary")).as("bk"))
    }
    sigDf
      .select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bk").as("bk"))
  }

  /** Near-duplicate pairs via banded 32-bit shingle SimHash: the signature
    * splits into 4 bands of 8 bits; any pair within hamming distance ≤ 3
    * shares at least one band EXACTLY (pigeonhole over 4 bands), so the
    * band-bucket self-join finds every such pair with no all-pairs pass,
    * and the exact `bit_count(xor)` check then runs on candidates only.
    *
    * Two deliberate choices, both load-bearing:
    *   - the signature is over SHINGLES, not tokens — per-token simhash
    *     ([[tokenHashes]]→[[simhashFromHashes]], d4) saturates on a shared
    *     vocabulary (measured on this corpus: 2.4 k of 125 k pairs collide
    *     at hamming 0 over 16 token bits, vs 5 true near-dup pairs at 32
    *     shingle bits), and
    *   - exact duplicates collapse to one representative first
    *     ([[canonicalDocs]]) — identical docs share all 4 bands, the same
    *     bucket-skew hole as MinHash banding.
    *
    * Scale: signatures are produced in the scan stage (one-pass codegen
    * [[graft.functions.SimHashSig]], no shuffle); the only shuffle is 4
    * (band, bits) rows × ~24 B per canonical doc; buckets hold ~n/2⁸ docs
    * per band. Production dial beyond ~10⁶ canonical docs: widen the
    * signature (64-bit with 8×8-bit bands keeps this exact plan shape and
    * detects hamming ≤ 7) — width is capped at 32 here only by the md5
    * base-hash slice the oracle shares with MinHash. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val sigs = shingleFrame(canonicalDocs(docs, idCol, textCol), idCol, textCol)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash_sig(col("sh"), 32).as("sig"))
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), 8 * b).bitwiseAND(lit(255L)).as("bits"))
    }
    // materialized: the band frame feeds both sides of the
    // self-join (same materialize-don't-pin reasoning as
    // candidatesFromBands); 4 rows × ~24 B per canonical doc
    val bands = materialize(sigs
      .select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band").as("band"), col("b.bits").as("bits")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sig").as("s1"), col("b.sig").as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Context-window chunking — the sequence-segmentation step that turns
    * variable-length documents into training-window-sized pieces: token
    * windows of `chunkSize` advancing by `chunkSize - overlap`, the last
    * window clipped at the document end (and the chunk count chosen so the
    * tail is always covered). Emits one row per chunk with its 1-based
    * start offset, clipped length, and an md5 over the space-rejoined
    * window (the gate-able content witness).
    *
    * Scale: pure scan-stage fan-out — one Generate per doc row, no
    * shuffle; the expansion factor is ~n_tokens/stride, the same output
    * volume any tokenizer-sharding pass pays. Chunk boundaries are token
    * positions, so the operator never re-tokenizes downstream: a real
    * pipeline feeds `slice` offsets straight to the packing stage. */
  def chunkTokens(
      docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      // chunks start at 1, 1+stride, ...; past-the-first chunks exist only
      // while they add uncovered tokens: ceil((n - chunkSize) / stride)
      .withColumn("__nc",
        when(col("__n") <= chunkSize, lit(1))
          .otherwise(expr(s"(__n - $chunkSize + ${stride - 1}) div $stride")
            .cast("int") + 1))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_no"))
      .withColumn("start_tok", (col("chunk_no") * stride + 1).cast("long"))
      .withColumn("__ck", slice(col("__toks"), col("chunk_no") * stride + 1, lit(chunkSize)))
      .select(col("doc_id"), col("chunk_no"), col("start_tok"),
        size(col("__ck")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__ck")).cast("binary")).as("chunk_md5"))
  }

  /** Cross-doc duplicate-span removal (the C4 boilerplate rule, Raffel et
    * al. 2020 §2.2, over fixed `segLen`-token segments): a doc's segment
    * drops when its content appears in ≥ `minDocs` DISTINCT docs. Returns
    * one row per doc: (doc_id, n_segs, n_dropped, kept_md5) where kept_md5
    * hashes the doc's surviving text in original segment order (a doc that
    * loses everything hashes the empty string). Complements whole-doc
    * dedup: boilerplate lives INSIDE otherwise-unique docs, so no
    * doc-level fingerprint catches it.
    *
    * Plan at scale: two segment passes over the corpus (recomputing the
    * explode beats materializing a corpus-sized exploded copy). The
    * frequency side prunes to (md5, doc_id) at the scan, reduces DISTINCT
    * pairs to segment cardinality, and — the load-bearing step — keeps
    * only segments with doc_freq ≥ minDocs before joining back: the join's
    * build side is bounded by DUPLICATED-boilerplate mass (tiny by
    * definition — that's what makes it boilerplate), not corpus segment
    * cardinality, so the join stays map-side at any corpus size. The one
    * segment-bearing shuffle is the per-doc reassembly aggregate (each
    * doc's own segments to its reducer, partially collected map-side);
    * order restored by seg_no — never a corpus-wide sort. */
  def spanDedup(
      docs: DataFrame, idCol: String, textCol: String,
      segLen: Int = 8, minDocs: Int = 2): DataFrame = {
    // null text coalesces to '' so the doc still appears in the output
    // (as one empty segment) instead of silently vanishing through the
    // posexplode — same keep-the-row contract as gopherRules
    val segs = docs
      .select(col(idCol).as("doc_id"),
        tokens(coalesce(col(textCol), lit(""))).as("__t"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), expr(s"(size(__t) + ${segLen - 1}) div $segLen").cast("int") - 1),
        i => array_join(slice(col("__t"), i * segLen + 1, lit(segLen)), " "))))
      .select(col("doc_id"), col("pos").cast("int").as("seg_no"),
        col("col").as("seg"))
    val hot = segs
      .select(md5(col("seg").cast("binary")).as("seg_md5"), col("doc_id"))
      .distinct()
      .groupBy(col("seg_md5"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
    segs
      .withColumn("seg_md5", md5(col("seg").cast("binary")))
      .join(hot, Seq("seg_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        count(col("doc_freq")).as("n_dropped"), // non-null = hot = dropped
        // collect_list skips nulls -> only kept segments survive; the
        // struct sort restores seg_no order
        md5(array_join(transform(
          array_sort(collect_list(when(col("doc_freq").isNull,
            struct(col("seg_no"), col("seg"))))),
          e => e.getField("seg")), " ").cast("binary")).as("kept_md5"))
  }

  /** Smoothed unigram language-model score (the in-plan analog of the
    * CCNet/KenLM perplexity filter, Wenzek et al. 2020 — the unigram
    * factorization trains in ONE aggregate instead of offline): token
    * probability = add-one-smoothed corpus frequency, doc score = mean
    * log-probability of its tokens. Returns (doc_id, n_tokens,
    * avg_logprob).
    *
    * One explode feeds the (doc, term) tf aggregate; per-term corpus
    * counts are a window over tf (distinct (doc, term) pairs shuffle, not
    * token instances);
    * corpus mass + vocab size are a 1-row broadcast off the same frame.
    * Per-token log-probs are display-rounded then accumulated as exact
    * decimals — the per-doc mean is order-independent under any
    * partitioning (double addition is not associative; decimal is). */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // doc-keyed exchange fronted before the tokenize (see bigramLmScore):
    // same exchange count, full-parallel tokenize, no post-explode shuffle
    val tf = docs.repartition(col(idCol))
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tot = tf.agg(sum(col("tf")).as("n_corpus"),
      countDistinct(col("term")).as("vocab"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    tf
      .withColumn("ctot", sum(col("tf")).over(wt))
      .crossJoin(broadcast(tot))
      .withColumn("lp", Relational.round4(
        log((col("ctot") + 1).cast("double") / (col("n_corpus") + col("vocab")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("decimal(18,4)") * col("lp").cast("decimal(18,4)"))
          .as("__slp"))
      .select(col("doc_id"), col("n_tokens"),
        Relational.round4(
          col("__slp").cast("double") / col("n_tokens")).as("avg_logprob"))
  }

  /** Smoothed BIGRAM language-model score — [[unigramLmScore]] upgraded one
    * Markov order (the next rung of the CCNet/KenLM perplexity-filter
    * ladder): p(w_i | w_{i−1}) = (c(w_{i−1}w_i) + 1) / (c(w_{i−1}) + V),
    * doc score = mean of the rounded log-probs over its bigram positions.
    * A doc with fewer than 2 tokens keeps its row with (0, 0.0) — the
    * keep-the-row contract.
    *
    * Plan (round 10, one fused position frame): the previous shape fed
    * three corpus-scale chains off the tokenize checkpoint — the per-doc
    * bigram aggregate was computed TWICE (once for the corpus bigram
    * counts, once for the per-doc fold; lazy subtrees are never shared
    * across plan branches) and the unigram chain re-exploded the whole
    * token stream a third time. Now ONE explode emits every position as
    * (w1 = token, w2 = next-token-or-null-at-doc-tail), one per-doc
    * aggregate collapses it — with NO exchange: the doc-keyed
    * partitioning fronted before the tokenize survives the checkpoint
    * and satisfies the (doc_id, w1, w2) clustering by the subset rule —
    * and the materialized frame G serves every derived statistic:
    * dbf = G[w2 nonnull], unigram counts = Σn by w1 (every token
    * instance appears exactly once as a w1, doc tails included), vocab =
    * |distinct w1|, corpus bigram counts = Σn by (w1, w2). The corpus is
    * exploded and aggregated exactly once; everything downstream is
    * vocabulary- or G-sized. Value-identical to the three-chain shape by
    * construction, and measured faster at bench scale (round-10
    * interleaved A/B over 14 alternations, identical results: mins
    * 1.46 vs 1.66 s). G's checkpoint is the same order as the tokenize
    * checkpoint it rides behind — at 100 TB both scale with the corpus,
    * and the fusion trades one materialization for two saved
    * explode+aggregate passes over it. Same determinism ladder as t15:
    * rounded log-probs, decimal accumulation, one final rounded
    * division. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NO text coalesce here: a null-text doc must contribute NOTHING to
    // the unigram/vocab statistics (coalescing to '' would inject an ''
    // token and shift every doc's smoothed log-prob); its output row is
    // restored by the final left join instead
    val toks = materialize(docs.repartition(col(idCol))
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t")))
    // size-0 guard: sequence(0, -1) DESCENDS and would fabricate rows;
    // null __t flows to the otherwise-branch, transform(null) -> null,
    // explode(null) drops the row — null-text docs contribute nothing
    val g = materialize(toks
      .select(col("doc_id"),
        explode(when(size(col("__t")) < 1,
          array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(expr(
            "transform(sequence(0, size(__t) - 1), i -> struct(__t[i] as w1, if(i + 1 < size(__t), __t[i+1], cast(null as string)) as w2))")))
          .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n")))
    val dbf = g.filter(col("w2").isNotNull)
    val uf = materialize(g.groupBy(col("w1")).agg(sum(col("n")).as("uc")))
    val vocab = uf.agg(count(lit(1)).as("vocab"))
    val bc = dbf.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("bc"))
    // Measured NON-WIN (round 9, interleaved A/B, bit-identical output):
    // pre-folding bc ⋈ uf ⋈ V into a vocabulary-sized lp table so dbf
    // rides ONE join — strictly fewer big-frame exchanges at corpus scale
    // where the vocabulary no longer broadcasts — lost at bench scale
    // (t19 mins 2.52 vs 2.11 s over 6/5 alternations, identical t15
    // control mins): the lp table adds a materialization barrier where
    // AQE already broadcasts both small sides into one fused stage of
    // consecutive hash joins. Revisit only for corpora whose bigram
    // vocabulary exceeds the broadcast threshold; the two-join shape
    // below stays a constant-factor (2 vs 1 exchange) cost, not a
    // single-task cliff.
    val agg = dbf
      .join(bc, Seq("w1", "w2"))
      .join(uf, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", Relational.round4(
        log((col("bc") + 1).cast("double") / (col("uc") + col("vocab")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n").cast("decimal(18,4)") * col("lp").cast("decimal(18,4)"))
          .as("__slp"))
      .select(col("doc_id"), col("n_bigrams"),
        Relational.round4(
          col("__slp").cast("double") / col("n_bigrams")).as("avg_logprob"))
    toks.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"))
  }

  /** Temperature-scaled mixture sampling (the α-smoothed multilingual
    * rebalancing of XLM-R, Conneau et al. 2020 §3.1, at α = 0.5): per-
    * stratum keep rates ∝ √(stratum mass), so low-resource strata are
    * up-weighted relative to corpus share. Membership is the stable
    * content hash (t6's idiom): reproducible, layout-independent, per-
    * stratum subsettable. Returns the kept docs as (doc_id, <stratum>,
    * rate) with rate in [0, 10000].
    *
    * Cross-engine determinism: √n is IEEE-correctly-rounded (unlike pow —
    * why α is fixed at ½), rounded weights are summed as decimals (order-
    * independent), and each rate is a floor of one double division of
    * identical inputs. The rate table is strata-sized (a broadcast row
    * set); the sample itself is a scan-stage hash filter. */
  def temperatureMix(docs: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val w = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__sw", Relational.round4(
        sqrt(col("n_docs"))).cast("decimal(18,4)"))
    val tot = w.agg(sum(col("__sw")).as("__tot"))
    val rates = w.crossJoin(broadcast(tot))
      .select(col(stratumCol), floor(
        col("__sw").cast("double") / col("__tot").cast("double") * 10000)
        .cast("long").as("rate"))
    docs
      .join(broadcast(rates), stratumCol)
      .withColumn("__h",
        conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 10000)
      .filter(col("__h") < col("rate"))
      .select(col(idCol), col(stratumCol), col("rate"))
  }

  /** Exact Jaccard similarity between two distinct-element arrays, by
    * inclusion-exclusion on integer cardinalities (one final double division
    * → deterministic across engines). */
  def jaccard(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb)).cast("double")
    val union = (size(ta) + size(tb)).cast("double") - inter
    inter / union
  }

  /** 16-bit integer hash per token (first 4 md5 hex chars), as an array —
    * materialize this once, then feed [[simhashFromHashes]]. */
  def tokenHashes(toks: Column): Column =
    transform(toks, t => conv(substring(md5(t.cast("binary")), 1, 4), 16, 10).cast("int"))

  /** 16-bit SimHash from a materialized token-hash array. Each token votes
    * ±1 on each bit position; positive sums set the bit. Codegen'd custom
    * expression ([[graft.functions.SimHash16]]) — the equivalent 16-pass
    * higher-order-function formulation runs interpreted. No explode → no
    * shuffle: the signature is produced in the scan stage. */
  def simhashFromHashes(vals: Column): Column =
    graft.functions.VectorFunctions.simhash16(vals)

  // ------------------------------------------------------------- analysis

  /** Stopword ratio feature list (quality scoring). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit): _*)))

  /** Heuristic language ID from stopword profiles over a materialized token
    * array. Marker hits counted per language; most hits wins, ties broken by
    * fixed priority order; no hits → "und". */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  def langScores(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit): _*)))
    }

  /** Pick the winning language from materialized score columns (one column
    * per entry of [[langMarkers]], same order). */
  def langPick(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((x, y) => greatest(x, y))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1] from materialized token counts: blend of length
    * band, type-token ratio and (1 - stopword ratio). */
  def qualityScore(nTokens: Column, nDistinct: Column, nStop: Column): Column = {
    val n = nTokens.cast("double")
    val d = nDistinct.cast("double")
    val sw = nStop.cast("double")
    val lenScore = least(n / lit(100.0), lit(1.0))
    val ttr = d / n
    val nonStop = (n - sw) / n
    Relational.round4((lenScore + ttr + nonStop) / lit(3.0))
  }

  /** BPE-ish token estimate: alpha runs, digit runs, other non-space symbols
    * (regex kept RE2-compatible so the oracle matches). */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+")) +
      regexp_count(text, lit("[0-9]+")) +
      regexp_count(text, lit("[^a-zA-Z0-9 ]"))

  /** Adjacent symbol-pair frequencies — the first iteration of the BPE
    * tokenizer-training inner loop (Sennrich et al. 2016): within each
    * whitespace token, every adjacent character pair is one occurrence,
    * and the corpus-wide pair counts are what BPE's merge step ranks.
    * Pair formation is pure scan-stage work (a `transform` of 2-char
    * substrings per token — adjacent-pair extraction with no join and no
    * per-word state); the only shuffle is the (pair)-keyed count, which
    * partially aggregates map-side first — pair cardinality is bounded by
    * the alphabet squared, so the exchange moves O(|alphabet|² · tasks)
    * rows at any corpus size. Returns (pair, cnt), one row per distinct
    * pair. A full BPE trainer loops this: apply the best merge, re-count;
    * each iteration is this same scan + bounded exchange. */
  def bpePairCounts(docs: DataFrame, textCol: String): DataFrame =
    adjacentPairCounts(docs.select(explode(tokens(col(textCol))).as("__w")))

  /** Corpus-wide adjacent symbol-pair counts over a token column `__w`
    * (the [[bpePairCounts]] core, reused per iteration by
    * [[bpeTrainMerges]]). */
  private def adjacentPairCounts(toks: DataFrame): DataFrame =
    toks
      .select(explode(when(length(col("__w")) >= 2,
        transform(sequence(lit(1), length(col("__w")) - 1),
          i => col("__w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))

  /** ITERATED BPE merge training (Sennrich et al. 2016's actual loop, not
    * just its first pair count): `iters` rounds of count adjacent pairs →
    * take the argmax (cnt desc, pair asc) → apply the merge corpus-wide →
    * re-count. Returns one row per round: (iter, pair, cnt) — the merge
    * table a tokenizer trainer emits.
    *
    * The key representation choice: each merged symbol becomes ONE fresh
    * private-use-area character (U+E000 + round), so symbols stay single
    * characters forever. That makes (a) adjacent-pair formation the same
    * 2-char-substring scan every round, and (b) applying a merge exactly
    * `replace(token, pair, sentinel)` — left-to-right non-overlapping
    * greedy replacement, which is precisely BPE's merge semantics and is
    * implemented identically by Spark's `StringReplace` and the oracle
    * engine's `replace`. No per-token stateful fold, no UDF.
    *
    * Plan shape per round: one scan of the token set (with the previous
    * rounds' replaces fused into the scan stage) + one pair-keyed count
    * whose exchange is bounded by the live alphabet squared + a 1-row
    * argmax that broadcasts back into the next round's scan. The argmax is
    * materialized — 1 row — so round i's plan does not re-derive
    * rounds 1..i-1's counts. At 100 TB a real ~30k-merge training runs
    * this loop on a hash-sample of the corpus ([[hashSample]]'s idiom) and
    * ships the merge table as a broadcast artifact; the loop body is this
    * same scan + bounded exchange either way. */
  def bpeTrainMerges(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 32, s"sentinel range supports 32 rounds, got $iters")
    var toks = docs.select(explode(tokens(col(textCol))).as("__w"))
    val steps = (0 until iters).map { i =>
      val top1 = materialize(adjacentPairCounts(toks) // 1 row: the chosen merge
        .orderBy(col("cnt").desc, col("pair")).limit(1))
      val sentinel = new String(Character.toChars(0xE000 + i))
      toks = toks
        .crossJoin(broadcast(top1.select(col("pair").as("__m"))))
        .select(replace(col("__w"), col("__m"), lit(sentinel)).as("__w"))
      top1.select(lit(i + 1).as("iter"), col("pair"), col("cnt"))
    }
    steps.reduce(_ unionAll _)
  }

  /** BPE tokenizer APPLICATION ([[bpeTrainMerges]]'s consumer — the
    * encode step): re-derive each document's symbol sequence under the
    * trained merge table and report per-document compression. Application
    * folds the merges IN TRAINING ORDER over each raw whitespace token —
    * `aggregate(merges, token, replace(acc, pair, sentinel))` — which
    * reproduces training's rewrites exactly: round i's pair can only
    * mention sentinels from rounds < i, so the sequential fold over raw
    * tokens reaches the same final symbol string training's incremental
    * corpus rewriting did. Per document: `n_chars` (raw symbols),
    * `n_symbols` (post-merge), `saved`, and the compression `ratio` —
    * the metric a tokenizer trainer tunes its merge budget against.
    *
    * Plan shape: the merge table collapses to ONE broadcast row (an
    * iter-sorted struct array — `array_sort` on (iter, pair) structs
    * orders by iter); the fold is scan-stage string work fused into the
    * same explode that measures raw length, and the only shuffle is the
    * (doc_id)-keyed sum. At 100 TB: train the table on a hash-sample
    * ([[bpeTrainMerges]]'s contract), then THIS operator is the full-
    * corpus pass — one scan, one broadcast row, one per-doc aggregate. */
  def bpeSegmentStats(docs: DataFrame, textCol: String, iters: Int): DataFrame =
    bpeSegmentStatsFrom(docs, textCol, bpeTrainMerges(docs, textCol, iters))

  /** [[bpeSegmentStats]] against an ALREADY-TRAINED merge table (the
    * `(iter, pair, cnt)` frame [[bpeTrainMerges]] returns) — the
    * deployment split: train once (on a sample, or a fixture), encode the
    * full corpus many times from the stored table. Same plan from the
    * merge row on. */
  def bpeSegmentStatsFrom(
      docs: DataFrame, textCol: String, mergeTable: DataFrame): DataFrame = {
    val sentinels = lit((0 until 32).map(i =>
      new String(Character.toChars(0xE000 + i))).toArray)
    val merges = mergeTable
      .agg(array_sort(collect_list(struct(col("iter"), col("pair")))).as("__ms"))
    docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("__w"))
      .crossJoin(broadcast(merges))
      .select(col("doc_id"), length(col("__w")).as("raw_len"),
        length(aggregate(col("__ms"), col("__w"),
          (acc, m) => replace(acc, m.getField("pair"),
            element_at(sentinels, m.getField("iter"))))).as("merged_len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("raw_len")).as("n_chars"),
        sum(col("merged_len")).as("n_symbols"))
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"), col("n_symbols"),
        (col("n_chars") - col("n_symbols")).as("saved"),
        graft.operators.Relational.round4(
          col("n_chars").cast("double") / col("n_symbols")).as("ratio"))
  }

  /** Content fingerprint: md5 of the full text. */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Structural fingerprint (head ++ tail ++ length) that survives
    * mid-document edits — the pattern used for shard-level dedup manifests. */
  def structuralFingerprint(text: Column): Column =
    md5(concat(
      text.substr(lit(1), lit(64)),
      text.substr(greatest(length(text) - 63, lit(1)), lit(64)),
      length(text).cast("string")).cast("binary"))

  /** Gopher-style quality-rule battery (Rae et al. 2021 §A1.1 shapes):
    * per-doc token-count band, mean-word-length band, duplicate-2-gram
    * fraction, stopword presence, and the conjunctive keep flag. Mean word
    * length needs no per-token fold — `len(text without spaces) / n` is
    * exact for any whitespace tokenization. 2-grams come from one zip_with
    * over the materialized token array (each array in its own select — the
    * HOF-interpretation rule). Scan-stage only: no shuffle at any scale;
    * boundary comparisons run on round4'd doubles so the oracle ranks the
    * same values. */
  def gopherRules(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 40, mwlLo: Double = 3.0, mwlHi: Double = 5.0,
      maxDup2: Double = 0.05, minStop: Int = 2): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__t"),
        size(col("__t")).cast("long").as("n_tokens"),
        length(replace(col("__text"), lit(" "), lit(""))).cast("long").as("__chars"),
        stopwordCount(col("__t")).cast("long").as("sw_hits"))
      .select(col("doc_id"), col("n_tokens"), col("__chars"), col("sw_hits"),
        zip_with(
          slice(col("__t"), lit(1), (col("n_tokens") - 1).cast("int")),
          slice(col("__t"), lit(2), (col("n_tokens") - 1).cast("int")),
          (a, b) => concat(a, lit(" "), b)).as("__g2"))
      .select(col("doc_id"), col("n_tokens"), col("__chars"), col("sw_hits"),
        (col("n_tokens") - 1).as("__n2"),
        size(array_distinct(col("__g2"))).cast("long").as("__d2"))
      .select(col("doc_id"), col("n_tokens"), col("sw_hits"),
        Relational.round4(
          col("__chars").cast("double") / col("n_tokens")).as("mwl"),
        when(col("__n2") > 0,
          Relational.round4(
            lit(1.0) - col("__d2").cast("double") / col("__n2")))
          .otherwise(lit(0.0)).as("dup2_frac"))
      .withColumn("ok_len", col("n_tokens") >= minTokens)
      .withColumn("ok_mwl", col("mwl") >= mwlLo && col("mwl") <= mwlHi)
      .withColumn("ok_rep", col("dup2_frac") <= maxDup2)
      .withColumn("ok_stop", col("sw_hits") >= minStop)
      .withColumn("keep",
        col("ok_len") && col("ok_mwl") && col("ok_rep") && col("ok_stop"))

  // ---------------------------------------------------------- PII scrubbing

  /** PII patterns, deliberately limited to syntax that means the same thing
    * under Java regex (Spark executors) and RE2 (the DuckDB oracle): char
    * classes, `\d`, bounded repetition — no backrefs, no lookaround. */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val piiPhoneRe = "\\d{3}-\\d{4}"

  /** Per-row PII hit counts on the raw text (computed BEFORE redaction, so
    * the counts are independent of replacement order). Spark's
    * `regexp_extract_all` size is INT — cast to long for the oracle. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_email" -> size(regexp_extract_all(text, lit(piiEmailRe), lit(0))).cast("long"),
    "n_ip" -> size(regexp_extract_all(text, lit(piiIpRe), lit(0))).cast("long"),
    "n_phone" -> size(regexp_extract_all(text, lit(piiPhoneRe), lit(0))).cast("long"))

  /** Redact PII with typed placeholders, replacing email → IPv4 → phone in
    * that order: emails carry dotted hosts and digit runs, so they must
    * leave the string before the broader numeric patterns scan it. Pure
    * scan-stage codegen'd string work — no shuffle, no UDF; at 100 TB this
    * is exactly as parallel as the underlying file scan. */
  def redactPII(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailRe, "<EMAIL>"),
        piiIpRe, "<IP>"),
      piiPhoneRe, "<PHONE>")
}
