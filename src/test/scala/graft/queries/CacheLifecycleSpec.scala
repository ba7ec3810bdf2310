package graft.queries

import graft.SparkSpec

/** The catalog's session contract: a query may MATERIALIZE intermediates
  * (`materialize`, a local checkpoint — blocks reclaimed by ContextCleaner when the
  * frame's reference dies), but must never leave anything PINNED in the
  * CacheManager, where only an explicit unpersist/clearCache would free it.
  * A long-lived interactive session running catalog queries therefore
  * cannot accumulate cached frames.
  *
  * The queries below are exactly those that materialize shared
  * intermediates (LSH bands, shingle frames, the canonical-docs pass, the
  * component iteration's edge list).
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("catalog queries leave no pinned cache entries") {
    spark.catalog.clearCache()
    val sharing = Seq("d2_minhash_pairs", "d3_jaccard_dupes", "d5_simhash_pairs",
      "d6_dup_clusters", "c1_corpus_pipeline", "t9_tfidf", "x4_small_qty_revenue",
      "e9_kmeans_assign", "e13_pq_codes", "e14_adc_search", "a9_cms_topk",
      // round 5: the residual/IVFADC compositions checkpoint residual
      // corpora and labeled bases; c5 additionally drives the component
      // iteration's persisted edge list
      "e15_ivf_pq_search", "e16_residual_pq", "e17_ivfadc_search",
      "c5_semantic_dedup",
      // round 6: the session model fixtures (Models) checkpoint the fused
      // training outputs behind every e-family gate; e20 additionally
      // checkpoints its per-permutation error table
      "e20_opq_permute", "e18_ivfadc_recall")
    for (name <- sharing) {
      Catalog.queries(name)(spark, dir).collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left entries pinned in the CacheManager")
    }
  }
}
