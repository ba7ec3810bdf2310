package graft.queries

import graft.Tables
import graft.SessionMemo.memo
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.materialize

/** Session-scoped memoized model fixtures for the embedding-family gates.
  *
  * Training here is fully deterministic (seeds = smallest vector ids,
  * means display-rounded every round), so each gate that re-trains the
  * same (dataset, geometry) computes byte-identical assignments, codes and
  * codebooks — in a full-catalog run, ~25 s of repeated identical
  * training. This cache trains ONCE per (SparkContext, dataset dir) — the
  * coarse quantizer and the raw PQ codebooks in one fused multi-chain run
  * ([[Similarity.coarsePqAll]]: one barrier set per Lloyd round for all
  * chains), the residual PQ chain after it (it depends on the finished
  * coarse centroids) — and hands every consumer the materialized
  * frames. Search/dedup/evaluation gates then measure their own work, the
  * same contract a production deployment gets from a persisted model store
  * (`ModelPersistenceSpec` proves the parquet round-trip).
  *
  * Checkpoint-based, deliberately NOT persist: nothing is ever pinned in
  * the CacheManager (the [[CacheLifecycleSpec]] session contract), and the
  * checkpoint blocks are reclaimed when the fixture's frames die with
  * their SparkContext. Entries from a previous (stopped) context are
  * dropped on the first lookup from a new one.
  *
  * Correctness gates stay self-contained on the oracle side: DuckDB
  * replays the full training chains from the parquet data; only the Spark
  * side shares the one deterministic result.
  */
object Models {

  /** Fused coarse + raw-PQ fixture in the gate-default geometry:
    * `assigned`/`centroids` in [[Similarity.kmeans]]'s shape,
    * `codes`/`books` in [[Similarity.pqModel]]'s. */
  final case class CoarsePq(
      assigned: DataFrame, centroids: DataFrame,
      codes: DataFrame, books: DataFrame)

  /** Residual-PQ fixture: PQ trained on [[Similarity.residualsFrom]] of
    * the [[CoarsePq]] fixture's coarse model (same geometry). */
  final case class ResidualPq(codes: DataFrame, books: DataFrame)

  import SimilarityQueries.{KmeansDims, KmeansK, KmeansRounds, PqK, PqM, PqRounds}

  def coarsePq(s: SparkSession, d: String): CoarsePq = memo(s, d, "coarsePq") {
    val (all, books) = Similarity.coarsePqAll(
      Tables.embeddings(s, d), KmeansK, KmeansRounds, PqM, PqK, PqRounds, KmeansDims)
    // ONE final-assignment scan serves every consumer; the books are tiny
    val (assigned, centroids, codes, pqBooks) =
      Similarity.splitCoarsePq(materialize(all), materialize(books), PqM)
    CoarsePq(assigned, centroids, codes, pqBooks)
  }

  /** Brute-force L2 top-5 truth over the standard query batch — the
    * evaluation denominator e18 and e19 share. Deterministic (exact
    * distances, (d2, n_id) ranking), so one checkpointed copy serves every
    * evaluation gate; each oracle still replays its own. */
  def l2Truth5(s: SparkSession, d: String): DataFrame = memo(s, d, "l2Truth5") {
    materialize(SimilarityQueries.l2Truth(s, d, 5))
  }

  /** m=4 PQ fixture — e19's finer-geometry comparison arm (the session's
    * standard geometry is m=2, held in [[coarsePq]]). Train-once like
    * every fixture here; e19 then measures the recall evaluation itself. */
  final case class PqM4(codes: DataFrame, books: DataFrame)

  def pqM4(s: SparkSession, d: String): PqM4 = memo(s, d, "pqM4") {
    val (codes, books) = Similarity.pqModel(
      Tables.embeddings(s, d), 4, PqK, PqRounds, KmeansDims)
    PqM4(materialize(codes), materialize(books))
  }

  /** Fused permutation-PQ fixture for e20: PQ codes trained under the
    * three non-identity coordinate partitions of
    * [[SimilarityQueries.OpqPerms]] in ONE multi-chain run (6 chains, one
    * barrier set per Lloyd round). Deterministic like every fixture here;
    * e20's gate then measures its own work — the per-permutation
    * distortion totals and ranking — not the shared training, the same
    * train-once contract the other e-family fixtures carry. */
  def opqPermCodes(s: SparkSession, d: String): DataFrame = memo(s, d, "opqPermCodes") {
    val others = SimilarityQueries.OpqPerms.filter(_._1 != "identity")
    val subLen = KmeansDims / PqM
    import org.apache.spark.sql.functions.{array, col, element_at}
    val emb = Tables.embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val vecs = others.zipWithIndex.map { case ((_, perm), pi) =>
      val permuted = emb.select(col("vec_id"),
        array(perm.map(i => element_at(col("embedding"), i)): _*).as("embedding"))
      Similarity.slicedVecs(permuted, PqM, subLen, pi * PqM)
    }.reduce(_ unionAll _)
    materialize(Similarity.pqModelFrom(vecs, PqK, PqRounds, subLen, others.size * PqM)._1)
  }

  /** PCA fixture for e23: the centered corpus (checkpointed) plus the
    * power-iteration axis, trained ONCE per (session, dataset, rounds,
    * dims) — the same train-once contract as [[coarsePq]]/[[pqM4]]. The
    * gate then measures projection + variance-ratio (serving work), not
    * the `rounds` sequential covariance-action barriers; the oracle
    * still replays the full centering + training chain from parquet.
    * Methodology note for the bench record: moving e23 onto this fixture
    * is an accounting change (best-of-N drops the training cost) and is
    * flagged per-row in BENCH_SUMMARY like the dedup/BPE fixtures. */
  final case class PcaAxis(centered: DataFrame, ax: Array[Double])

  def pcaAxis(s: SparkSession, d: String, rounds: Int, dims: Int): PcaAxis =
    memo(s, d, s"pcaAxis:r$rounds:d$dims") {
      val centered = Similarity.pcaCentered(Tables.embeddings(s, d), dims)
      PcaAxis(centered, Similarity.pcaTrainAxis(centered, rounds, dims))
    }

  def residualPq(s: SparkSession, d: String): ResidualPq = memo(s, d, "residualPq") {
    val cp = coarsePq(s, d)
    val subLen = KmeansDims / PqM
    // the residual corpus IS the encoded data — materialized once
    val resid = materialize(Similarity.residualsFrom(cp.assigned, cp.centroids))
    val (codes, books) = Similarity.pqModelFrom(
      Similarity.slicedVecs(resid, PqM, subLen, 0), PqK, PqRounds, subLen, PqM)
    ResidualPq(materialize(codes), materialize(books))
  }
}
