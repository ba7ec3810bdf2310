package graft.operators

import graft.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Parquet-backed store for trained ANN models: train once, store the
  * model as plain tables, and let every search session read and broadcast
  * it instead of retraining. [[graft.queries.Models]]'s checkpoint cache is
  * the in-session twin; this store is what outlives the session.
  *
  * Layout: each saved model is a self-contained, immutable directory
  * `dir/v<N>` holding
  *   - `assigned`  (vec_id, v, dxx, cluster, sq): the corpus assignment;
  *   - `centroids` (cluster, c): the coarse quantizer, k rows;
  *   - `codes`     (vec_id, sub, code, sq): PQ codes;
  *   - `books`     (sub, cluster, c): PQ codebooks, m·k rows;
  *   - `meta`      one row of geometry (m, k, coarse_k, dims).
  * Readers serve the highest `v<N>`. Doubles round-trip parquet bit-exactly
  * and every serving fold orders by (cluster, sub), so a loaded model
  * reproduces the training run's search rows exactly.
  *
  * Commit: a save writes all five tables under `dir/.stage-<uuid>` and
  * then renames that directory to `v<N>`, N = 1 + the highest version at
  * commit time, with [[graft.Commit.renameExclusive]]; a taken N moves on
  * to N+1. A failed save deletes its stage and leaves no `v<N>`, so a
  * reader sees a whole old model or a whole new one, and two concurrent
  * saves land as two whole versions.
  *
  * GC: after a commit, every `v<N>` below the two highest is deleted. A
  * reader holding the previous model's tables survives one retrain; it
  * must re-call [[loadCoarsePq]] to survive two. Stage directories and a
  * legacy flat store (tables and `meta` directly under `dir`, still
  * readable) are never deleted. Stores written by the earlier pointer
  * layout (`dir/meta` naming a `v<N>` without its own `meta`) are not read.
  *
  * Filesystem requirement: `rename` must be atomic (HDFS, local FS). On
  * object stores a rename is a copy, so a reader can see a partial version.
  */
object ModelStore {

  private val parts = Seq("assigned", "centroids", "codes", "books")

  private val commitAttempts = 16

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val objectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "cos", "swift")

  /** Committed version numbers under `root`, ascending: one listing. */
  private def versions(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted

  /** Rename `stage` to the first free `v<N>` from `first` on; returns N. */
  private[operators] def commit(fs: FileSystem, root: Path, stage: Path, first: Long): Long =
    (first until first + commitAttempts)
      .find(n => Commit.renameExclusive(fs, stage, new Path(root, s"v$n")))
      .getOrElse(throw new IllegalStateException(
        s"could not commit a model version under $root: v$first to " +
          s"v${first + commitAttempts - 1} are all taken"))

  /** Persist a trained coarse+PQ model (the [[Similarity.coarsePqModels]]
    * quadruple) under `dir` as a new version. The five tables are written
    * by concurrent jobs; every write finishes before any failure is
    * rethrown, so a caller's retry never races a write still in flight. */
  def saveCoarsePq(
      dir: String, assigned: DataFrame, centroids: DataFrame,
      codes: DataFrame, books: DataFrame,
      m: Int, k: Int, coarseK: Int, dims: Int): Unit = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = assigned.sparkSession
    import spark.implicits._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scheme = Option(fs.getUri.getScheme).map(_.toLowerCase).getOrElse("file")
    if (objectStoreSchemes(scheme))
      log.warn(s"ModelStore at $dir sits on '$scheme://', an object store whose " +
        "rename is a non-atomic copy: a reader may see a partially copied version")
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    val meta = Seq((m, k, coarseK, dims)).toDF("m", "k", "coarse_k", "dims")
    try {
      // catch-all rather than Try (which passes fatal errors through): each
      // future always succeeds, so the sequence completes only once every
      // write has quiesced
      val writes = (Seq(assigned, centroids, codes, books, meta) zip (parts :+ "meta"))
        .map { case (df, name) =>
          Future(blocking {
            try { df.write.parquet(s"$stage/$name"); None }
            catch { case t: Throwable => Some(t) }
          })
        }
      Await.result(Future.sequence(writes), Duration.Inf).flatten.foreach(t => throw t)
      commit(fs, root, stage, versions(fs, root).lastOption.getOrElse(0L) + 1)
    } catch { case t: Throwable =>
      try fs.delete(stage, true) catch { case NonFatal(_) => () }
      throw t
    }
    try versions(fs, root).dropRight(2).foreach(v => fs.delete(new Path(root, s"v$v"), true))
    catch { case NonFatal(e) => log.warn(s"ModelStore GC under $dir failed: $e") }
  }

  /** Load the highest committed model under `dir` (or a legacy flat store)
    * as (assigned, centroids, codes, books). The stored geometry must match
    * the caller's: searching with another geometry would silently mis-rank,
    * so a mismatch fails fast. */
  def loadCoarsePq(
      spark: SparkSession, dir: String,
      m: Int, k: Int, coarseK: Int, dims: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = versions(fs, root).lastOption match {
      case Some(v) => s"$dir/v$v"
      case None if fs.exists(new Path(root, "meta")) => dir // legacy flat store
      case None => throw new IllegalArgumentException(s"no committed model at $dir")
    }
    val g = spark.read.parquet(s"$base/meta").select("m", "k", "coarse_k", "dims").head()
    val (sm, sk, sck, sd) = (g.getInt(0), g.getInt(1), g.getInt(2), g.getInt(3))
    require(
      sm == m && sk == k && sck == coarseK && sd == dims,
      s"stored model geometry (m=$sm, k=$sk, coarseK=$sck, dims=$sd) does " +
        s"not match requested (m=$m, k=$k, coarseK=$coarseK, dims=$dims)")
    val Seq(la, lc, lcodes, lbooks) = parts.map(name => spark.read.parquet(s"$base/$name"))
    (la, lc, lcodes, lbooks)
  }
}
