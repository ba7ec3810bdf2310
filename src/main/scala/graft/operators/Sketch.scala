package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min Sketch — bounded-memory frequency estimation, the streaming/
  * distributed counterpart of exact per-key counts (Cormode & Muthukrishnan
  * 2005). The sketch is a depth × width grid of counters; every occurrence
  * of key x increments cell (j, h_j(x)) for each of the `depth` rows, and
  * a point estimate is the MIN over those cells — an overestimate by at
  * most ε·N with probability 1−δ (ε = e/width, δ = e^−depth).
  *
  * Expressed as a plain aggregation, the sketch IS a (depth × width)-row
  * table, and construction is one groupBy — which is exactly what makes it
  * the 100 TB idiom: cells are mergeable by addition, so map-side partials
  * combine freely, the shuffle carries at most depth × width rows per
  * task regardless of input size, and the final grid (a few thousand
  * longs) broadcasts anywhere. Hashing is the same md5 → 32-bit →
  * universal-hash family as MinHash ([[TextOps]]) — deterministic integer
  * math end to end, so the whole grid (not just derived booleans) is
  * oracle-reproducible.
  */
object Sketch {

  /** Fixed universal-hash family (a, b) pairs; depth = CmsHashes.length. */
  val CmsHashes: Seq[(Int, Int)] = Seq((31, 7), (37, 11), (41, 13), (43, 17))
  val CmsPrime = 2147483647L // 2^31 - 1, the Mersenne modulus MinHash uses

  /** 32-bit base hash of an (already string-cast) key column. */
  def baseHash(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** h_j(key) for hash row j, in [0, width). */
  def bucketOf(h: Column, j: Int, width: Int): Column = {
    val (a, b) = CmsHashes(j)
    pmod(pmod(h * a + b, lit(CmsPrime)), lit(width))
  }

  /** `keyed` with one row per depth cell of its key: column `__c`, the
    * (j, bucket) struct, exploded in the scan stage from one array, as
    * `bloomBits` explodes its positions. */
  private def cells(keyed: DataFrame, keyCol: String, width: Int): DataFrame =
    keyed.withColumn("__h", baseHash(col(keyCol)))
      .withColumn("__c", explode(array(CmsHashes.indices.map(j =>
        struct(lit(j).as("j"), bucketOf(col("__h"), j, width).as("bucket"))): _*)))

  /** Build the sketch grid from per-key WEIGHTED counts: one row per
    * occupied (j, bucket) cell. Feed it pre-aggregated (key, n) rows — the
    * per-key aggregate is one shuffle the caller usually needs anyway, and
    * incrementing by weight is equivalent to (and far cheaper than)
    * hashing every raw occurrence. */
  def cmsGrid(keyed: DataFrame, keyCol: String, nCol: String, width: Int): DataFrame =
    cells(keyed, keyCol, width)
      .groupBy(col("__c.j").as("j"), col("__c.bucket").as("bucket"))
      .agg(sum(col(nCol)).as("cell"))

  /** Point-estimate each key against a (small, broadcastable) grid: the
    * min over the key's depth cells. Returns (key, est). */
  def cmsEstimate(
      keys: DataFrame, keyCol: String, grid: DataFrame, width: Int): DataFrame =
    cells(keys, keyCol, width)
      .select(col(keyCol), col("__c.j").as("j"), col("__c.bucket").as("bucket"))
      .join(broadcast(grid), Seq("j", "bucket"))
      .groupBy(col(keyCol))
      .agg(min(col("cell")).as("est"))

  /** Bloom filter over a key set, materialized as the DataFrame of its SET
    * bit positions (≤ m rows of one long each). Same md5 → universal-hash
    * family as the CMS grid, so the bit set is deterministic integer math
    * and oracle-reproducible. ONE scan: the depth positions explode from an
    * array in the scan stage; the distinct is a mergeable set-union
    * aggregate whose shuffle carries at most m rows per task regardless of
    * build cardinality. Bit sets of corpus shards merge by distinct union
    * (pinned in `SketchSpec`). */
  def bloomBits(keys: DataFrame, keyCol: String, m: Int): DataFrame = {
    val withH = keys.withColumn("__h", baseHash(col(keyCol)))
    withH
      .select(explode(array(
        CmsHashes.indices.map(j => bucketOf(col("__h"), j, m)): _*)).as("pos"))
      .distinct()
  }

  /** Probe rows against a bloom bit set: all probe columns plus `maybe`,
    * true iff ALL depth positions are set — no false negatives ever;
    * false-positive rate ≈ (1 − e^(−depth·n/m))^depth. The bit set is
    * packed into a single-row word map (m/64 longs) and broadcast, so the
    * membership test is pure scan-stage bit arithmetic: NO probe-side
    * shuffle, no per-probe join fan-out. That is the 100 TB semi-join
    * pruning idiom — build the bits from the small side's join keys, drop
    * fact rows with maybe = false BEFORE their exchange; pruned rows never
    * leave their input partition. (Spark's runtime bloom pushdown does this
    * opaquely; this one is explicit, mergeable, and cross-engine
    * checkable.) */
  def bloomMaybe(
      probe: DataFrame, keyCol: String, bits: DataFrame, m: Int): DataFrame = {
    require(!probe.columns.contains("maybe") && !probe.columns.contains("__bm"),
      "bloomMaybe appends `maybe` (via scratch `__bm`); the probe frame must not " +
        "already carry either column")
    val word = call_function("shiftleft", lit(1L),
      pmod(col("pos"), lit(64)).cast("int"))
    val bitmap = bits
      .groupBy(floor(col("pos") / 64).cast("int").as("__w"))
      .agg(bit_or(word).as("__word"))
      .groupBy()
      .agg(map_from_arrays(
        collect_list(col("__w")), collect_list(col("__word"))).as("__bm"))
    val h = baseHash(col(keyCol))
    val tests = CmsHashes.indices.map { j =>
      val pos = bucketOf(h, j, m)
      coalesce(element_at(col("__bm"), floor(pos / 64).cast("int")), lit(0L))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(pos, lit(64)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
    probe
      .crossJoin(broadcast(bitmap))
      .select(probe.columns.toIndexedSeq.map(col) :+ tests.as("maybe"): _*)
  }
}
