package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator library: the reference's stream-processing surface
  * (SURVEY.md §2) re-expressed as declarative Dataset transforms.
  *
  * Everything here is a pure `DataFrame => DataFrame` so Catalyst sees one
  * logical plan end-to-end (predicate pushdown / column pruning / join
  * reordering work across operator boundaries).
  */
object Relational {

  /** KTable semantics (SURVEY §2.1 S2, reference `builder.table(...)` at
    * samples/PurchaseEventTicket.java:44-51): latest value per key.
    *
    * Scale: one shuffle on the key columns; at 100 TB this is the standard
    * dedup-by-key pattern (window + rn=1) which AQE handles with skew-join
    * splitting. No state is held beyond the shuffle; for the streaming
    * variant see [[graft.streaming.StatefulOps.latestByKey]].
    */
  def latestByKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** CDC MERGE-apply — the lakehouse upsert (Delta/Iceberg `MERGE INTO`
    * semantics, Armbrust et al. 2020 §3.2) as two relational steps:
    *
    *  1. CHANGELOG COMPACTION: latest change per key as ONE mergeable
    *     aggregate — `max(struct(seq, seq2, op, newval))` is lexicographic,
    *     so partial buffers combine map-side and the shuffle carries one
    *     row per (key, task), never the change stream. This is the
    *     100 TB-critical half: a day's changelog compacts before it ever
    *     meets the snapshot. (`seq`,`seq2`) must be unique per key —
    *     the caller's change-log ordering contract.
    *  2. APPLY: one full-outer join snapshot ⋈ compacted on `key`;
    *     `delete` drops the row (a delete of an absent key is a no-op),
    *     `upsert` overwrites or inserts, untouched snapshot rows pass
    *     through. Compacted changes are bounded by the ACTIVE key set, so
    *     at a typical snapshot≫delta ratio the join broadcasts the delta.
    *
    * Contracts: snapshot(key, val), changes(key, seq, seq2, op, newval)
    * with op ∈ {'upsert','delete'}. Output (key, val, src) where src
    * records provenance: kept | updated | inserted. */
  def cdcApply(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val latest = changes
      .groupBy(col("key"))
      .agg(max(struct(col("seq"), col("seq2"), col("op"), col("newval"))).as("c"))
      .select(col("key"), col("c.op").as("op"), col("c.newval").as("newval"))
    snapshot.withColumn("__present", lit(true))
      .join(latest, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("key"),
        when(col("op").isNotNull, col("newval")).otherwise(col("val")).as("val"),
        when(col("op").isNull, lit("kept"))
          .otherwise(when(col("__present").isNull, lit("inserted"))
            .otherwise(lit("updated"))).as("src"))
  }

  /** Top-K rows per group with deterministic tie-breaks (SURVEY §2.6 T1/T2,
    * reference `SortedCounterMap.top(3)` at samples/TopCustomerArtists.java:125-129).
    *
    * The reference re-sorts its whole counter map on every record; here the
    * sort happens once, post-aggregation, inside a partitioned window — the
    * per-group data after aggregation is small (one row per distinct group
    * member), so this survives 100× scale as long as group cardinality does.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], rank: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(rank: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Capacity-countdown ledger (SURVEY §2.5 A2, reference
    * samples/PurchaseEventTicket.java:68-94): per key, requests are processed
    * in arrival order against a fixed capacity; the first `capacity` are
    * CONFIRMED, the rest REJECTED, and `remaining` runs down (and goes
    * negative, mirroring the reference's golden test
    * samples/PurchaseEventTicketTest.java:77-139).
    *
    * Batch form: a rank over (key, arrival order) — fully declarative, no
    * per-key sequential state, scales as a single shuffle. The streaming
    * form that needs true running state lives in
    * [[graft.streaming.StatefulOps.capacityLedger]]. `capacity` is a
    * column, so it may be a constant (`lit(5)`) or a per-row capacity
    * joined onto each request.
    */
  def capacityLedger(df: DataFrame, key: String, order: Seq[Column], capacity: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    df.withColumn("seq", row_number().over(w))
      .withColumn("status",
        when(col("seq") <= capacity, lit("CONFIRMED")).otherwise(lit("REJECTED")))
      .withColumn("remaining", capacity - col("seq"))
  }

  /** Content-based routing (SURVEY §2.3 P6, reference `split()/branch()` at
    * samples/PurchaseEventTicket.java:97-158): a routing column computed once;
    * downstream sinks filter on it. In Spark N filtered sinks off one plan
    * share the scan, so the Kafka-Streams branch operator reduces to
    * `when/otherwise`.
    */
  def route(c: Column, tiers: Seq[(Column, String)], default: String): Column =
    tiers.foldRight(lit(default): Column) { case ((cond, name), acc) =>
      when(cond, lit(name)).otherwise(acc)
    }

  /** As-of join (beyond the reference; the temporal-join generalization of
    * its stream⋈table joins, SURVEY §2.4 note): attach to each left row the
    * latest right row with `rightTime <= leftTime` (`direction =
    * "backward"`, the default) — or the EARLIEST right row with
    * `rightTime >= leftTime` (`direction = "forward"`: "what happened
    * next", e.g. click → next view) — for the same keys. Left-outer, so
    * left rows with no match keep nulls.
    *
    * Implementation is the union-tag-window form: tag both inputs, sort
    * each key group once by (time, tag) with right rows ordered before left
    * rows at equal timestamps (inclusive as-of in both directions), and
    * carry the right payload with `last(ignoreNulls)`. Forward is the exact
    * mirror: time sorts descending, so "carry forward" walks backward in
    * event time. ONE shuffle + ONE sort either way, independent of how far
    * the match reaches — the distributed as-of plan that range joins can't
    * match (a banded range join explodes when the match can be arbitrarily
    * old; a plain inequality join is quadratic per key).
    *
    * `right` must be unique per (keys, rightTime) — pre-aggregate ties away
    * (the result would otherwise be nondeterministic in any engine).
    *
    * @param rightCols right-side payload columns to attach (must exist in
    *        `right`; must not collide with left column names)
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asof direction must be backward|forward, got $direction")
    val leftCols = left.columns.toSeq
    val l = left.withColumn("__t", col(leftTime)).withColumn("__tag", lit(1))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightCols.map(col): _*).schema.fields)))
    val r = right
      .select(keys.map(col) :+ col(rightTime).as("__t") :+
        struct(rightCols.map(col): _*).as("__r"): _*)
      .withColumn("__tag", lit(0))
    val unioned = l.select((keys ++ Seq("__t", "__tag", "__r")).map(col) ++
      leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(r, allowMissingColumns = true)
    val timeOrd = if (direction == "backward") col("__t").asc else col("__t").desc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(timeOrd, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ rightCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** Bounded-interval self-join (range join): all ordered pairs of rows
    * sharing `keys` with `0 < t₂ − t₁ ≤ window`. Output: key columns plus
    * the id/time of both endpoints (`id1,t1,id2,t2`).
    *
    * The banded-bucket plan: both sides bucket time by `window`; a later row
    * can only live in the earlier row's bucket or the next one, so the left
    * side explodes to those two probe buckets and the join key is
    * (keys, bucket) — equi-join, shuffle-partitionable, AQE-skew-splittable.
    * The exact range predicate then filters within buckets. Pair count (not
    * scan size) bounds the output, the only honest cost of any range join.
    */
  def intervalSelfJoin(
      df: DataFrame, keys: Seq[String], idCol: String, timeCol: String,
      window: Long): DataFrame = {
    val base = df.select(keys.map(col) :+ col(idCol) :+ col(timeCol): _*)
    // integer `div`, NOT `/`: Column./ plans a double division whose
    // round-to-nearest can misplace a row at a bucket boundary once
    // time/window exceeds ~2^52 ULP headroom (nanosecond timestamps) —
    // a missed pair, silently. Integer division is exact at any magnitude.
    def bucket = expr(s"`$timeCol` div $window")
    val a = base.select(keys.map(col) ++ Seq(
      col(idCol).as("id1"), col(timeCol).as("t1"),
      explode(array(bucket, bucket + 1)).as("__pb")): _*)
    val b = base.select(keys.map(c => col(c).as(s"__k_$c")) ++ Seq(
      col(idCol).as("id2"), col(timeCol).as("t2"),
      bucket.as("__b")): _*)
    val keyCond = keys.map(c => col(c) === col(s"__k_$c"))
      .reduce(_ && _) && col("__pb") === col("__b")
    a.join(b, keyCond && col("t2") > col("t1") && col("t2") <= col("t1") + window)
      .select(keys.map(col) ++ Seq(col("id1"), col("t1"), col("id2"), col("t2")): _*)
  }

  /** Gap-based sessionization: assign a per-key `session_no` (1-based) that
    * increments whenever the gap since the previous row exceeds `gap`.
    * The batch twin of a streaming session window (cf.
    * [[graft.streaming.WindowedOps]]): lag + running sum over one
    * (keys)-partitioned sort — one shuffle, no state beyond the window.
    * `order` must be a total order within each key group (include a
    * tie-break column) or session numbering is nondeterministic.
    */
  def sessionize(
      df: DataFrame, keys: Seq[String], timeCol: String, order: Seq[Column],
      gap: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val prev = lag(col(timeCol), 1).over(w)
    val newSession = when(prev.isNull || col(timeCol) - prev > gap, 1).otherwise(0)
    df.withColumn("session_no",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
  }

  /** Blocked fuzzy match over a name dictionary — the edit-distance join
    * of entity resolution, shaped for scale: callers dedupe the fact table
    * to (name, count) first (vocabulary cardinality, not row cardinality),
    * this blocks on the FIRST TOKEN and verifies pairs within a block with
    * exact Levenshtein ≤ `maxDist`. Blocking is the recall trade every ER
    * pipeline makes explicit: a pair whose first tokens differ is never
    * compared, however close the rest — that miss is deliberate and
    * spec-pinned, not an accident. Output: (name1, name2, dist, n1, n2)
    * with name1 < name2.
    *
    * The within-block pair join is SALTED (the [[graft.operators.Similarity
    * .cosineNearDupPairsFrom]] idiom): joining on the block token alone
    * puts each block in ONE task, and on a natural-language dictionary hot
    * first tokens ("the", "new") make that task quadratic-dominant. The
    * left side keys by (block, hash(name) % S), the right side replicates
    * each row S ways, so a hot block's pair work spreads over S tasks at
    * an S× blowup of the (vocabulary-sized) right side. Every pair still
    * meets exactly once — the left row carries one salt value. */
  def fuzzyMatchNames(
      names: DataFrame, nameCol: String, countCol: String, maxDist: Int,
      saltBuckets: Int = 16): DataFrame = {
    val blocked = names
      .select(col(nameCol).as("__name"), col(countCol).as("__n"))
      .withColumn("__blk", split(col("__name"), " ").getItem(0))
    val left = blocked.select(col("__name").as("name1"),
      col("__n").as("n1"), col("__blk"))
      .withColumn("__salt", pmod(hash(col("name1")), lit(saltBuckets)))
    val right = blocked.select(col("__name").as("name2"),
      col("__n").as("n2"), col("__blk"))
      .withColumn("__salt", explode(array((0 until saltBuckets).map(lit): _*)))
    left.join(right, Seq("__blk", "__salt"))
      .filter(col("name1") < col("name2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("name1"), col("name2"), col("dist"), col("n1"), col("n2"))
  }

  /** Exact money arithmetic for aggregation: cast a 2-dp double column to
    * decimal so sums are order-independent (a 100 TB shuffle sums partials in
    * nondeterministic order; double addition is not associative, decimal is).
    * Final results cast back to double for a stable output schema.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Display rounding to 4 dp via `floor(x·10⁴ + 0.5)/10⁴` — pure IEEE
    * multiply/add/floor/divide, so Spark and DuckDB agree bit-for-bit.
    * The engines' native `round(x, 4)` functions disagree at half-boundaries
    * (Spark: BigDecimal HALF_UP on the exact double; DuckDB: scaled
    * multiply) — observed as a 0.7263-vs-0.7262 oracle mismatch at sf0.1. */
  def round4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
}
