package graft.queries

import graft.{SessionMemo, Tables}
import graft.operators.Relational._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operator surface (SURVEY.md §2) expressed on
  * the driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Conventions shared with the oracles (see Catalog):
  *   - double aggregates go through decimal(18,2) so partial-aggregation
  *     order can't perturb the result (order-independent exact sums), then
  *     cast back to double for a stable schema;
  *   - `events.ts` arrives from Tables.events already normalized to int64
  *     epoch-micros (whatever the parquet physically stores), matching
  *     DuckDB's `epoch_us(ts)` of the same file;
  *   - every query ends in a deterministic ORDER BY with full tie-breaks.
  */
object RelationalQueries {

  private def revenue: Column =
    sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double")

  /** TPC-H Q1 shape (SURVEY §2.5 A3/A6/A7 — grouped running counts made
    * batch): scan-heavy aggregate; Catalyst pushes the shipdate filter and
    * prunes to 7 columns at the parquet scan. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        revenue.as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** KTable semantics (SURVEY §2.1 S2): latest event per user. */
  def s2LatestByKey(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", col("ts"))
    latestByKey(ev, Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts_us"))
      .orderBy(col("user_id"))
  }

  /** SCD-type-2 validity intervals — the temporal-modeling twin of
    * [[s2LatestByKey]]: instead of keeping only each key's latest record,
    * every record becomes a versioned row valid from its own timestamp
    * until the key's next record (open-ended for the current version).
    * One lead() over the same (key, time, tie-break) window s2 ranks by —
    * a single shuffle on user_id builds the full history table. Time is
    * integer micros (Tables.events ≡ `epoch_us`); the trailing NULL
    * valid_to is the standard open-interval encoding and hashes fine. */
  def s6Scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
  }

  /** Date-band filter (SURVEY §2.3 P4, reference TargetCustomerFilter's
    * decade band). Predicate reaches the parquet scan as a pushed filter. */
  def p4FilterDateband(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))

  /** Union-all merge (SURVEY §2.3 P5, reference `merge`). */
  def p5MergeUnion(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click").select(col("event_type"), col("value"))
    val views = ev.filter(col("event_type") === "view").select(col("event_type"), col("value"))
    clicks.union(views)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Content-based routing (SURVEY §2.3 P6, reference 3-way branch in
    * PurchaseEventTicket). One routing column; N sinks share the scan. */
  def p6BranchRoute(s: SparkSession, d: String): DataFrame = {
    val routed = Tables.events(s, d).withColumn("route",
      route(col("value"), Seq(
        (col("value") >= 100, "HIGH"),
        (col("value") >= 20, "MID")), "LOW"))
    routed.groupBy(col("route"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("route"), col("event_type"))
  }

  /** Stringify + enrich (SURVEY §2.3 P7, reference AddressSortAndStringify
    * golden format). Nation joins broadcast (25 rows). */
  def p7Stringify(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("c_custkey"),
        concat(col("c_name"), lit(" ("), col("c_mktsegment"), lit(") ["),
          col("n_name"), lit("]")).as("line"))
      .orderBy(col("c_custkey"))
  }

  /** Composite-key build + parse (SURVEY §2.3 P2 and the split-at-last-hyphen
    * pitfall the reference tests encode) — kept to show the Kafka-ism and its
    * Spark-side disappearance: the parse is a single regexp, and grouping
    * would simply use both columns. */
  def p2RekeyRoundtrip(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("c_custkey"),
        concat(col("n_name"), lit("-"), col("c_custkey")).as("composite_key"))
      .withColumn("parsed_id", regexp_extract(col("composite_key"), "([0-9]+)$", 1).cast("long"))
      .orderBy(col("c_custkey"))
  }

  /** 4-way enrichment join pipeline (SURVEY §2.4 J5-J8): lineitem ⋈ orders ⋈
    * customer ⋈ nation ⋈ region rolled up by region/nation. Dims-first
    * (round 9): the enrichment chain collapses to a narrow keyed frame
    * before touching the fact table, so lineitem sees exactly ONE join.
    * nation/region broadcast by hint (structurally tiny); the orders side
    * is deliberately NOT hinted — at bench scale AQE broadcasts the
    * collapsed dims anyway, at 100 TB li⋈dims becomes the one orderkey
    * shuffle the plan genuinely needs (see the inline comment). */
  def jMultiwayRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    // dims-first: the enrichment chain collapses to (o_orderkey, r_name,
    // n_name) BEFORE touching the fact table, so lineitem joins ONCE
    // against a 3-column frame instead of twice against orders+customer.
    // No forced broadcast on the orders side — but the fact⋈dims join is
    // PINNED to sort-merge (round 15): left to estimates, the planner
    // broadcast LINEITEM (BuildLeft — the 10 MB sf0.1 parquet slips under
    // the 64m local threshold while the dims side carries an unusable
    // post-join product estimate), driver-collecting and hash-building
    // the 600 k-row fact side on every run. Same-window A/B: BHJ-on-li
    // warm reps 1.67-2.05 s vs SMJ 1.10-1.62 s. At 100 TB both sides
    // exceed any broadcast threshold, so the hint pins exactly the plan
    // that scale forces anyway — it forbids only the fact-side broadcast,
    // which is wrong at every scale (guide §3.1: broadcast the SMALL
    // side; the build here was the larger one).
    val dims = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"), col("n_name"))
    li.hint("merge").join(dims, li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Out-of-state sales analog (SURVEY §2.5 A4 + §2.4 quasi-theta note):
    * the inequality lives in a filter, not the join — customer nation ≠
    * supplier nation, counted per supplier. */
  def a4OutOfNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // dims-first (the jMultiwayRevenue shape): orders⋈customer collapses
    // to (o_orderkey, c_nationkey) before the fact table joins, so
    // lineitem pays one dims join + one broadcast supplier join.
    // Round-15 A/B (measured NON-WIN, kept as-is): reordering so the dims
    // join rides the bare lineitem scan made the planner BROADCAST
    // lineitem (the 10 MB sf0.1 file slips under the 64m local threshold)
    // — warm reps 1.9-2.1 s vs this shape's 1.04 s record. The driver-side
    // collect+hash-build of the 600 k-row fact side costs more than the
    // 14 MB orderkey shuffle it saves; the SMJ below is also the only
    // shape that exists at 100 TB.
    val oc = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(oc, li("l_orderkey") === col("o_orderkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("out_cnt"), revenue.as("out_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Top-3 parts per customer (SURVEY §2.5 A1 + §2.6 T2, reference
    * TopCustomerArtists): count-per-(group, member), then windowed top-K with
    * deterministic tie-break (count desc, member asc — the stable-sort
    * equivalent of the reference's insertion-ordered counter map). */
  def a1Top3PartsPerCustomer(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    // One explicit hash partitioning on o_custkey serves BOTH downstream
    // stages: HashPartitioning(custkey) satisfies the aggregate's
    // ClusteredDistribution(custkey, partkey) (subset rule) AND the top-K
    // window's partitionBy(custkey) — so EnsureRequirements inserts no
    // further Exchange for either. (The planner still emits the usual
    // partial+final HashAggregate pair; the saving is the elided shuffle,
    // not the partial phase.)
    val counted = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
    topKPerGroup(counted, Seq("o_custkey"), Seq(col("cnt").desc, col("l_partkey").asc), 3)
      .select(col("o_custkey"), col("l_partkey"), col("cnt"), col("rank"))
      .orderBy(col("o_custkey"), col("rank"))
  }

  /** a1's top-3 via the custom bounded AGGREGATE
    * ([[graft.functions.TopKByCount]]) instead of the window: partial
    * buffers carry at most O(k) candidates per group per map task, so the
    * top-K shuffle moves k·tasks rows instead of the full member
    * distribution — the form that survives a group whose member count is
    * the corpus. Must hash-match a1's window formulation exactly
    * (including (cnt desc, key asc) ties) — the oracle is the same SQL. */
  def a11TopkAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    // a1's single-exchange idiom: HashPartitioning(custkey) satisfies the
    // count aggregate's (custkey, partkey) clustering by the subset rule
    // AND the top-k aggregate's custkey clustering — one shuffle for both
    val counted = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
    counted
      .groupBy(col("o_custkey"))
      .agg(graft.functions.AggregateFunctions.top_k_by_count(
        struct(col("cnt"), col("l_partkey")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.l_partkey").as("l_partkey"),
        col("col.cnt").as("cnt"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("o_custkey"), col("rank"))
  }

  /** Fuzzy entity matching over the part-name dictionary — the blocked
    * edit-distance join of entity resolution: DEDUPE first (the distinct
    * aggregate collapses row cardinality to vocabulary size, so the match
    * runs on the dictionary, never the fact table), BLOCK on the first
    * token (pair work is bounded per block, never all-pairs), VERIFY with
    * exact Levenshtein ≤ 3 (identical integer semantics on both engines).
    * Row counts ride along so the match result still says how much fact
    * data each fuzzy cluster touches. */
  def x7FuzzyMatch(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.fuzzyMatchNames(
      Tables.part(s, d).groupBy(col("p_name")).agg(count(lit(1)).as("n_parts")),
      "p_name", "n_parts", maxDist = 3)
      .select(col("name1"), col("name2"), col("dist"),
        col("n1").as("parts1"), col("n2").as("parts2"))
      .orderBy(col("name1"), col("name2"))

  /** Top-3 part types per supplier nation (SURVEY §2.5 A5 + §2.4 J9/J10,
    * reference TopSellingGenreByVenue). */
  def a5Top3TypesPerNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val sup = Tables.supplier(s, d)
    val counted = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_nationkey"), col("p_type"))
      .agg(count(lit(1)).as("cnt"))
    topKPerGroup(counted, Seq("s_nationkey"), Seq(col("cnt").desc, col("p_type").asc), 3)
      .select(col("s_nationkey"), col("p_type"), col("cnt"), col("rank"))
      .orderBy(col("s_nationkey"), col("rank"))
  }

  /** Capacity ledger (SURVEY §2.5 A2, reference PurchaseEventTicket):
    * first 5 events per user CONFIRMED, the rest REJECTED, remaining runs
    * negative — batch window form; streaming form in graft.streaming. */
  def a2CapacityLedger(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", col("ts"))
    capacityLedger(ev, "user_id", Seq(col("ts_us").asc, col("event_id").asc), lit(5))
      .select(col("user_id"), col("event_id"), col("seq"), col("status"), col("remaining"))
      .orderBy(col("user_id"), col("seq"))
  }

  /** Global top-K (SURVEY §2.6): top-10 customers by lifetime order value.
    * TakeOrderedAndProject — no global sort materializes. */
  def t2Top10Customers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("rev"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("rev").desc, col("o_custkey").asc)
      .limit(10)

  /** Distinct-cardinality aggregate (beyond the reference, which counts
    * only rows): exact distinct users per event type. At 100 TB switch to
    * approx_count_distinct (HLL) — exact distinct is a full shuffle of the
    * distinct pairs; both forms share this plan shape. */
  def a6DistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** As-of enrichment (beyond the reference; the general form of its
    * temporal stream⋈table joins): each click event picks up the latest
    * at-or-before view event of the same user. One shuffle + one sort via
    * [[Relational.asofJoin]]'s union-tag-window plan. Views are
    * pre-deduped per (user, instant) — as-of ties are otherwise
    * nondeterministic in any engine (DuckDB's native ASOF JOIN included). */
  def s3AsofEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("view_event_id"))
      .select(col("user_id"), col("ts_us"), col("view_event_id"),
        col("ts_us").as("view_ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    asofJoin(clicks, views, Seq("user_id"), "ts_us", "ts_us",
      Seq("view_event_id", "view_ts_us"))
      .withColumn("lag_us", col("ts_us") - col("view_ts_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Forward as-of: each click enriched with the NEXT view at-or-after it
    * ("what did this click lead to") — the mirror direction of s3, same
    * union-tag-window plan with time descending. */
  def s5AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("view_event_id"))
      .select(col("user_id"), col("ts_us"), col("view_event_id"),
        col("ts_us").as("view_ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    asofJoin(clicks, views, Seq("user_id"), "ts_us", "ts_us",
      Seq("view_event_id", "view_ts_us"), direction = "forward")
      .withColumn("lead_us", col("view_ts_us") - col("ts_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Bounded range join (beyond the reference): same-user event pairs within
    * one hour, counted per user. The banded-bucket equi-join plan of
    * [[Relational.intervalSelfJoin]] — never a per-key cross product. */
  def s4RangePairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts").as("ts_us"))
    intervalSelfJoin(e, Seq("user_id"), "event_id", "ts_us", 3600000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Gap sessionization (beyond the reference; batch twin of streaming
    * session windows): 4-hour-gap sessions per user, one summary row per
    * session. */
  def w2Sessionize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts").as("ts_us"),
        col("value"))
    sessionize(e, Seq("user_id"), "ts_us",
      Seq(col("ts_us").asc, col("event_id").asc), 14400000000L)
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Hierarchical rollup (beyond the reference: grouping sets): revenue at
    * (region, nation), (region) and grand-total levels.
    *
    * Plan: the fact rows are FIRST collapsed to one exact-decimal partial
    * per (region, nation) — 25 rows — and the rollup's grouping-set
    * Expand runs on those partials, not the fact table. A naive
    * `.rollup` over the joined facts expands every fact row once per
    * grouping set (3× the shuffle volume at any scale); because the
    * revenue partial is an exact decimal sum (associative — the whole
    * point of the dec() contract) and n_items a count, re-aggregating
    * partials is value-identical to the single-stage rollup, and the
    * final cast-to-double sees the same exact decimal total. At 100 TB
    * the pre-aggregation is the difference between Expand seeing ~25
    * rows and Expand tripling the fact shuffle. */
  def r1RollupRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    // dims-first (jMultiwayRevenue's shape): one fact-side join against
    // the collapsed (o_orderkey, r_name, n_name) frame; the fact⋈dims
    // join is merge-pinned for the same reason as jMultiwayRevenue's
    // (the planner otherwise broadcasts the fact table at bench scale —
    // see the A/B note there)
    val dims = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"), col("n_name"))
    li.hint("merge").join(dims, li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("__rev"),
        count(lit(1)).as("__n"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("int").as("gid"),
        sum(col("__rev")).cast("double").as("revenue"),
        sum(col("__n")).as("n_items"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("revenue"), col("n_items"))
      .orderBy(col("gid"), col("region_name"), col("nation_name"))
  }

  /** Cube (the rollup's sibling: ALL grouping-set combinations — here
    * (type,status), (type), (status), ()). Same single-pass expansion
    * inside one aggregate. */
  def r2CubeOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("rev"))
      .select(col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("rev"))
      .orderBy(col("gid"), col("status"), col("priority"))

  /** Anti join (beyond the reference's join surface): customers with no
    * order since 1997-07-01. The filter on the right side is pushed to the
    * orders scan; the anti join itself broadcasts the distinct keys when
    * small, shuffles otherwise. */
  def j2AntiCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Semi join: market-segment sizes counting only customers with ≥1 order
    * since 1997-01-01 — existence check without join fan-out (a plain inner
    * join would duplicate customers per matching order). */
  def j3SemiSegment(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** JSON field extraction (SURVEY §2.8 serde surface on testdata: the
    * reference's JsonSerde boundary as a column expression): pull a typed
    * field out of the free-form `props` JSON and aggregate it. */
  def x1JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Approximate distinct (the 100 TB path a6's scaladoc points at): HLL
    * sketch per group. The raw estimate is engine-specific (DuckDB can't
    * reproduce Spark's HLL++), so the gated output carries the exact
    * distinct count plus `approx_ok` — a 5%-relative-error assertion on
    * the sketch — which the oracle pins to literal TRUE. A drifting
    * estimate flips the boolean and fails the hash, so the sketch is
    * genuinely gated, not just row-counted. The sketch is a Datasketches
    * HLL at lgConfigK=14 (the a13/a14 family): RSE ≈ 0.8%, so the 5%
    * gate sits past 6σ — an assertion on an estimator must budget its σ;
    * the DEFAULT-sized sketch at rsd 0.05 makes a 5% gate a ~1σ coin
    * flip that in fact failed at sf0.1. Estimator choice is ALSO a plan
    * cost finding (round 9, measured): Spark's HLL++ at rsd=0.01 embeds
    * a DENSE 16 k-register buffer in every aggregation row and benched
    * at a stable 1.49 s; the Datasketches sketch is sparse until it
    * earns density (and exact below ~k distinct), same σ budget,
    * 0.32 s — identical output, 4.7× cheaper. Still O(kB) per group at
    * any corpus size, mergeable partial+final.
    *
    * Plan shape: a distinct aggregate NEXT TO other aggregates would plan
    * an Expand (every event row duplicated per aggregate branch) with the
    * 16 k-register HLL updated once per expanded row. Pre-aggregating on
    * (event_type, user_id) instead collapses map-side first, makes the
    * exact distinct a plain count, and feeds the HLL only distinct pairs —
    * identical estimate (HLL registers are insensitive to duplicates), one
    * shuffle, no Expand. Measured 2.46 s → 1.17 s at sf0.1. */
  def a8ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_users"),
        sum(col("__n")).as("n_events"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14)))
          .as("approx_users"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05).as("approx_ok"))
      .orderBy(col("event_type"))

  /** Funnel / event-sequence analytics — the ORDERED-step family the
    * windowed rollups don't cover: per user, the first 'view' and the
    * first 'click' AT OR AFTER it (a click before any view is not a
    * conversion — the ordering constraint is the whole operator), with the
    * conversion gap in integer micros. Two bounded aggregates + one
    * user-keyed join: each step collapses to one row per user BEFORE
    * joining, so nothing is ever events×events; at 100 TB both aggregates
    * partial map-side and the join is co-partitioned on user_id.
    * Unconverted users keep their row with gap −1 (keep-the-row; −1 keeps
    * the column integer on both engines). */
  def x8Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view"))
    val conv = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"))
      .join(views, Seq("user_id"))
      .filter(col("ts_us") >= col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_click"))
    views
      .join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view"),
        col("first_click").isNotNull.as("converted"),
        coalesce(col("first_click") - col("first_view"), lit(-1L)).as("gap_us"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention — x8's sibling analytics family: users cohort by
    * FIRST-event day, and each cohort's distinct actives are counted per
    * week offset (0–3) from that day, with the retention ratio against
    * cohort size. All integer micros→day→week math (hash-exact on both
    * engines); the per-user first-event aggregate collapses before the
    * activity join, so the join is one row per (event, user-first) on
    * user_id — never events×events; the final distinct count partials
    * map-side per (cohort, week). */
  def x9Retention(s: SparkSession, d: String): DataFrame =
    retentionFrom(Tables.events(s, d).withColumn("ts_us", col("ts")))

  /** [[x9Retention]]'s aggregation over a caller-supplied (user_id, ts_us)
    * frame — shared with the streaming twin's spec, which must compare the
    * incremental result against exactly this batch logic on the same fed
    * prefix. */
  def retentionFrom(ev: DataFrame): DataFrame = {
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"))
      .withColumn("cohort_day", expr("first_us div 86400000000"))
    val cohortSize = first.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    val activity = ev.select(col("user_id"), col("ts_us"))
      .join(first, Seq("user_id"))
      .withColumn("wk", expr("((ts_us div 86400000000) - cohort_day) div 7"))
      .filter(col("wk") <= 3)
      .groupBy(col("cohort_day"), col("wk"))
      .agg(count_distinct(col("user_id")).as("active_users"))
    activity
      .join(cohortSize, Seq("cohort_day"))
      .select(col("cohort_day"), col("wk"), col("active_users"), col("cohort_size"),
        graft.operators.Relational.round4(
          col("active_users").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_day"), col("wk"))
  }

  /** Per-group OLS trend line (x10) — the regression staple of an
    * analytics engine, computed the DISTRIBUTED way: one mergeable
    * aggregate pass collecting the five classical sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²), then slope/intercept/r² derived on the
    * 5-row result. The statistics are EXACT integers — x is the day
    * index from a fixed reference day (2024-01-01 = epoch day 19723,
    * keeping x² sums far from overflow at any corpus size; an epoch-µs x
    * would overflow Σx² immediately), y is exact cents via the
    * decimal(18,2) cast (events.value is 2-dp by contract) — so partial
    * aggregation order cannot perturb them, and the closed-form doubles
    * are computed from identical exact inputs with identically-shaped
    * IEEE expressions on both engines: the gate is hash-equal, no
    * tolerance. At 100 TB this is ONE map-side-combining aggregate,
    * shuffling six longs per (group, task) — the moment-sketch property
    * that makes sufficient-statistic models (OLS, variance, covariance,
    * Welford-family) trivially scalable where row-wise solvers are not. */
  def x10GroupRegression(s: SparkSession, d: String): DataFrame =
    regressionFrom(Tables.events(s, d).select(
      col("event_type"),
      (expr("ts div 86400000000") - lit(19723L)).as("x"),
      (dec(col("value")) * lit(100)).cast("long").as("yc")))

  /** The six sufficient statistics alone — shared with the streaming
    * twin's spec, which pins its running state against exactly this
    * batch aggregate on every fed prefix. */
  def regressionSuffStats(e: DataFrame): DataFrame =
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yc")).as("syc"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("yc")).as("sxy"),
        sum(col("yc") * col("yc")).as("syy"))

  /** [[x10GroupRegression]]'s statistics + closed form over a
    * caller-supplied (event_type, x: long, yc: long cents) frame —
    * shared with the spec, which feeds a perfect line and pins EXACT
    * slope/intercept/r² recovery (the sufficient statistics are integer,
    * so a representable-slope line survives the double closed form
    * bit-exactly). */
  def regressionFrom(e: DataFrame): DataFrame = {
    regressionSuffStats(e)
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("syc"))
      .withColumn("denx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", col("n") * col("syy") - col("syc") * col("syc"))
      .withColumn("slope", when(col("denx") =!= 0,
        col("num").cast("double") / col("denx").cast("double") / lit(100.0)))
      .select(col("event_type"), col("n"), col("sx").as("sum_x"),
        (col("syc").cast("double") / lit(100.0)).as("sum_y"),
        col("slope"),
        ((col("syc").cast("double") / lit(100.0)
          - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"),
        when(col("denx") =!= 0 && col("deny") =!= 0,
          (col("num").cast("double") * col("num").cast("double"))
            / (col("denx").cast("double") * col("deny").cast("double"))).as("r2"))
      .orderBy(col("event_type"))
  }

  /** Entity-graph PageRank (x11) — graph centrality in the shape it
    * actually takes at 100 TB: the heavy pass is a FACT-scale aggregation
    * (every lineitem, via orders→customer and supplier, becomes one unit
    * of customer-nation → supplier-nation trade flow; shuffles once on the
    * join keys, partial-aggregates map-side into ≤ |V|² weighted edges),
    * and [[graft.operators.Graph.pagerankInt]]'s iterations then run on
    * the aggregated ENTITY edge list only — never re-touching facts. Ranks
    * are fixed-point longs (scale 1e9, damping 85/100, 5 rounds, floor
    * division), so the whole iterative computation is integer-exact and
    * the oracle replays it CTE-by-CTE to the same bits: hash-equal, no
    * tolerance — the same determinism discipline as the Lloyd chains,
    * extended to the graph family beyond d6's connected components. */
  def x11Pagerank(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.nation(s, d).select(col("n_nationkey").as("id"))
    graft.operators.Graph.pagerankInt(tradeFlowEdges(s, d), nodes, iters = 5)
      .join(Tables.nation(s, d), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("pr"))
      .orderBy(col("pr").desc, col("n_name"))
  }

  /** The customer-nation → supplier-nation trade-flow edge aggregation
    * shared by the graph gates (x11 PageRank, x17 BFS): every lineitem
    * becomes one unit of flow via orders→customer and supplier, shuffled
    * once on the join keys and partial-aggregated map-side into ≤ |V|²
    * weighted edges — the fact-scale pass the iterative algorithms then
    * never re-touch. Memoized per (session, dataset) under the
    * [[SessionMemo]] contract like the [[Dedup]]/[[Models]] fixtures: the
    * aggregation is fully deterministic (integer counts on equi-join
    * keys), x11 and x17 consume the SAME entity edge list by definition,
    * and at 100 TB this materialize-the-entity-graph-once step is exactly
    * how the fact pass amortizes across every downstream graph algorithm.
    * Oracles are unaffected — DuckDB replays the 4-way join per gate. */
  private def tradeFlowEdges(s: SparkSession, d: String): DataFrame =
    SessionMemo.memo(s, d, "rel:tradeflow") {
      materialize(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w")))
    }

  /** Single-source BFS levels over the trade graph (x17,
    * [[graft.operators.Graph.bfsLevels]]): keep only ABOVE-AVERAGE trade
    * edges (an exact long-vs-double compare, identical on both engines —
    * the dense nation graph needs thinning for BFS to have structure),
    * then 6 min-relaxation rounds from nation 0. Unreached nations keep a
    * null level — the honest answer under a fixed round budget. The
    * oracle replays the reachability as a recursive CTE capped at the
    * same depth; levels are exact integers, hash-equal. */
  def x17BfsLevels(s: SparkSession, d: String): DataFrame = {
    val all = tradeFlowEdges(s, d)
    val aw = all.agg(avg(col("w")).as("aw"))
    val edges = all.crossJoin(broadcast(aw))
      .filter(col("w").cast("double") > col("aw"))
      .select(col("src"), col("dst"))
    val nodes = Tables.nation(s, d).select(col("n_nationkey").as("id"))
    graft.operators.Graph.bfsLevels(edges, nodes, src = 0L, iters = 6)
      .join(Tables.nation(s, d), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("lvl"))
      .orderBy(col("n_name"))
  }

  /** CDC merge-apply gate (x16, [[graft.operators.Relational.cdcApply]]):
    * the customer snapshot under the events changelog — user_id keys an
    * acctbal overwrite ('error' events are tombstones), latest change per
    * key wins by (ts, event_id). Exercises all three MERGE outcomes on
    * real overlap: user_ids 1-149 update existing customers, user_id 0
    * inserts a new key, 'error'-last keys delete. The provenance column
    * makes each row's path part of the gate. */
  def x16CdcApply(s: SparkSession, d: String): DataFrame = {
    val snapshot = Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("val"))
    val changes = Tables.events(s, d).select(
      col("user_id").as("key"),
      col("ts").as("seq"),
      col("event_id").as("seq2"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      col("value").as("newval"))
    graft.operators.Relational.cdcApply(snapshot, changes)
      .orderBy(col("key"))
  }

  /** The x12/x15 point cloud: 32-bit md5-prefix hash of a key, mod 64 —
    * uniform at every scale factor, replayed bit-for-bit by the oracle. */
  private def hashCoord64(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 64

  /** lineitem as a 64×64 hashed point cloud with its Morton key. */
  private[queries] def mortonPoints(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MortonInterleave.morton_interleave
    Tables.lineitem(s, d).select(
        hashCoord64(col("l_partkey")).as("px"),
        hashCoord64(col("l_suppkey")).as("sx"))
      .withColumn("z", morton_interleave(col("px"), col("sx")))
  }

  /** Session-memoized cell histogram of the x12/x15 point cloud — the
    * write-time stats frame both layout gates derive from. The 64×64
    * hashed domain is bounded BY CONSTRUCTION, so this is ≤4096 rows at
    * any scale factor, built by ONE map-side-combining corpus pass and
    * shared across the session like the dedup/edge fixtures (bench
    * accounting flagged per-row in BENCH_SUMMARY; each oracle still
    * replays its full chain from parquet). */
  private[queries] def mortonHist(s: SparkSession, d: String): DataFrame =
    SessionMemo.memo(s, d, "mortonHist") {
      materialize(mortonHistBuild(s, d))
    }

  /** The histogram build EXPRESSION the fixture checkpoints — the only
    * plan in the x12/x15 family that sees corpus-sized data. Exposed
    * separately so `PlanShapeSpec` pins the PRODUCTION plan (scan →
    * partial agg → exchange → final agg, no Sort, no single-partition
    * stage), not a reconstruction that could drift from it. */
  private[queries] def mortonHistBuild(s: SparkSession, d: String): DataFrame =
    mortonPoints(s, d)
      .groupBy(col("px"), col("sx"), col("z"))
      .agg(count(lit(1)).as("cnt"))

  /** Z-order data layout (x12) — the storage-layout operator behind
    * multi-dimensional scan pruning: cluster rows by
    * [[graft.functions.MortonInterleave]] and a 2-D range predicate maps
    * to ONE contiguous z-interval that per-file min/max statistics can
    * prune, where either single-column sort order scatters the other
    * dimension across every file. The gate pins the two properties that
    * make the technique sound, on exact counts:
    *   - monotonicity ⇒ for ANY rectangle, the z-interval
    *     [morton(xlo,ylo), morton(xhi,yhi)] is a SUPERSET of the
    *     rectangle (pruning never loses rows) — `superset_ok`;
    *   - for a power-of-two ALIGNED square the interval is EXACT (zero
    *     false positives) — the aligned row's `exact_ok`, efficiency 1.
    * Coordinates are the repo's 32-bit md5-prefix hash of part/supp keys
    * mod 64, so the point cloud is uniform at every scale factor and the
    * oracle replays it bit-for-bit; the per-bit interleave definition in
    * SQL cross-checks the mask-spread codegen implementation. One scan,
    * a 2-row broadcast of rectangle specs, conditional-sum aggregates —
    * nothing above cardinality 2 leaves the mappers. */
  def x12ZorderLayout(s: SparkSession, d: String): DataFrame =
    x12FromHist(mortonHist(s, d))

  /** [[x12ZorderLayout]]'s aggregate over a caller-supplied cell
    * histogram — factored out so the empty-corpus contract (zero counts,
    * booleans true, efficiency null) is pinnable without a dataset
    * (`LayoutSpec`). */
  private[queries] def x12FromHist(hist: DataFrame): DataFrame = {
    import graft.functions.MortonInterleave.morton_interleave
    // cnt-weighted conditional sums over the shared ≤4096-cell histogram
    // ([[mortonHist]] — every row of a cell shares (px, sx, z), so
    // cell-weighted sums equal the old per-row corpus-pass counts); the
    // z-range bounds are the morton expression over literal corners,
    // evaluated in-plan so the Scala side never re-implements the bit
    // interleave
    val rects = Seq(
      ("aligned_quadrant", 16L, 31L, 16L, 31L, true),
      ("unaligned_rect", 5L, 40L, 9L, 50L, false))
    // coalesce(sum, 0): on an EMPTY point cloud the groupless aggregate
    // still emits one row, and null counts would poison superset_ok /
    // exact_ok — zero counts keep the row well-typed; efficiency is
    // explicitly guarded to null (honestly undefined on no data) because
    // under ANSI (Spark 4's default) a bare 0/0 division THROWS rather
    // than nulling
    val aggs = rects.zipWithIndex.flatMap { case ((_, xlo, xhi, ylo, yhi, _), i) =>
      Seq(
        coalesce(sum(when(col("px").between(xlo, xhi) && col("sx").between(ylo, yhi),
          col("cnt")).otherwise(0L)), lit(0L)).as(s"__r$i"),
        coalesce(sum(when(col("z").between(
            morton_interleave(lit(xlo), lit(ylo)),
            morton_interleave(lit(xhi), lit(yhi))), col("cnt")).otherwise(0L)), lit(0L))
          .as(s"__z$i"))
    }
    val stackArgs = rects.zipWithIndex.map { case ((name, _, _, _, _, al), i) =>
      s"'$name', $al, __r$i, __z$i"
    }.mkString(", ")
    hist.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${rects.size}, $stackArgs)")
        .as(Seq("rect", "aligned", "n_rect", "n_zrange")))
      .select(col("rect"), col("n_rect"), col("n_zrange"),
        (col("n_rect") <= col("n_zrange")).as("superset_ok"),
        (!col("aligned") || (col("n_rect") === col("n_zrange"))).as("exact_ok"),
        graft.operators.Relational.round4(when(col("n_zrange") > 0,
          col("n_rect").cast("double") / col("n_zrange"))).as("efficiency"))
      .orderBy(col("rect"))
  }

  /** Markov transition matrix (x13) — the user-journey model behind
    * next-event prediction and anomaly scoring: per user, events ordered
    * by (ts, event_id) form a path; every adjacent (state → next-state)
    * pair is one transition, and the row-normalized counts are the
    * first-order Markov estimate P(dst | src). The sequencing step is
    * ONE user-keyed window (the unavoidable shuffle — per-user order is
    * the operator's semantics); from there everything collapses:
    * transitions aggregate map-side to ≤ |types|² rows, and the per-src
    * totals join runs on that tiny frame, never on events. The (ts,
    * event_id) tie-break makes same-timestamp paths engine-deterministic,
    * so the gate is hash-exact with probabilities through the repo's
    * round4 contract. */
  def x13MarkovTransitions(s: SparkSession, d: String): DataFrame =
    markovFrom(Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("ts_us")))

  /** [[x13MarkovTransitions]]'s core over a caller-supplied (user_id,
    * event_id, event_type, ts_us) frame — shared with the hand-computed
    * path spec. */
  def markovFrom(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val tr = ev
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("src"), col("__next").as("dst"))
      .agg(count(lit(1)).as("n_trans"))
    val tot = tr.groupBy(col("src")).agg(sum(col("n_trans")).as("n_src"))
    tr.join(tot, Seq("src"))
      .select(col("src"), col("dst"), col("n_trans"), col("n_src"),
        round4(col("n_trans").cast("double") / col("n_src")).as("prob"))
      .orderBy(col("src"), col("dst"))
  }

  /** Zone-map pruning (x15) — x12's layout claim made MEASURABLE: lay the
    * same point cloud out two ways (64 "files" each — ntile over the
    * Morton key vs over the single-column (px, sx) sort), keep each
    * file's per-column min/max zone maps, and count what a 2-D range
    * predicate must scan under the standard overlap test. The z-order
    * layout keeps BOTH columns' zone maps tight (each z-contiguous file
    * is a small quad of the plane), so both predicate columns prune; the
    * single-column sort gives one tight column and one full-range column,
    * so only the leading column ever prunes. The measurement is HONEST,
    * like e19's geometry dial: on the selective aligned quadrant (6 % of
    * the plane) z-order touches 8/64 files to single-col's 18; on the
    * 60 %-coverage unaligned rect z-order touches 42 to single-col's 38 —
    * a low-selectivity predicate gets little from any layout, and the
    * leading-column sort's one tight column can even edge ahead. Both
    * rows are gated exactly; the numbers ARE the finding. The gate also
    * pins, per (layout, rect): rows scanned, matching rows, and the
    * soundness boolean — NO matching row lives in a pruned file (the
    * property that makes data skipping a correctness-preserving
    * optimization). The exact-ntile bucketing stands in for the
    * write-time range partitioner: at scale this is
    * `repartitionByRange(N, z)` when writing parquet, with the zone maps
    * coming free as parquet footer min/max stats; the read side is then
    * exactly this overlap test, applied by the scan before any row is
    * read. */
  def x15ZonemapPrune(s: SparkSession, d: String): DataFrame = {
    val nb = 64
    // The corpus is touched EXACTLY ONCE: the coordinate domain is
    // bounded BY CONSTRUCTION (hashCoord64 is mod-64, so the plane has
    // ≤4096 occupied cells at ANY scale factor), so one map-side-
    // combining aggregate collapses the point cloud to its cell
    // histogram and BOTH layouts' exact-ntile bucketings become
    // arithmetic over cumulative cell counts on that ≤4096-row frame
    // (Layout.histNtileBuckets — multiset-identical to the
    // ntile-over-global-sort formulation, pinned by LayoutSpec). This
    // replaces rounds 5-8's two concurrent single-partition ntile sorts
    // of the full point cloud — the one scale-weak plan in the repo
    // (ONE task per layout sorting the corpus): now nothing downstream
    // of the scan grows with data size, and the only shuffle is the
    // ≤4096-key partial-count exchange. Unbounded sort domains would
    // route to Layout.rangeNtile (repartitionByRange + prefix offsets,
    // also spec-pinned) — x15 never needs it because its boundedness is
    // structural, not data-dependent. Equal sort keys can't occur in
    // the histogram (z is a bijection of (px, sx), so each layout's
    // sort key is unique per cell), making the window order total.
    val hist = mortonHist(s, d) // shared session fixture, ≤4096 rows
    def layoutOf(tag: String, sortCols: Seq[Column]): DataFrame =
      graft.operators.Layout.histNtileBuckets(hist, nb, sortCols)
        .select(lit(tag).as("layout"), col("bucket"), col("px"), col("sx"),
          col("cnt_in_bucket"))
    val layouts = layoutOf("zorder", Seq(col("z")))
      .union(layoutOf("single_col", Seq(col("px"), col("sx"))))
    x15FromLayouts(layouts)
  }

  /** [[x15ZonemapPrune]]'s zone-map tail over a caller-supplied layouts
    * frame `(layout, bucket, px, sx, cnt_in_bucket)` — factored out (the
    * [[x12FromHist]] move) so `LayoutSpec`'s end-to-end twin drives THIS
    * tail with only the layout stage swapped for the window-ntile
    * reference (per-row layouts pass `cnt_in_bucket = 1`), instead of a
    * hand-copied reconstruction that could drift from the gate. */
  private[queries] def x15FromLayouts(layouts: DataFrame): DataFrame = {
    // zone maps are WRITE-TIME stats — per file, once, predicate-free
    // (parquet footer min/max at real scale). Computing them per rect
    // (the old crossJoin(rects) shape) re-scanned every row once per
    // predicate, which both doubled the aggregation input here and
    // misrepresented the operator: the per-rect ground-truth match counts
    // ride the SAME single pass as conditional sums, and the 2-rows-per-
    // bucket rect dimension unfolds afterwards by a scan-stage stack over
    // the 128-row zone-map frame. Values are algebraically unchanged —
    // per-row counts become cnt_in_bucket-weighted cell sums (every row
    // of a cell shares its (px, sx), so min/max/count/match aggregates
    // over cells equal the same aggregates over rows).
    val rects = Seq(
      ("aligned_quadrant", 16L, 31L, 16L, 31L),
      ("unaligned_rect", 5L, 40L, 9L, 50L))
    val matchCols = rects.zipWithIndex.map { case ((_, xlo, xhi, ylo, yhi), i) =>
      sum(when(col("px").between(xlo, xhi) && col("sx").between(ylo, yhi),
        col("cnt_in_bucket")).otherwise(0L)).as(s"__m$i")
    }
    val stackArgs = rects.zipWithIndex.map { case ((name, xlo, xhi, ylo, yhi), i) =>
      s"'$name', ${xlo}L, ${xhi}L, ${ylo}L, ${yhi}L, __m$i"
    }.mkString(", ")
    val perBucket = layouts
      .groupBy(col("layout"), col("bucket"))
      .agg(min(col("px")).as("min_px"),
        (Seq(max(col("px")).as("max_px"),
          min(col("sx")).as("min_sx"), max(col("sx")).as("max_sx"),
          sum(col("cnt_in_bucket")).as("n_rows")) ++ matchCols): _*)
      .select(col("layout"), col("bucket"), col("min_px"), col("max_px"),
        col("min_sx"), col("max_sx"), col("n_rows"),
        expr(s"stack(${rects.size}, $stackArgs)")
          .as(Seq("rect", "xlo", "xhi", "ylo", "yhi", "n_match")))
      .withColumn("touched",
        col("max_px") >= col("xlo") && col("min_px") <= col("xhi") &&
          col("max_sx") >= col("ylo") && col("min_sx") <= col("yhi"))
    perBucket.groupBy(col("layout"), col("rect"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("touched"), 1L).otherwise(0L)).as("files_touched"),
        sum(when(col("touched"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("n_match"),
        (sum(when(!col("touched"), col("n_match")).otherwise(0L)) === 0L)
          .as("sound_ok"))
      .orderBy(col("layout"), col("rect"))
  }

  /** Triangle census of the co-purchase graph (x14) — graph-structure
    * analytics over a FACT-derived graph: parts are linked when the same
    * order contains both at least twice corpus-wide (the ≥ 2 co-occurrence
    * threshold keeps signal edges and drops the incidental-basket noise
    * that would densify the graph quadratically), then
    * [[graft.operators.Graph.triangleStats]] counts exact triangles under
    * degree-ordered orientation. The edge build is keyed on the basket id
    * — per-basket fan-out is the (small, bounded) basket size, never the
    * corpus — and collapses to the thresholded edge list before any graph
    * work; the triangle join's per-key fan-out is then bounded by √(2m)
    * out-degrees. Every output number is an exact integer except the
    * clustering coefficient, which goes through round4. */
  def x14Triangles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
    // basket-array pair generation: ONE basket-keyed shuffle collects each
    // order's parts, and the ordered value pairs form in the scan stage
    // (x < y over the array — same multiset as the previous fact self-join,
    // which scanned lineitem twice and built a fact-sized hash side); the
    // per-basket O(n²) is bounded by basket size, never the corpus
    val pairs = li.groupBy(col("ok"))
      .agg(collect_list(col("l_partkey")).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, x -> transform(filter(ps, y -> x < y)," +
          " y -> named_struct('u', x, 'v', y))))")).as("p"))
    val edges = pairs
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
    graft.operators.Graph.triangleStats(edges)
  }

  /** HLL sketch MERGEABILITY as a gate — the property that makes
    * distinct-counting shardable at 100 TB, stated HONESTLY: a sharded
    * computation (per-shard DataSketches HLL sketches, unioned) must
    * estimate within the sketch's error bound for ANY sharding — here
    * both a 4-way and an 8-way user-hash sharding — alongside the
    * single-pass estimate. The oracle pins the booleans and the exact
    * twin (the estimates themselves are engine-specific).
    *
    * Why not pin merged == single-pass exactly (this gate's first, WRONG,
    * formulation — it passed at sf0.01 and broke at sf0.1): DataSketches'
    * direct estimate uses the order-dependent HIP estimator, and even
    * with the estimator held fixed through the union path the merged
    * register state is NOT bit-identical to a single pass in the
    * sparse→dense transition band — measured drift at 1.5 k distinct:
    * union-of-4 = 1500, union-of-8 = 1492, single-pass = 1493, and
    * contiguous-range sharding differs from hash sharding (4944 vs 4986
    * at 5 k). Union adds its own bounded error; what a 100 TB deployment
    * actually relies on is that the bound holds REGARDLESS of how the
    * data was partitioned, which is exactly what this gate now witnesses
    * (5 % ≈ 3σ at lgK = 12; observed drift is under 1 %). */
  def a13HllMerge(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def unionEst(shards: Int): DataFrame = ev
      .withColumn("__shard", pmod(col("user_id"), lit(shards)))
      .groupBy(col("event_type"), col("__shard"))
      .agg(hll_sketch_agg(col("user_id")).as("__sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as(s"__est_$shards"))
    val whole = ev
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__est_1"))
    def ok(est: Column): Column =
      abs(est - col("exact_users")) <= col("exact_users").cast("double") * 0.05
    whole
      .join(unionEst(4), Seq("event_type"))
      .join(unionEst(8), Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        ok(col("__est_1")).as("approx_ok"),
        ok(col("__est_4")).as("merge4_ok"),
        ok(col("__est_8")).as("merge8_ok"))
      .orderBy(col("event_type"))
  }

  /** Bottom-k uniform sample per group (a15) — the DISTRIBUTED form of
    * reservoir sampling: keep the k members whose md5 hash is smallest.
    * Hash order is a fixed uniform permutation of the key space, so the
    * bottom-k IS a uniform k-sample — with none of reservoir sampling's
    * order-dependence (a sequential reservoir is irreproducible under
    * Spark's nondeterministic partition order; bottom-k is a pure
    * function of the SET). Three scale properties fall out: it runs as a
    * bounded [[graft.functions.TopKByCount]] aggregate (O(k) per partial
    * buffer, k·tasks rows shuffled — never the member stream); it is
    * MERGEABLE (bottom-k of a union = bottom-k of the merged bottom-ks,
    * the KMV sketch identity); and it is SUBSETTABLE (the bottom-5 is a
    * prefix of the bottom-10 — shrinking a sample never reshuffles it,
    * t6/t16's reproducibility contract). The hash is the repo-wide
    * 32-bit md5 prefix, so the oracle replays it exactly: this gate is
    * hash-equal, not bounded. cnt = −hash turns TopKByCount's
    * (cnt DESC, key ASC) into (hash ASC, user ASC). */
  def a15BottomkSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AggregateFunctions.top_k_by_count
    val tu = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val h = conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    tu.withColumn("__h", h)
      .groupBy(col("event_type"))
      .agg(top_k_by_count(
        struct((-col("__h")).as("cnt"), col("user_id").as("key")), 10).as("__s"))
      .select(col("event_type"), posexplode(col("__s")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("smp_rank"),
        col("col.key").as("user_id"))
      .orderBy(col("event_type"), col("smp_rank"))
  }

  /** Last-touch attribution (x18) — the marketing-analytics staple: each
    * 'purchase' credits its value to the same user's most recent PRIOR
    * non-purchase event type (the touch), then revenue rolls up per
    * channel. One window pass per user — `last(touch, ignoreNulls) OVER
    * (... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)` — is the as-of
    * self-join collapsed into a single shuffle on user_id, the same
    * key-local shape as w2's sessionize: no events×events join exists at
    * any scale. Purchases with no prior touch land in 'direct'.
    * Deterministic order: (ts, event_id) — same-timestamp touches
    * resolve by event id on both engines. Revenue is the exact decimal
    * sum (cents contract), counts exact — hash-equal. */
  def x18Attribution(s: SparkSession, d: String): DataFrame = {
    // order on µs (the normalized ts), matching DuckDB's epoch_us: the µs
    // truncation, so sub-µs precision must not decide the tie — event_id
    // does, identically on both engines
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec(col("value"))).cast("double").as("revenue"))
      .orderBy(col("channel"))
  }

  /** Equi-width histogram (a17) — the data-profiling primitive that was
    * still implicit in the family (t7/a12 give quantiles — the
    * equi-DEPTH view; this is the equi-WIDTH one a dashboard draws):
    * events.value bucketed into 20 fixed 25-wide bins (floor division —
    * identical IEEE both engines; the clamp makes outliers land in the
    * edge bins instead of minting unbounded bucket ids), counted per
    * (type, bucket), with each bucket's share of its type. Two
    * map-side-combining aggregates and one broadcast join of the 5-row
    * totals — fixed bucketing is what keeps a histogram ONE pass at
    * 100 TB, where quantile-based bucketing would need a12's sketch
    * first. */
  def a17Histogram(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("bucket",
        least(greatest(floor(col("value") / lit(25.0)), lit(0.0)), lit(19.0))
          .cast("int"))
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("total"))
    ev.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("bucket"), col("n"),
        graft.operators.Relational.round4(
          col("n").cast("double") / col("total")).as("share"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Weighted sample WITHOUT replacement per group (a16) — a15's uniform
    * bottom-k generalized to weights, via Efraimidis–Spirakis (2006): item
    * i gets key u_i^(1/w_i) with u_i uniform in (0,1); the top-k keys ARE
    * an exact weight-proportional sample without replacement (each
    * successive draw picks i with probability w_i/Σw_remaining). Here
    * u_i is the repo-wide 32-bit md5 hash mapped to ((h+0.5)/2^32), so
    * the "random" permutation is a pure function of the key set —
    * reproducible across engines, partitionings, and reruns, exactly
    * like a15/t6/t16's hash-membership contract. Comparing u^(1/w) is
    * comparing ln(u)/w (both strictly negative, larger = earlier draw);
    * the key is quantized to a long — floor(ln(u)/w · 2^32) — so the
    * ranking runs through the SAME bounded [[graft.functions.TopKByCount]]
    * aggregate as a11/a15/w4: O(k) partial buffers, k·tasks rows
    * shuffled, never the member stream. Weight = c_acctbal + 1000 (> 0
    * for the TPC-H acctbal domain [-999.99, 9999.99]); the only
    * transcendental is one ln per row, map-side, codegen'd.
    * `WeightedSampleSpec` pins equivalence with the row_number window
    * formulation and that skewed weights actually bias the sample. */
  def a16WeightedSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AggregateFunctions.top_k_by_count
    val h = conv(substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val w = col("c_acctbal") + lit(1000.0)
    val q = floor(log(u) / w * lit(4294967296.0)).cast("long")
    Tables.customer(s, d)
      .withColumn("__q", q)
      .groupBy(col("c_mktsegment"))
      .agg(top_k_by_count(
        struct(col("__q").as("cnt"), col("c_custkey").as("key")), 8).as("__s"))
      .select(col("c_mktsegment"), posexplode(col("__s")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("int").as("smp_rank"),
        col("col.key").as("c_custkey"))
      .orderBy(col("c_mktsegment"), col("smp_rank"))
  }

  /** Theta-sketch set INTERSECTION as a gate (a14) — the operation the
    * HLL family (a8/a13) cannot express: HLL registers only union, but
    * theta sketches retain an actual hash sample of the set, so
    * |A ∩ B| estimates directly (Dasgupta et al. 2016). The question —
    * "how many distinct users did BOTH event types" — is an audience-
    * overlap query that exactly (x-type ⋈ y-type on user) costs a
    * user-keyed shuffle of the full distinct set at 100 TB; sketches
    * answer it from per-type blobs that are bounded, mergeable, and
    * REUSABLE across all O(types²) pairs.
    *
    * Two sketch paths per type, a13's honesty pattern: a direct per-type
    * sketch, and a 4-way user-hash-sharded build whose shards union via
    * Spark's `theta_union_agg` — the bound must hold for ANY sharding.
    * Estimates themselves stay out of the gate (theta retained sets in
    * estimation mode are build-path-dependent); the gate pins the
    * exact twin and the bound booleans. Bound: at lgK = 12 the intersect
    * estimate's σ is ~1/√4096 of the UNION size, so the gate allows 5 % of
    * |A ∪ B| — tight at full overlap, honest when sets are disjoint-ish.
    * The pair scoring joins two ≤ types-row sketch tables — broadcast NLJ
    * of tiny frames. Sketches, unions and intersections are Spark's
    * built-in theta functions (DataSketches compact sketches). */
  def a14ThetaIntersect(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // one distinct (type, user) collapse feeds the exact twin AND both
    // sketch paths: three consumers, one events scan
    val tu = materialize(ev.select(col("event_type"), col("user_id")).distinct())
    val exact = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_both"))
    // two geometries: lgK=12 is the deployment default (exact-regime at
    // test scale — a tight 5 % band verifies the serde/merge/intersect
    // plumbing end-to-end); lgK=7 (nominal 128 < the distinct-user count
    // from sf0.01 up) forces ESTIMATION mode so the gate also witnesses a
    // sketch that genuinely approximates, under its published 3σ ≈
    // 3/√128 ≈ 26.5 % of-the-union bound
    val (lgK, smallLgK) = (12, 7)
    val direct = tu.groupBy(col("event_type"))
      .agg(theta_sketch_agg(col("user_id"), lgK).as("__sk"),
        theta_sketch_agg(col("user_id"), smallLgK).as("__sk7"),
        count(lit(1)).as("__n"))
    val sharded = tu
      .withColumn("__shard", pmod(col("user_id"), lit(4)))
      .groupBy(col("event_type"), col("__shard"))
      .agg(theta_sketch_agg(col("user_id"), lgK).as("__psk"),
        theta_sketch_agg(col("user_id"), smallLgK).as("__psk7"))
      .groupBy(col("event_type"))
      .agg(theta_union_agg(col("__psk"), lgK).as("__msk"),
        theta_union_agg(col("__psk7"), smallLgK).as("__msk7"))
    val sk = direct.join(sharded, "event_type")
    def side(sfx: String) = sk.select(
      col("event_type").as(s"type_$sfx"), col("__sk").as(s"__sk_$sfx"),
      col("__sk7").as(s"__sk7_$sfx"), col("__msk").as(s"__msk_$sfx"),
      col("__msk7").as(s"__msk7_$sfx"), col("__n").as(s"__n_$sfx"))
    def within(a: Column, b: Column, band: Column): Column =
      abs(theta_sketch_estimate(theta_intersection(a, b)) - col("exact_both")) <= band
    exact
      .join(broadcast(side("a")), "type_a")
      .join(broadcast(side("b")), "type_b")
      // |A ∪ B| = |A| + |B| − |A ∩ B|, from the exact twin columns
      .withColumn("__union",
        (col("__n_a") + col("__n_b") - col("exact_both")).cast("double"))
      .select(col("type_a"), col("type_b"), col("exact_both"),
        within(col("__sk_a"), col("__sk_b"), col("__union") * 0.05).as("direct_ok"),
        within(col("__msk_a"), col("__msk_b"), col("__union") * 0.05).as("sharded_ok"),
        (within(col("__sk7_a"), col("__sk7_b"),
          col("__union") * (3.0 / math.sqrt(1 << smallLgK))) &&
          within(col("__msk7_a"), col("__msk7_b"),
            col("__union") * (3.0 / math.sqrt(1 << smallLgK)))).as("est_regime_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Count-Min heavy hitters (the bounded-memory path a8's scaladoc family
    * completes): build a 4×64 CMS grid over per-user event counts, point-
    * estimate every user against it, and emit the top-10 by estimate with
    * the CMS lower-bound invariant (est ≥ exact) as a pinned gate column.
    * The 64-bucket width is deliberately small for ~10²-10³ keys: heavy
    * collision pressure makes `est_n` genuinely diverge from `exact_n`, so
    * the gate exercises the sketch, not a disguised exact count. See
    * [[graft.operators.Sketch]] for why construction is one mergeable
    * groupBy and the grid broadcasts at any input size. The per-user
    * aggregate feeds the grid, the probes, and the exact column, so it is
    * materialized — three consumers, one events scan, nothing
    * left pinned in the cache. */
  def a9CmsTopk(s: SparkSession, d: String): DataFrame = {
    val width = 64
    val perUser = materialize(Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")))
    val grid = graft.operators.Sketch.cmsGrid(perUser, "user_id", "n", width)
    val est = graft.operators.Sketch.cmsEstimate(
      perUser.select(col("user_id")), "user_id", grid, width)
    perUser
      .join(est, "user_id")
      .select(col("user_id"), col("n").as("exact_n"), col("est").as("est_n"),
        (col("est") >= col("n")).as("lower_ok"))
      .orderBy(col("est_n").desc, col("user_id"))
      .limit(10)
  }

  /** Bloom-filter semi-join pruning (a9's membership sibling): build a
    * 1024-bit / 4-hash bloom over BUILDING-segment customer keys, probe
    * every ordering customer against it, and emit (maybe, actual) side by
    * side. The gate pins BOTH bloom invariants per key: no false negatives
    * (actual → maybe, checked by the oracle recomputing identical bits) and
    * genuine false positives (1024 bits over ~300 keys ⇒ ~23% FP pressure
    * at sf0.01, so `maybe` is visibly NOT `actual`). At 100 TB this is the
    * shuffle-avoidance idiom: the bit set broadcasts (≤ m rows), the probe
    * is scan-stage, and fact rows with maybe = false are dropped before
    * their exchange. See [[graft.operators.Sketch.bloomMaybe]]. */
  def a10BloomPrune(s: SparkSession, d: String): DataFrame = {
    val m = 1024
    val build = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bits = graft.operators.Sketch.bloomBits(build, "c_custkey", m)
    val probe = Tables.orders(s, d).select(col("o_custkey")).distinct()
    graft.operators.Sketch.bloomMaybe(probe, "o_custkey", bits, m)
      .join(build.withColumn("__in", lit(true)),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_custkey").as("custkey"), col("maybe"),
        coalesce(col("__in"), lit(false)).as("actual"))
      .orderBy(col("custkey"))
  }

  /** Pivot (beyond the reference): per-user event-type counts as columns.
    * Explicit pivot values keep the plan single-pass (no distinct-values
    * pre-query) — the right call at scale where the domain is known. */
  def x2PivotCounts(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  /** Ordered string aggregation (listagg) — per region, the sorted
    * ','-joined nation list. collect_list is order-nondeterministic under
    * shuffles, so the explicit array_sort is what makes the output (and
    * the oracle hash) stable at ANY partitioning — the only safe way to
    * use string aggregation in a distributed plan. */
  def x6Listagg(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  /** Offset window functions (SURVEY §2.8 breadth): per-customer order
    * timeline with lag/lead neighbors, day gaps, and ntile quartiles — the
    * inter-arrival-time shape every retention/cadence analysis runs. One
    * shuffle on o_custkey serves all four window functions (same frame
    * spec). Day math is integer micros (`div 86400000000` ≡ DuckDB
    * `epoch_us // 86400000000`) — no date-cast or timezone semantics in
    * play. ntile is position-defined, so the (o_orderdate, o_orderkey)
    * tie-break makes it engine-independent. */
  def x5LeadLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_ts", lag(col("o_orderdate"), 1).over(w))
      .withColumn("next_ts", lead(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        expr("""(unix_micros(cast(o_orderdate as timestamp))
          - unix_micros(cast(prev_ts as timestamp))) div 86400000000"""))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Correlated scalar subquery (the TPC-H Q17 shape, beyond the
    * reference): revenue from small-quantity orders of one brand's parts,
    * where "small" is relative to EACH part's own average quantity. The
    * oracle states it in the natural CORRELATED form; this side is the
    * decorrelated plan Catalyst would rewrite it to — per-part averages as
    * an ordinary aggregate joined back on the correlation key — proving
    * the rewrite preserves semantics. The brand filter broadcasts; the
    * correlated average is an UNBOUNDED WINDOW over the correlation key —
    * one shuffle on l_partkey serves both the average and the comparison
    * row-by-row, with no self-join and no cached intermediate (the earlier
    * persist+join formulation scanned the semi-filtered frame twice and
    * left it pinned in the cache until an external clearCache). avg =
    * exact decimal sum / count so shuffle order cannot perturb the
    * threshold. */
  def x4SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val brandParts = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey"))
    // semi-join pre-filter BEFORE the per-part window: the correlation is
    // keyed on the part, so dropping other brands' rows first preserves
    // each surviving part's average exactly while cutting the window
    // shuffle to the brand's share of lineitem (~1/25 of the table).
    val w = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, d)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .withColumn("avg_qty",
        sum(dec(col("l_quantity"))).over(w).cast("double") / count(lit(1)).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** Moving-average window frame (beyond the reference): 7-row trailing
    * mean over the daily revenue series. The daily pre-aggregate shrinks
    * the window input to one row per day, so the global trailing window
    * runs over a CALENDAR-BOUNDED frame: one row per distinct order date
    * (~2.4 k here; a century of daily data is 36.5 k rows) regardless of
    * data volume — the aggregation upstream absorbs the 100 TB, the window
    * input cannot grow with it. The single-partition WindowExec warning is
    * therefore noise for this one query (suppressed in the Bench/Verify
    * mains only — interactive sessions keep the warning as the safety net
    * it is for any ACCIDENTALLY-global window). A year-partitioned
    * rewrite with a previous-year boundary carry was tried and REJECTED: it
    * silently diverges from the trailing-7-row semantics whenever a year
    * holds fewer than 6 daily rows or a calendar year is absent (the carry
    * only reaches one year back), which the dense test calendar would never
    * catch. Display-rounded because windowed float aggregation (segment
    * trees vs running sums) differs across engines in the last ULPs. */
  def x3MovingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("day_rev"))
    val w = Window.orderBy(col("o_orderdate")).rowsBetween(-6, 0)
    daily
      .select(col("o_orderdate"), col("day_rev"),
        round4(avg(col("day_rev")).over(w)).as("mov7"))
      .orderBy(col("o_orderdate"))
  }

  /** Hourly rollup (beyond the reference: event-time tumbling window, the
    * batch twin of the streaming windowed aggregate). Integer micro math
    * on both engines — no timestamp-precision hazard. */
  def w1HourlyRollup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("hour_bucket", expr("ts div 3600000000"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  /** Windowed trending top-k (w4) — "what's hot each hour": per hourly
    * window, the top-3 event types by count, ranked through the SAME
    * bounded [[graft.functions.TopKByCount]] aggregate a11/t20 use, so
    * the per-window ranking shuffles O(k · tasks) candidate rows instead
    * of each window's full type distribution — the trending-dashboard
    * query at 100 TB, where a window can hold billions of events but the
    * ranked answer is 3 rows. One repartition on the window key satisfies
    * both the (window, type) count and the window-keyed top-k by the
    * subset clustering rule (a11's single-exchange idiom); ties rank
    * (cnt desc, type asc), identical to the oracle's window. */
  def w4TrendingTopk(s: SparkSession, d: String): DataFrame = {
    val counted = Tables.events(s, d)
      .withColumn("hour_bucket", expr("ts div 3600000000"))
      .repartition(col("hour_bucket"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    trendingTopkFrom(counted)
  }

  /** [[w4TrendingTopk]]'s ranking over a caller-supplied
    * (hour_bucket, event_type, cnt) frame — shared with the streaming
    * twin, whose serving side re-ranks the UPDATE-mode windowed counts
    * with exactly this function (`StreamingTrendingSpec`): counts are the
    * streamed state, the top-k is derived at read, so the stream never
    * holds per-window rankings that a late count would invalidate. */
  def trendingTopkFrom(counted: DataFrame): DataFrame =
    counted
      .groupBy(col("hour_bucket"))
      .agg(graft.functions.AggregateFunctions.top_k_by_count(
        struct(col("cnt"), col("event_type")), 3).as("top"))
      .select(col("hour_bucket"), posexplode(col("top")))
      .select(col("hour_bucket"), col("col.event_type").as("event_type"),
        col("col.cnt").as("cnt"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("hour_bucket"), col("rank"))

  /** Hopping-window rollup (1 h windows sliding every 30 min — the batch
    * twin of [[graft.streaming.WindowedOps.slidingRollup]]): each event
    * lands in exactly windowLen/hop = 2 windows, made explicit by exploding
    * the two covering hop indices — integer micro math, a 2× fan-out in the
    * scan stage, then one ordinary aggregate shuffle (the same plan a
    * streaming hopping window executes per micro-batch). */
  def w3HoppingRollup(s: SparkSession, d: String): DataFrame = {
    val hopUs = 1800000000L // 30 min
    Tables.events(s, d)
      .withColumn("h", expr(s"ts div $hopUs"))
      .select(col("event_type"), col("value"),
        explode(array(col("h"), col("h") - 1)).as("win_no"))
      .groupBy(col("win_no"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select((col("win_no") * 1800000000L).as("win_start_us"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("win_start_us"), col("event_type"))
  }
}
