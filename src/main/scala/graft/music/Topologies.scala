package graft.music

import graft.operators.Relational.{capacityLedger, topKPerGroup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's nine topologies (SURVEY.md §2, §7.1), re-expressed as
  * declarative Dataset transforms. Each function is the batch/streaming-
  * agnostic core: it takes entity DataFrames (batch tables or streaming
  * frames deduped via latestByKey) and returns the result frame.
  *
  * Where the reference re-keys streams to satisfy Kafka co-partitioned
  * joins (`selectKey`, SURVEY §2.3 P3), Spark needs nothing: the join
  * condition names the columns and Catalyst plans the shuffle or broadcast.
  */
object Topologies {

  /** Per-customer artist listen counts with ordered top-K
    * (samples/TopCustomerArtists.java:57-91 + SortedCounterMap:93-130).
    *
    * The reference's counter map re-sorts on every record with a stable
    * sort, so ties keep earlier-*incremented* entries first; the batch
    * equivalent of that tie order is "first listen seen first", made
    * explicit via `first_seen` = min(arrivalCol). `arrivalCol` MUST be
    * monotone in arrival order (a Kafka offset, an ingest sequence) — the
    * default listen id is only valid where ids are assigned monotonically
    * AND compare correctly (fixed-width); variable-width string ids sort
    * lexicographically ("l10" < "l2") and would break tie order.
    * Output is an ordered array (Spark maps are unordered — SURVEY §1.4).
    */
  def topCustomerArtists(
      listens: DataFrame, k: Int = 3, arrivalCol: Column = col("id")): DataFrame = {
    val counted = listens
      .groupBy(col("customerid"), col("artistid"))
      .agg(count(lit(1)).as("cnt"), min(arrivalCol).as("first_seen"))
    topKPerGroup(counted, Seq("customerid"), Seq(col("cnt").desc, col("first_seen").asc), k)
      .groupBy(col("customerid"))
      .agg(sort_array(collect_list(struct(col("rank"), col("artistid"), col("cnt"))))
        .as("ranked"))
      .select(col("customerid").as("key"),
        transform(col("ranked"), e =>
          struct(e.getField("artistid").as("id"), e.getField("cnt").as("count")))
          .as("top"))
  }

  /** Ticket purchase confirmation against event capacity
    * (samples/PurchaseEventTicket.java:57-158): tickets joined to their
    * event, granted in arrival order until capacity runs out; REJECTED
    * afterwards, `remaining` going negative exactly like the reference's
    * golden test (PurchaseEventTicketTest.java:77-139).
    *
    * `orderCol` pins arrival order (the Kafka partition gave the reference
    * this for free; in Spark it must be an explicit column — SURVEY §7.4.2).
    * Batch form of [[graft.operators.Relational.capacityLedger]] with each
    * event's own capacity; the incremental form is
    * [[graft.streaming.StatefulOps.capacityLedger]].
    */
  def purchaseEventTicket(tickets: DataFrame, events: DataFrame, orderCol: Column): DataFrame = {
    val joined = tickets.join(events.select(col("id").as("eventid"), col("capacity")), "eventid")
    capacityLedger(joined, "eventid", Seq(orderCol), col("capacity"))
      .select(col("id").as("ticketId"), col("customerid"), col("eventid"),
        col("status").as("confirmationStatus"), col("remaining").cast("double").as("remaining"))
  }

  /** Routing of confirmations to sink topics (the 3-way branch,
    * samples/PurchaseEventTicket.java:97-158): REJECTED, low-stock
    * (≤ 20% remaining) and regular CONFIRMED. */
  def confirmationRoute(confirmations: DataFrame, events: DataFrame): DataFrame = {
    val cap = events.select(col("id").as("eventid"), col("capacity"))
    confirmations.join(cap, "eventid")
      .withColumn("remainingPct", col("remaining") / col("capacity") * 100.0)
      .withColumn("route",
        when(col("confirmationStatus") === "REJECTED", lit("rejected"))
          .when(col("remainingPct") <= 20.0, lit("confirmed-low-stock"))
          .otherwise(lit("confirmed")))
  }

  /** Top streaming artist per US state
    * (phase3/TopStreamingArtistByState.java:101-243): listens enriched with
    * artist and the listener's address, counted per (artist, state).
    * The reference's composite "artistId-state" key (and its split-at-last-
    * hyphen parse bug trap) disappears: Spark groups by both columns. */
  def artistStateCounts(listens: DataFrame, artists: DataFrame, addresses: DataFrame): DataFrame =
    listens
      .join(artists.select(col("id").as("artistid"), col("name").as("artistName")), "artistid")
      .join(addresses.select(col("customerid"), col("state")), "customerid")
      .groupBy(col("artistid"), col("state"))
      .agg(first(col("artistName")).as("artistName"), count(lit(1)).as("cnt"))

  /** ...and the per-state winner (row_number over the counts). */
  def topStreamingArtistByState(listens: DataFrame, artists: DataFrame, addresses: DataFrame): DataFrame =
    topKPerGroup(artistStateCounts(listens, artists, addresses),
      Seq("state"), Seq(col("cnt").desc, col("artistid").asc), 1)
      .drop("rank")

  /** Out-of-state ticket sales per venue (phase3/OutOfStateSales.java:75-161):
    * the 4-way pipeline tickets ⋈ customer-address ⋈ events ⋈ (venues ⋈
    * venue-address), with the state inequality as a plain filter (SURVEY
    * §2.4 note) and a count per venue. */
  def outOfStateSales(
      tickets: DataFrame, addresses: DataFrame, events: DataFrame, venues: DataFrame): DataFrame = {
    val custState = addresses.select(col("customerid"), col("state").as("customerState"))
    val venueState = venues.select(col("id").as("venueid"), col("addressid"))
      .join(addresses.select(col("id").as("addressid"), col("state").as("venueState")), "addressid")
      .select(col("venueid"), col("venueState"))
    tickets
      .join(custState, "customerid")
      .join(events.select(col("id").as("eventid"), col("venueid")), "eventid")
      .join(venueState, "venueid")
      .filter(col("venueState") =!= col("customerState"))
      .groupBy(col("venueid"))
      .agg(count(lit(1)).as("outOfStateSales"))
  }

  /** Top-selling genre per venue (phase3/TopSellingGenreByVenue.java:66-177):
    * events ⋈ artists (derived EventArtist view), tickets ⋈ that view,
    * counted per (venue, genre), ordered top-K per venue. */
  def topSellingGenreByVenue(
      tickets: DataFrame, events: DataFrame, artists: DataFrame, k: Int = 3): DataFrame = {
    val eventArtist = events.select(col("id").as("eventid"), col("venueid"), col("artistid"))
      .join(artists.select(col("id").as("artistid"), col("genre")), "artistid")
    val counted = tickets
      .join(eventArtist, "eventid")
      .groupBy(col("venueid"), col("genre"))
      .agg(count(lit(1)).as("cnt"))
    topKPerGroup(counted, Seq("venueid"), Seq(col("cnt").desc, col("genre").asc), k)
  }

  /** Listen count per customer (exercises/stateful/CustomerStreamCount.java). */
  def customerStreamCount(listens: DataFrame): DataFrame =
    listens.groupBy(col("customerid")).agg(count(lit(1)).as("streamCount"))

  /** Tickets sold per artist (exercises/stateful/ArtistTicketCount.java):
    * tickets joined through events to the artist. */
  def artistTicketCount(tickets: DataFrame, events: DataFrame): DataFrame =
    tickets
      .join(events.select(col("id").as("eventid"), col("artistid")), "eventid")
      .groupBy(col("artistid")).agg(count(lit(1)).as("ticketCount"))

  /** Customers born in the 1990s, from the merge of two customer sources
    * (exercises/stateless/TargetCustomerFilter.java:13-18; boundary
    * semantics pinned by its test: of 1989/1990/1999/2000 exactly
    * 1990 & 1999 pass). Lexicographic compare on "YYYY-MM-DD" is correct
    * and avoids a date parse. */
  def targetCustomerFilter(current: DataFrame, legacy: DataFrame): DataFrame =
    current.union(legacy)
      .filter(col("birthdt") >= "1990-01-01" && col("birthdt") <= "1999-12-31")

  /** Address stringification + routing
    * (exercises/stateless/AddressSortAndStringify.java; golden output
    * "111 1st St, Apt 2, Madison, WI 55555-1234 USA"): format, key by
    * state, MN to the priority route. */
  def addressSortAndStringify(addresses: DataFrame): DataFrame =
    addresses
      .select(col("state"),
        concat(col("line1"), lit(", "), col("line2"), lit(", "), col("citynm"),
          lit(", "), col("state"), lit(" "), col("zip5"), lit("-"), col("zip4"),
          lit(" "), col("countrycd")).as("formatted"))
      .withColumn("route", when(col("state") === "MN", lit("priority")).otherwise(lit("default")))
}
