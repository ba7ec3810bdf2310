package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.music.{CountEntry, TicketConfirmation, TopPerKey}

/** Keyed row with an explicit arrival sequence. Kafka gave the reference
  * per-partition arrival order for free; Spark's group iterator has no
  * ordering guarantee (SURVEY §4.2), so every order-sensitive stateful op
  * here takes records that carry their own sequence number and sorts each
  * micro-batch's group slice before folding it into state. */
final case class Keyed[V](key: String, seq: Long, value: V)

/** A ticket request as seen by the capacity ledger: already joined to its
  * event so it carries the capacity (stream-static join upstream). */
final case class TicketReq(
    ticketId: String, customerid: String, eventid: String,
    capacity: Int, seq: Long)

/** Running per-key state of the capacity countdown, mirroring the
  * reference's EventStatus (samples/PurchaseEventTicket.java:180-217). */
final case class LedgerState(remaining: Double, totalRequested: Double)

/** Counter-map state for ordered top-K: per member, (count, firstSeenIdx);
  * `nextIdx` reproduces the reference counter's insertion order so ties
  * sort stably (samples/TopCustomerArtists.java:108-117). Capped at
  * `maxSize` entries like the reference's SortedCounterMap(1000). */
final case class CounterState(counts: Map[String, (Long, Long)], nextIdx: Long)

/** One funnel input event (x8's streaming form). */
final case class FunnelEvent(userId: Long, eventType: String, tsUs: Long)

/** [[StatefulOps.funnelAligned]]'s state: the funnel's two longs plus the
  * watermark-bounded pending buffer of not-yet-releasable events. */
final case class FunnelBufState(
    firstView: Long, firstClick: Long, pending: Seq[FunnelEvent])

/** Per-user funnel progress; −1 = step not reached. */
final case class FunnelState(firstView: Long, firstClick: Long)

/** One retention input event (x9's streaming form). */
final case class RetentionEvent(userId: Long, tsUs: Long)

/** One regression observation (x10's streaming form): integer day-index x
  * and exact cents y, per group. */
final case class RegObs(group: String, x: Long, yc: Long)

/** Running sufficient statistics for per-group OLS — x10's six longs. */
final case class RegState(
    n: Long, sx: Long, syc: Long, sxx: Long, sxy: Long, syy: Long)

/** Per-user retention state: cohort day (−1 = unseen) + bitmask of the
  * active week offsets 0–3 relative to it. */
final case class RetentionState(firstDay: Long, weekMask: Long)

/** One Markov input event (x13's streaming form). */
final case class MarkovEvent(userId: Long, eventId: Long, eventType: String, tsUs: Long)

/** Per-user Markov chain tail: the last-seen event's (tsUs, eventId,
  * type); tsUs −1 = no event seen yet. */
final case class MarkovState(tsUs: Long, eventId: Long, lastType: String)

/** Stateful streaming operators (Structured Streaming,
  * `mapGroupsWithState`/`flatMapGroupsWithState`) — the three places the
  * reference's semantics genuinely need running state rather than a
  * declarative aggregate (SURVEY §7.3).
  *
  * All of these also run in batch mode (Spark executes the same function
  * with all data as one group), which is how the deterministic specs drive
  * them; streaming specs feed MemoryStream micro-batches.
  *
  * Scale: state lives in the Structured Streaming state store (RocksDB
  * provider in production — SURVEY §4.2); keys partition across executors
  * by hash, so state size per executor is bounded by key skew, not total
  * volume. The reference never evicts state; `GroupStateTimeout` hooks are
  * where TTL plugs in without changing default parity semantics
  * (SURVEY §7.4.6).
  */
object StatefulOps {

  /** KTable semantics over a stream: latest value per key by sequence
    * number (SURVEY §2.1 S2). Update-mode emission per key per batch. */
  def latestByKey[V](ds: Dataset[Keyed[V]])(implicit enc: Encoder[Keyed[V]]): Dataset[Keyed[V]] =
    ds.groupByKey(_.key)(Encoders.STRING)
      .mapGroupsWithState[Keyed[V], Keyed[V]](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Keyed[V]], state: GroupState[Keyed[V]]) =>
          val candidates = state.getOption.iterator ++ rows
          val latest = candidates.maxBy(_.seq)
          state.update(latest)
          latest
      }

  /** [[latestByKey]] with TTL state eviction — the 100 TB knob SURVEY
    * §7.4.6 promises: a key idle longer than `ttlMs` of processing time has
    * its state dropped (and re-learns from its next record as if new).
    * Default parity semantics (never evict) remain [[latestByKey]]; this
    * variant is for unbounded key spaces where idle state would otherwise
    * grow forever. Timeout fires on a later micro-batch after the horizon
    * passes; eviction emits nothing (a changelog tombstone would go here if
    * the sink needs retractions).
    *
    * Operational constraints (how ProcessingTimeTimeout actually runs):
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is unconditionally
    * true under this timeout mode, so the engine keeps scheduling no-data
    * batches to check the clock. Run such queries with a real trigger
    * interval (`Trigger.ProcessingTime(...)`) — the default ASAP trigger
    * busy-loops — and don't wait on `processAllAvailable` in tests: it
    * blocks forever because `noNewData` is never set while another batch is
    * always due (the spec polls the sink with a deadline instead). */
  def latestByKeyTtl[V](ds: Dataset[Keyed[V]], ttlMs: Long)(
      implicit enc: Encoder[Keyed[V]]): Dataset[Keyed[V]] =
    ds.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState[Keyed[V], Keyed[V]](
        OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout) {
        (_: String, rows: Iterator[Keyed[V]], state: GroupState[Keyed[V]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val latest = (state.getOption.iterator ++ rows).maxBy(_.seq)
            state.update(latest)
            state.setTimeoutDuration(ttlMs)
            Iterator.single(latest)
          }
      }

  /** Running count per key with per-batch update emission (SURVEY §2.5 A6;
    * the reference emits per record because its cache is disabled — a
    * micro-batch engine coarsens that to per-batch, SURVEY §7.4.1). */
  def runningCount(ds: Dataset[Keyed[String]]): Dataset[(String, Long)] = {
    implicit val tupleEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)(Encoders.STRING)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Keyed[String]], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
  }

  /** The funnel transition both [[funnel]] and [[funnelAligned]] fold:
    * first view wins; first click AT OR AFTER the first view wins (x8's
    * batch `>=` comparison). Kept in ONE place so the two operators can
    * never drift apart on the semantics. */
  private def foldFunnelEvent(st: FunnelState, e: FunnelEvent): FunnelState =
    if (e.eventType == "view" && st.firstView < 0)
      st.copy(firstView = e.tsUs)
    else if (e.eventType == "click" && st.firstView >= 0 &&
      st.firstClick < 0 && e.tsUs >= st.firstView)
      st.copy(firstClick = e.tsUs)
    else st

  /** The slice order both funnel operators use: event time, views before
    * clicks on ties (so an equal-timestamp click still converts). */
  private def funnelOrder(e: FunnelEvent): (Long, Int) =
    (e.tsUs, if (e.eventType == "view") 0 else 1)

  /** Per-user funnel state — x8's streaming form: first 'view', then
    * first 'click' AT OR AFTER it, as running state under the per-key
    * ORDER contract the reference's stateful ops assume (each batch's
    * group slice is event-time-sorted here — group iterators are
    * unordered — with views before clicks on ties so an equal-timestamp
    * click still converts, matching the batch ≥ comparison; across
    * batches, per-key time must not regress — the watermark discipline).
    *
    * Same-timestamp CROSS-BATCH caveat: the tie-break only orders events
    * that arrive in the SAME micro-batch. If a click lands in an earlier
    * batch than a view carrying the SAME timestamp, the click is evaluated
    * against state that has not seen the view yet and is dropped — where
    * x8's batch `>=` semantics would convert. This is the boundary case of
    * the order contract (equal timestamps are "not regressed", so feeds
    * may legally split them across batches); feeds that can do so must
    * either deliver equal-timestamp events in one batch or buffer at the
    * source until the watermark passes the timestamp. Buffering inside
    * this operator would trade its two-longs-per-user state for a per-key
    * event queue — the bounded-state property is the point, so the
    * contract stays at the feed. Feeds that cannot honor it should use
    * [[funnelAligned]], which buys the buffer (watermark-bounded) and
    * closes the caveat.
    *
    * Emits each touched user's current (firstView, firstClick) per batch;
    * −1 = step not reached. Decisions are FINAL under in-order delivery,
    * so state is two longs per user — the bounded-state property funnel
    * analysis loses the moment order is not guaranteed. */
  def funnel(ds: Dataset[FunnelEvent]): Dataset[(Long, Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val stateEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
    ds.groupByKey(_.userId)(Encoders.scalaLong)
      .mapGroupsWithState[FunnelState, (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L))
          rows.toSeq.sortBy(funnelOrder).foreach(e => st = foldFunnelEvent(st, e))
          state.update(st)
          (uid, st.firstView, st.firstClick)
      }
  }

  /** [[funnel]] with the same-timestamp cross-batch caveat CLOSED — the
    * opt-in watermark-aligned variant. Events are held in per-key pending
    * state until the event-time watermark STRICTLY passes their timestamp
    * (watermark semantics admit further events AT the watermark, so `<`
    * not `≤`), then folded in one sorted slice — an equal-timestamp
    * view/click pair split across micro-batches is re-united before the
    * funnel transition sees either, converging to x8's batch `>=` answer
    * regardless of how the feed batched them.
    *
    * The price is stated honestly: state is no longer two longs — each
    * key buffers its in-flight window, BOUNDED by the watermark delay
    * (`delay`, e.g. "10 seconds": at most that span of one user's events,
    * evicted the batch after the watermark passes). That is the standard
    * watermark-buffer bound every stream-stream join carries; feeds that
    * guarantee same-batch equal-ts delivery should keep using [[funnel]]
    * and its two-longs state. Input must still respect the watermark:
    * Spark's late filter drops rows AT or below the current watermark
    * before they reach this operator, so `delay` is the feed's entire
    * disorder budget — it must strictly exceed the worst cross-batch
    * spread of an equal-timestamp pair (delay=0 admits no disorder at
    * all). An [[GroupStateTimeout.EventTimeTimeout]]
    * re-invokes keys whose pending events' release time has passed even
    * when the key receives no new events — without it a quiet key's
    * buffer would never drain. Emits the post-release snapshot per
    * invocation (update mode), exactly [[funnel]]'s contract. */
  def funnelAligned(
      ds: Dataset[FunnelEvent], delay: String = "0 seconds"): Dataset[(Long, Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val stateEnc: Encoder[FunnelBufState] = Encoders.product[FunnelBufState]
    implicit val evEnc: Encoder[FunnelEvent] = Encoders.product[FunnelEvent]
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    ds.withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", delay)
      .as[FunnelEvent]
      .groupByKey(_.userId)(Encoders.scalaLong)
      .mapGroupsWithState[FunnelBufState, (Long, Long, Long)](
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelBufState]) =>
          var st = state.getOption.getOrElse(FunnelBufState(-1L, -1L, Seq.empty))
          val wmMs = state.getCurrentWatermarkMs()
          val (ready, hold) = (st.pending ++ rows)
            .partition(e => e.tsUs / 1000L < wmMs)
          var core = FunnelState(st.firstView, st.firstClick)
          ready.sortBy(funnelOrder).foreach(e => core = foldFunnelEvent(core, e))
          st = FunnelBufState(core.firstView, core.firstClick, hold)
          state.update(st)
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(hold.map(_.tsUs / 1000L).min + 1L, wmMs + 1L))
          (uid, st.firstView, st.firstClick)
      }
  }

  /** Per-user cohort-retention state — x9's streaming form, mirroring
    * [[funnel]]'s two-longs pattern: the user's FIRST event day is their
    * cohort, and each later event marks the week offset 0–3 from that day
    * in a bitmask (week 4+ is outside x9's horizon and ignored, so state
    * is exactly two longs per user, bounded forever). Under the per-key
    * order contract (each batch's slice is sorted here; across batches
    * time must not regress) the first-seen day IS the minimum day, so the
    * incremental cohorts equal x9's min-aggregate cohorts. Emits each
    * touched user's current (cohortDay, weekMask) per batch in update
    * mode; a downstream consumer gets cohort sizes by counting users per
    * cohortDay and week-w actives by counting users with bit w set —
    * popcount-style aggregation over final states, never a distinct over
    * raw events. */
  def retention(ds: Dataset[RetentionEvent]): Dataset[(Long, Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val stateEnc: Encoder[RetentionState] = Encoders.product[RetentionState]
    val usPerDay = 86400000000L
    ds.groupByKey(_.userId)(Encoders.scalaLong)
      .mapGroupsWithState[RetentionState, (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[RetentionEvent], state: GroupState[RetentionState]) =>
          var st = state.getOption.getOrElse(RetentionState(-1L, 0L))
          rows.toSeq.sortBy(_.tsUs).foreach { e =>
            val day = e.tsUs / usPerDay
            if (st.firstDay < 0) st = RetentionState(day, 0L)
            val wk = (day - st.firstDay) / 7
            if (wk >= 0 && wk <= 3)
              st = st.copy(weekMask = st.weekMask | (1L << wk))
          }
          state.update(st)
          (uid, st.firstDay, st.weekMask)
      }
  }

  /** Per-group running OLS sufficient statistics — x10's streaming form.
    * Unlike [[funnel]]/[[retention]], this op needs NO order contract at
    * all: the six sums are commutative and associative, so any batch
    * split, any within-batch order, and any partition assignment land on
    * the identical state — the sufficient-statistic formulation is what
    * makes regression incrementalizable for free (Welford-family updates
    * exist to tame FLOAT error; with exact integer sums they are
    * unnecessary). State is six longs per group, bounded forever; emits
    * each touched group's statistics per batch, from which a consumer
    * derives slope/intercept/r² exactly as
    * [[graft.queries.RelationalQueries.regressionFrom]]'s closed form
    * does — the spec pins incremental ≡ batch on every fed prefix. */
  def regressionStats(ds: Dataset[RegObs]): Dataset[(String, RegState)] = {
    implicit val outEnc: Encoder[(String, RegState)] =
      Encoders.tuple(Encoders.STRING, Encoders.product[RegState])
    implicit val stateEnc: Encoder[RegState] = Encoders.product[RegState]
    ds.groupByKey(_.group)(Encoders.STRING)
      .mapGroupsWithState[RegState, (String, RegState)](GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[RegObs], state: GroupState[RegState]) =>
          var st = state.getOption.getOrElse(RegState(0L, 0L, 0L, 0L, 0L, 0L))
          rows.foreach { o =>
            st = RegState(st.n + 1, st.sx + o.x, st.syc + o.yc,
              st.sxx + o.x * o.x, st.sxy + o.x * o.yc, st.syy + o.yc * o.yc)
          }
          state.update(st)
          (g, st)
      }
  }

  /** Per-user Markov transition extraction — x13's streaming form: each
    * user's event stream chains through ONE remembered tail event (the
    * state is three fields per user, bounded forever), and every arriving
    * event emits exactly one (src, dst) transition row against that tail.
    * Within a batch the handler sorts its slice by (tsUs, eventId) — group
    * iterators are unordered — and across batches the per-key order
    * contract applies as in [[funnel]]/[[retention]]: per-user time must
    * not regress (equal-timestamp events split across batches chain in
    * batch order, which the (ts, event_id) tie-break makes consistent with
    * x13's batch window ONLY when the split respects event_id order — the
    * same cross-batch caveat funnel documents, held at the feed). Each
    * transition is emitted exactly once (Append semantics); a downstream
    * count per (src, dst) — any counting sink, or [[runningCount]] keyed
    * on src:dst — reproduces x13's n_trans incrementally, which is what
    * `StreamingMarkovSpec` pins against [[graft.queries.RelationalQueries
    * .markovFrom]] on every fed prefix. */
  def markovTransitions(ds: Dataset[MarkovEvent]): Dataset[(String, String)] = {
    implicit val outEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val stateEnc: Encoder[MarkovState] = Encoders.product[MarkovState]
    ds.groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[MarkovState, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[MarkovEvent], state: GroupState[MarkovState]) =>
          var st = state.getOption.getOrElse(MarkovState(-1L, -1L, ""))
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          rows.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            if (st.tsUs >= 0L) out += ((st.lastType, e.eventType))
            st = MarkovState(e.tsUs, e.eventId, e.eventType)
          }
          state.update(st)
          out.iterator
      }
  }

  /** The capacity-countdown ledger (SURVEY §2.5 A2) as true running state:
    * each request gets its own CONFIRMED/REJECTED verdict from the
    * remaining count at its arrival position — the one reference behavior
    * a declarative aggregate can't express (per-record emission from
    * order-sensitive state). Each batch's slice of a group is sorted by
    * `seq` before folding — Spark does not order the group iterator. */
  def capacityLedger(ds: Dataset[TicketReq]): Dataset[TicketConfirmation] = {
    implicit val outEnc: Encoder[TicketConfirmation] = Encoders.product[TicketConfirmation]
    implicit val stateEnc: Encoder[LedgerState] = Encoders.product[LedgerState]
    ds.groupByKey(_.eventid)(Encoders.STRING)
      .flatMapGroupsWithState[LedgerState, TicketConfirmation](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (eventid: String, rows: Iterator[TicketReq], state: GroupState[LedgerState]) =>
          val ordered = rows.toSeq.sortBy(_.seq)
          var st = state.getOption.getOrElse(
            LedgerState(ordered.headOption.map(_.capacity.toDouble).getOrElse(0.0), 0.0))
          val out = ordered.map { t =>
            st = LedgerState(st.remaining - 1, st.totalRequested + 1)
            val status = if (st.remaining >= 0) "CONFIRMED" else "REJECTED"
            TicketConfirmation(t.ticketId, t.customerid, eventid, status, st.remaining)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Ordered top-K counter per key (SURVEY §2.5 A1/A5 + §2.6 T1/T2):
    * reproduces the reference SortedCounterMap semantics — count desc,
    * ties by first-increment order, capped state size — emitting the
    * updated top-K per key per batch. */
  def topKCounter(
      ds: Dataset[Keyed[String]], k: Int, maxSize: Int = 1000): Dataset[TopPerKey] = {
    implicit val outEnc: Encoder[TopPerKey] = Encoders.product[TopPerKey]
    implicit val stateEnc: Encoder[CounterState] = Encoders.product[CounterState]
    ds.groupByKey(_.key)(Encoders.STRING)
      .mapGroupsWithState[CounterState, TopPerKey](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Keyed[String]], state: GroupState[CounterState]) =>
          var st = state.getOption.getOrElse(CounterState(Map.empty, 0L))
          rows.toSeq.sortBy(_.seq).foreach { r =>
            val member = r.value
            val (cnt, idx) = st.counts.getOrElse(member, (0L, st.nextIdx))
            val bumpedNext = if (cnt == 0L) st.nextIdx + 1 else st.nextIdx
            st = CounterState(st.counts.updated(member, (cnt + 1, idx)), bumpedNext)
          }
          if (st.counts.size > maxSize) {
            val kept = st.counts.toSeq
              .sortBy { case (_, (cnt, idx)) => (-cnt, idx) }
              .take(maxSize)
            st = CounterState(kept.toMap, st.nextIdx)
          }
          state.update(st)
          val top = st.counts.toSeq
            .sortBy { case (_, (cnt, idx)) => (-cnt, idx) }
            .take(k)
            .map { case (m, (cnt, _)) => CountEntry(m, cnt) }
          TopPerKey(key, top)
      }
  }
}
