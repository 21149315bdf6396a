package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the reference's daily micro-batch
  * cadence (SURVEY §2.12) generalized to a file-source stream with
  * event-time tumbling windows + watermark. `Trigger.AvailableNow`
  * reproduces the reference's "process everything that arrived,
  * then stop" cron semantics exactly; the same code runs continuous
  * with a processing-time trigger on a cluster.
  */
object EventStreams {
  /** Parquet-dir schema of the events table AFTER the ns→µs
    * conversion (see graft.sources.Tables.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-day counts/sums per event_type — the streaming twin
    * of EventQueries.evTumblingDaily (equivalence is ScalaTest-checked
    * via the memory sink). Watermark bounds state at scale.
    */
  def tumblingDailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"),
        col("total_value"))

  /** Hopping (sliding) twin: 2-day windows advancing 1 day — same
    * watermark/state mechanics as the tumbling agg, each event in
    * exactly two windows (batch twin: EventQueries.evHoppingDaily).
    */
  def hoppingDailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"),
        col("total_value"))

  /** Stream-static enrichment join: every micro-batch of the event
    * stream joins the small STATIC dimension (broadcast per batch —
    * no streaming state, no watermark coupling on the dim side),
    * then rolls up per (day, segment). The standard streaming
    * enrichment topology: the dim can be swapped/refreshed between
    * micro-batches without touching stream state, and at scale the
    * join never shuffles the stream because the dim is broadcast.
    */
  def enrichBySegment(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
      .groupBy(window(col("ts"), "1 day").as("w"), col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("day"), col("segment"), col("n"),
        col("total_value"))

  /** Read a parquet dir as a stream and run `agg` into a memory
    * sink; returns the started query (caller awaits). */
  def runToMemory(spark: SparkSession, srcDir: String, queryName: String,
      agg: DataFrame => DataFrame = tumblingDailyAgg,
      outputMode: String = "complete"): StreamingQuery = {
    val stream = spark.readStream.schema(eventSchema).parquet(srcDir)
    agg(stream).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming exactly-once dedup: drop re-delivered events by key
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates("event_id")`) is what makes state
    * bounded: plain dropDuplicates only evicts state when the
    * event-time column is part of the dedup keys, so keying on
    * event_id alone would grow state forever on an unbounded stream.
    * The WithinWatermark variant evicts each key once it ages past
    * the watermark — O(active horizon) state at 100 TB.
    */
  def dedupedEventStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joined to the same
    * user's view events from the preceding hour. Watermarks on BOTH
    * inputs plus the two-sided time-range predicate are what make
    * join state bounded: Spark derives each side's eviction horizon
    * (view state older than purchase-watermark − 1 h drops; purchase
    * state drops at its own watermark) — the canonical attribution
    * join, O(active horizon) state on an unbounded stream. Batch
    * equivalence is ScalaTest-checked on the same input.
    */
  def purchaseViewJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    p.join(v, col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"),
        col("p_user").as("user_id"))
  }

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState`): per user, events more than `gapSec`
    * apart open a new session; CLOSED sessions are emitted as they
    * are superseded, the open one rides in [[OpenSession]] state
    * across triggers. State is O(1) per user — the 100 TB-safe shape
    * for unbounded streams (vs. buffering events).
    */
  final case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
  final case class OpenSession(start: Long, last: Long, n: Int)
  final case class ClosedSession(user_id: Long, start_micros: Long,
      end_micros: Long, n_events: Int)

  /** Streaming twin of the batch +1/−1 peak-concurrency sweep
    * (operators.EventQueries.evPeakConcurrency — the live
    * "peak concurrent sessions today" ops metric). The batch op is a
    * GLOBAL cumulative sweep, so a day's peak counts intervals opened
    * late the previous day; a per-day-keyed streaming state cannot
    * see other days' deltas. The twin therefore makes each day
    * self-contained with BOUNDARY CARRIES: every event contributes
    * +1 at ts and −1 at ts+window (each to its own day, exactly the
    * batch grouping), and an interval that crosses midnight also
    * emits a carry row (+1 at the close day's 00:00, flagged) — so a
    * day's local prefix sum equals the global running count at every
    * real row. Carries sort before any real row at the same instant,
    * contribute to the prefix, and are excluded from the peak and
    * the open count (the global sweep has no row at the boundary).
    * Exactness needs window < 1 day (an interval crosses at most one
    * midnight); require()d.
    *
    * Scale shape: the delta expansion is a stateless per-event map
    * that QUANTIZES every event to its floor second, so state is
    * keyed by day and holds per-SECOND counters (carries / closes /
    * opens per distinct second tick) rather than raw deltas — the
    * state bound is ≤86,400 buckets per day BY CONSTRUCTION, however
    * hot the day (a per-µs-instant key would grow linearly with a hot
    * day's events). The contract is therefore the peak measured on
    * the 1-second grid — all deltas in one tick sweep together,
    * closes before opens — which is the batch sweep run on
    * second-truncated timestamps (the StreamingSpec pin feeds
    * evPeakConcurrency `date_trunc('second', ts)` input and the
    * ledgers match exactly; on data already at second precision the
    * grid is the identity and the µs batch op agrees verbatim).
    * Within one tick the sweep's peak and open count are invariant to
    * order inside each (carry, delta) class, so the per-tick
    * aggregation is EXACT for that contract, and each trigger's work
    * is one sorted merge of the new batch — O(state + batch), no
    * re-sort of history. Days expire via an event-time timeout once
    * the watermark passes day-end + `slackSec` (state.remove —
    * unbounded-stream safe). Emits the running (peak, opens) per day
    * each trigger (both are monotone in the event multiset, so
    * "latest wins" downstream).
    */
  /** `ts` mirrors tMicros as a timestamp: the event-time column the
    * watermark is declared on (it must survive into the stateful
    * operator's input for EventTimeTimeout — a typed flatMap strips
    * the upstream watermark attribute, so the deltas carry their
    * own). Close deltas lead their source event by `windowSec`, so
    * the watermark can run ahead by up to the window — covered by
    * peakPerDay's `slackSec` contract. */
  final case class PeakDelta(day: Long, tMicros: Long, delta: Int,
      carry: Boolean, eventId: Long, ts: java.time.Instant)
  /** Exact per-tick counters: `carries`/`minuses`/`pluses` at one
    * SECOND-grid tick (`t` is µs but always a whole second — the
    * quantization in [[peakDeltas]]; the sweep's tie order is
    * carries, then closes, then opens — counts suffice, identities
    * don't matter). ≤86,400 distinct ticks per day, so a day's state
    * is bounded regardless of its event count. */
  final case class PeakBucket(t: Long, carries: Long, minuses: Long, pluses: Long)
  final case class DayBuckets(buckets: Seq[PeakBucket])
  final case class DayPeak(day: java.time.LocalDate, peak_active: Long, n_opens: Long)

  /** `quantUs` is the state-bounding quantization grid: events floor
    * to it, so downstream per-day state is one counter per occupied
    * grid instant (default 1 s ⇒ ≤86,400/day). `quantUs = 1` recovers
    * the exact-µs semantics of the registered batch operator
    * (EventQueries.evPeakConcurrency on raw timestamps) at the cost
    * of state linear in a hot day's distinct event instants. The grid
    * must divide the day so flooring never moves an event across
    * midnight, and must divide the window so closes land on-grid. */
  def peakDeltas(events: DataFrame, windowSec: Long = 300,
      watermarkDelay: String = "1 hour",
      quantUs: Long = 1000000L): org.apache.spark.sql.Dataset[PeakDelta] = {
    require(windowSec > 0 && windowSec < 86400,
      "boundary-carry exactness needs 0 < window < 1 day")
    require(quantUs > 0 && 86400000000L % quantUs == 0 &&
      (windowSec * 1000000L) % quantUs == 0,
      "grid must divide both the day and the window")
    import events.sparkSession.implicits._
    val us = windowSec * 1000000L
    def inst(t: Long): java.time.Instant =
      java.time.Instant.ofEpochSecond(Math.floorDiv(t, 1000000L),
        Math.floorMod(t, 1000000L) * 1000L)
    events
      .select(unix_micros(col("ts")).as("t"), col("event_id"))
      .as[(Long, Long)]
      .flatMap { case (tRaw, id) =>
        val dayUs = 86400L * 1000000L
        // grid quantization: floor the event to quantUs so downstream
        // state is per-grid-instant counters, not per-µs-instant.
        // The window is a grid multiple, so the close lands on the
        // grid too, and the day assignment is unchanged (the grid
        // divides the day, so flooring never crosses midnight).
        val t = Math.floorDiv(tRaw, quantUs) * quantUs
        val openDay = Math.floorDiv(t, dayUs)
        val close = t + us
        val closeDay = Math.floorDiv(close, dayUs)
        val base = Seq(
          PeakDelta(openDay, t, 1, carry = false, id, inst(t)),
          PeakDelta(closeDay, close, -1, carry = false, id, inst(close)))
        if (closeDay != openDay)
          base :+ PeakDelta(closeDay, closeDay * dayUs, 1, carry = true, id,
            inst(closeDay * dayUs))
        else base
      }
      // the watermark is declared ON THE DELTAS (their ts survives
      // into the stateful operator — required for EventTimeTimeout,
      // and lets Spark drop post-expiry stragglers before the state
      // function): it's what expires a day's state in peakPerDay
      .withWatermark("ts", watermarkDelay)
  }

  /** `slackSec` must cover the watermark delay plus `windowSec` (a
    * close delta leads its source event's time by the window, and an
    * event `delay` late still produces in-contract deltas): with that
    * bound, once a day times out no legitimate delta for it can still
    * arrive, so too-late stragglers are DROPPED rather than allowed
    * to recreate the day with a bogus partial peak. */
  def peakPerDay(deltas: org.apache.spark.sql.Dataset[PeakDelta],
      slackSec: Long = 7200): org.apache.spark.sql.Dataset[DayPeak] = {
    require(slackSec >= 0, "slackSec must be non-negative")
    import deltas.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    deltas.groupByKey(_.day)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (day: Long, it: Iterator[PeakDelta], state: GroupState[DayBuckets]) =>
          val expireAtMs = (day + 1) * 86400000L + slackSec * 1000L
          if (state.hasTimedOut) {
            // final (peak, opens) was emitted on the last data trigger
            state.remove()
            Iterator.empty
          } else if (!state.exists && expireAtMs <= state.getCurrentWatermarkMs) {
            // stragglers past the day's expiry: don't resurrect the
            // day with a partial buffer (its true result already shipped)
            Iterator.empty
          } else {
            // fold the micro-batch into per-second counters, then
            // merge-sort into the (already sorted) state — O(state+batch)
            val fresh = new scala.collection.mutable.TreeMap[Long, (Long, Long, Long)]()
            it.foreach { d =>
              val (c, m, p) = fresh.getOrElse(d.tMicros, (0L, 0L, 0L))
              fresh.update(d.tMicros,
                if (d.carry) (c + 1, m, p)
                else if (d.delta < 0) (c, m + 1, p)
                else (c, m, p + 1))
            }
            val batch = fresh.iterator.map { case (t, (c, m, p)) =>
              PeakBucket(t, c, m, p)
            }.toIndexedSeq
            val old = state.getOption.map(_.buckets).getOrElse(Seq.empty)
            val merged = new scala.collection.mutable.ArrayBuffer[PeakBucket](old.size + batch.size)
            var i = 0; var j = 0
            while (i < old.size || j < batch.size) {
              if (j >= batch.size || (i < old.size && old(i).t <= batch(j).t)) {
                if (j < batch.size && old(i).t == batch(j).t) {
                  val b = batch(j)
                  merged += PeakBucket(old(i).t, old(i).carries + b.carries,
                    old(i).minuses + b.minuses, old(i).pluses + b.pluses)
                  i += 1; j += 1
                } else { merged += old(i); i += 1 }
              } else { merged += batch(j); j += 1 }
            }
            state.update(DayBuckets(merged.toSeq))
            state.setTimeoutTimestamp(expireAtMs)
            // the exact sweep over counters: carries first at equal t
            // (their +1 is "already open at 00:00", never a peak
            // sample), then closes (max sample run−1, after the first
            // close), then opens (max sample after the last open)
            var run = 0L; var peak = Long.MinValue; var opens = 0L
            merged.foreach { b =>
              run += b.carries
              if (b.minuses > 0) { if (run - 1 > peak) peak = run - 1; run -= b.minuses }
              if (b.pluses > 0) { run += b.pluses; if (run > peak) peak = run; opens += b.pluses }
            }
            if (peak == Long.MinValue) Iterator.empty // carry-only (unreachable)
            else Iterator.single(
              DayPeak(java.time.LocalDate.ofEpochDay(day), peak, opens))
          }
      }
  }

  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapSec: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = gapSec * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          // within one trigger the iterator is unordered: sort the
          // micro-batch (bounded per trigger), then fold
          val evs = it.toIndexedSeq.sortBy(e => (e.tsMicros, e.event_id))
          var open = state.getOption.orNull
          val closed = Seq.newBuilder[ClosedSession]
          evs.foreach { e =>
            if (open == null) open = OpenSession(e.tsMicros, e.tsMicros, 1)
            else if (e.tsMicros - open.last > gapMicros) {
              closed += ClosedSession(uid, open.start, open.last, open.n)
              open = OpenSession(e.tsMicros, e.tsMicros, 1)
            } else open = open.copy(last = e.tsMicros, n = open.n + 1)
          }
          if (open != null) state.update(open)
          closed.result().iterator
      }
  }

  /** Streaming twin of the batch first/last-touch attribution
    * (operators.EventQueries.evAttribution): per user, the state is
    * exactly TWO channel strings (first and most recent non-purchase
    * event type) — O(1) per user, the 100 TB-safe shape; each
    * purchase is emitted with the channels credited at that instant.
    * Within a trigger the micro-batch is sorted (ts, event_id) like
    * [[sessionize]]; across triggers events must arrive in event-time
    * order per user (the replay convention the batch≡stream pin
    * feeds). NoTimeout is deliberate: unlike a buffer, the state
    * cannot grow per user — a TTL would only bound USER cardinality,
    * which a production deployment would add via an event-time
    * timeout keyed to user inactivity.
    */
  final case class AttrEvent(user_id: Long, event_id: Long, tsMicros: Long,
      event_type: String, value: Double)
  final case class TouchState(first: String, last: String)
  final case class AttributedPurchase(user_id: Long, event_id: Long,
      value: Double, first_touch: String, last_touch: String)

  def attributionStream(
      events: org.apache.spark.sql.Dataset[AttrEvent])
      : org.apache.spark.sql.Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AttrEvent], state: GroupState[TouchState]) =>
          val evs = it.toIndexedSeq.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(TouchState(null, null))
          val out = Seq.newBuilder[AttributedPurchase]
          evs.foreach { e =>
            if (e.event_type == "purchase")
              out += AttributedPurchase(uid, e.event_id, e.value,
                Option(st.first).getOrElse("none"),
                Option(st.last).getOrElse("none"))
            else st = TouchState(
              if (st.first == null) e.event_type else st.first, e.event_type)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class DayStat(day: java.sql.Date, n: Long, conv: Long)
  final case class SprtState(cumN: Long, cumConv: Long)
  final case class SprtVerdict(day: java.sql.Date, cum_n: Long,
    cum_conv: Long, llr: Double, decision: String)

  /** Streaming twin of AnalyticsQueries.aSprtMonitor: Wald's SPRT
    * (H₀ p=0.18 vs H₁ p=0.22, α = β = 0.05) folded over a stream of
    * per-day (n, conversions) aggregates as they land. State is ONE
    * (cumN, cumConv) pair under a single monitor key — a sequential
    * test is inherently a single running ledger; the per-day
    * aggregates upstream of it are where the data-parallel work
    * happens, so the single key carries two longs, not the corpus.
    * The llr decision grid matches the batch op exactly: same JVM
    * Math.log, same HALF_UP 6-dp rounding, same ±2.944439 bound
    * literals (batch≡stream pinned in StreamingSpec). Days are
    * folded in event-time order within each trigger; cross-trigger
    * order is the source's append order (the monitor's ledger
    * semantics — a late day would be a data-contract violation
    * upstream, same stance as the attribution twin).
    */
  def sprtStream(days: org.apache.spark.sql.Dataset[DayStat])
      : org.apache.spark.sql.Dataset[SprtVerdict] = {
    import days.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val lnPos = math.log(0.22 / 0.18)
    val lnNeg = math.log(0.78 / 0.82)
    days.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[DayStat], state: GroupState[SprtState]) =>
          val ds = it.toIndexedSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(SprtState(0L, 0L))
          val out = ds.map { d =>
            st = SprtState(st.cumN + d.n, st.cumConv + d.conv)
            val raw = st.cumConv * lnPos + (st.cumN - st.cumConv) * lnNeg
            val llr = BigDecimal(raw)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            val dec =
              if (llr >= 2.944439) "accept_h1"
              else if (llr <= -2.944439) "accept_h0"
              else "continue"
            SprtVerdict(d.day, st.cumN, st.cumConv, llr, dec)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class MonthPart(month: java.sql.Date, n: Long, s: Long, ss: Long)
  final case class MomentState(n: Long, s: Long, ss: Long)
  final case class MomentRow(month: java.sql.Date, n_orders: Long,
    mean_price: Double, var_price: Double)

  /** Streaming twin of AnalyticsQueries.aVarMerge: per-month running
    * mean/variance maintained by MERGING algebraic partial states
    * (n, Σcents, Σcents²) as per-day partials land — the
    * incremental-view-maintenance loop the batch op audits, run
    * live. State per month key is three integers; the data-parallel
    * reduction to day partials happens upstream, so a ledger never
    * sees raw facts. Arithmetic inside the fold is BigInt (the spec
    * corpus keeps Σcents² in a long at the source; a 100-TB
    * deployment widens the carried state to the batch op's
    * DECIMAL(38,0) / a two-long 128-bit split — the merge algebra is
    * unchanged), and mean/variance leave integer space through the
    * same micro-unit integral division as the batch op, so the final
    * per-month emission is bit-identical to a_var_merge (pinned in
    * StreamingSpec across a two-trigger split).
    */
  def varianceMergeStream(parts: org.apache.spark.sql.Dataset[MonthPart])
      : org.apache.spark.sql.Dataset[MomentRow] = {
    import parts.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    parts.groupByKey(_.month)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (month: java.sql.Date, it: Iterator[MonthPart],
            state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          it.foreach(p =>
            st = MomentState(st.n + p.n, st.s + p.s, st.ss + p.ss))
          state.update(st)
          val meanMicro = (BigInt(st.s) * 10000 / BigInt(st.n)).toLong
          val varPrice =
            if (st.n > 1) {
              val num = BigInt(st.n) * BigInt(st.ss) - BigInt(st.s) * BigInt(st.s)
              (num * 100 / (BigInt(st.n) * BigInt(st.n - 1))).toLong / 1e6
            } else Double.NaN
          Iterator.single(
            MomentRow(month, st.n, meanMicro / 1e6, varPrice))
      }
  }

  final case class TwapEvent(user_id: Long, us: Long, event_id: Long,
    value: Double)
  final case class TwapState(lastUs: Long, lastVal: Double, spanUs: Long,
    num: Double, nEvents: Long)
  final case class TwapRow(user_id: Long, n_events: Long, span_us: Long,
    twap: Double)

  /** Streaming twin of WindowQueries.wTwap: per-user time-weighted
    * average maintained live — each arriving event closes the held
    * interval [lastTs, ts) and folds value·duration into the running
    * numerator IN EVENT ORDER, the exact fold order of the batch
    * op's sort_array aggregate, so the final per-user emission is
    * bit-identical (pinned in StreamingSpec across a mid-user
    * trigger split). State per user is one (ts, value, span, num,
    * n) tuple — the feature-store "held value" register. Contract:
    * per-user event-time-ordered arrival (the CDC/session shape);
    * out-of-order sources reorder upstream via watermark + window.
    */
  def twapStream(events: org.apache.spark.sql.Dataset[TwapEvent])
      : org.apache.spark.sql.Dataset[TwapRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TwapEvent], state: GroupState[TwapState]) =>
          val es = it.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(
            TwapState(Long.MinValue, 0.0, 0L, 0.0, 0L))
          es.foreach { e =>
            if (st.lastUs != Long.MinValue) {
              val dur = e.us - st.lastUs
              st = TwapState(e.us, e.value, st.spanUs + dur,
                st.num + st.lastVal * dur.toDouble, st.nEvents + 1)
            } else st = TwapState(e.us, e.value, 0L, 0.0, 1L)
          }
          state.update(st)
          if (st.nEvents >= 2)
            // HALF_UP at scale 6 — the exact semantics of the batch
            // op's round(num/span, 6) (Spark rounds doubles through
            // BigDecimal HALF_UP, NOT rint's half-even)
            Iterator.single(TwapRow(user, st.nEvents, st.spanUs,
              BigDecimal(st.num / st.spanUs.toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          else Iterator.empty
      }
  }

  final case class TransEvent(user_id: Long, us: Long, event_id: Long,
    event_type: String)
  final case class TransDelta(i: String, j: String, n: Long)

  /** Streaming twin of ev_absorbing_markov's transition-count
    * stage: per-user state is ONE string (the last event type);
    * each arriving event emits an (i → j) increment. The downstream
    * value iteration consumes the accumulated counts — counts are
    * integers, so merge order is irrelevant and the accumulated
    * ledger equals the batch window pass exactly (pinned in
    * StreamingSpec across a mid-user trigger split). Same ordered-
    * arrival contract as [[twapStream]].
    */
  def transitionStream(events: org.apache.spark.sql.Dataset[TransEvent])
      : org.apache.spark.sql.Dataset[TransDelta] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TransEvent], state: GroupState[String]) =>
          val es = it.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var last = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[TransDelta]()
          es.foreach { e =>
            if (last != null) out += TransDelta(last, e.event_type, 1L)
            last = e.event_type
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  final case class ArrivalEvent(user_id: Long, event_id: Long, us: Long)
  final case class LatenessRow(user_id: Long, event_id: Long,
    bucket_rank: Int, late_us: Long)

  /** Streaming twin of EventQueries.evWatermarkLateness: per-user
    * high-watermark state (one long per user) folded over events in
    * arrival order, each event emitting its lateness bucket against
    * the max event time of everything that arrived before it. This
    * is the live version of the audit that sizes `withWatermark` —
    * run on a sample stream it reports where the lateness mass
    * stops. State per user is ONE long (the running max); the
    * arrival fold is per-user sequential by definition of the
    * metric, user-parallel across the cluster (the sessionize
    * shape). Bucket thresholds match the batch op exactly
    * (batch≡stream pinned in StreamingSpec across a trigger split).
    */
  def latenessStream(events: org.apache.spark.sql.Dataset[ArrivalEvent])
      : org.apache.spark.sql.Dataset[LatenessRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ArrivalEvent], state: GroupState[Long]) =>
          val es = it.toIndexedSeq.sortBy(_.event_id)
          var hw = state.getOption.getOrElse(Long.MinValue)
          val out = es.map { e =>
            val late = if (hw == Long.MinValue) 0L else math.max(0L, hw - e.us)
            hw = math.max(hw, e.us)
            val rank =
              if (late == 0L) 1
              else if (late <= 60L * 1000000L) 2
              else if (late <= 300L * 1000000L) 3
              else if (late <= 3600L * 1000000L) 4
              else 5
            LatenessRow(user, e.event_id, rank, late)
          }
          state.update(hw)
          out.iterator
      }
  }

  final case class CmItem(grp: String, cell: Int)
  final case class CmSketch(grp: String, cells: Seq[Long], n_items: Long)

  /** Streaming twin of the count-min build (AnalyticsQueries.aCountMin's
    * sketch stage): per-group state is the depth×width cell array
    * plus the item count. The sketch is LINEAR — cells ADD under any
    * split of the stream into triggers — so the final state is
    * bit-identical (integer sums) to a batch-built sketch over the
    * same items, which is exactly the "1000 executors sketch their
    * partitions and merge" property, live; StreamingSpec pins it
    * across a mid-group trigger split. Items arrive pre-hashed
    * (grp, cell = depth-row·width + bucket), same as HllItem's
    * pre-computed registers. State per group: `nCells` longs — the
    * TOTAL flattened depth×width cell count (e.g. depth 4 × width 64
    * ⇒ nCells = 256), NOT the per-row width; out-of-range cells are
    * rejected rather than silently corrupting a neighbour row.
    */
  def countMinStream(items: org.apache.spark.sql.Dataset[CmItem],
      nCells: Int = 256): org.apache.spark.sql.Dataset[CmSketch] = {
    import items.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    items.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[CmItem], state: GroupState[CmSketch]) =>
          val cells = state.getOption.map(_.cells.toArray)
            .getOrElse(Array.fill(nCells)(0L))
          var n = state.getOption.map(_.n_items).getOrElse(0L)
          it.foreach { i =>
            require(i.cell >= 0 && i.cell < nCells,
              s"cell ${i.cell} outside flattened sketch [0, $nCells)")
            cells(i.cell) += 1L; n += 1L
          }
          val next = CmSketch(grp, cells.toSeq, n)
          state.update(next)
          Iterator.single(next)
      }
  }

  final case class HllItem(grp: String, reg: Int, rnk: Int)
  final case class HllEstimate(grp: String, estimate: Double,
    n_zero_registers: Long)

  /** Streaming twin of AnalyticsQueries.aHllRegisters' direct sketch:
    * per-group state is the 64-register max array. Register max is a
    * semilattice merge, so ANY trigger split converges to the
    * identical register state — the "1000 executors sketch
    * independently and combine" property, live. Each trigger emits
    * the running estimate through the batch op's exact float DAG
    * (index-order harmonic fold, linear-counting small-range branch,
    * HALF_UP round-6), so the FINAL emission is bit-identical to the
    * batch `hll_estimate` column (pinned in StreamingSpec across a
    * mid-group trigger split). State per group: 64 ints.
    */
  def hllStream(items: org.apache.spark.sql.Dataset[HllItem])
      : org.apache.spark.sql.Dataset[HllEstimate] = {
    import items.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val m = 64
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    items.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[HllItem], state: GroupState[Seq[Int]]) =>
          val regs = state.getOption.getOrElse(Seq.fill(m)(0)).toArray
          it.foreach { e => regs(e.reg) = math.max(regs(e.reg), e.rnk) }
          state.update(regs.toSeq)
          // the batch op's fold: j = 0..63 in index order, 2^0 for
          // never-hit registers; then the linear-counting branch
          var z = 0.0
          var j = 0
          while (j < m) { z += math.pow(0.5, regs(j).toDouble); j += 1 }
          val v = regs.count(_ == 0).toLong
          val raw = alpha * (m.toDouble * m) / z
          val est =
            if (raw <= 2.5 * m && v > 0) m.toDouble * math.log(m.toDouble / v)
            else raw
          Iterator.single(HllEstimate(grp,
            BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble, v))
      }
  }

  final case class ActivityEvent(user_id: Long, epochDay: Long, event_id: Long)
  final case class GrowthDelta(epoch_day: Long, category: String, n: Long)

  /** Streaming twin of EventQueries.evGrowthAccounting: per-user
    * state is the last activity day (one long). Each first-of-day
    * arrival emits its class — `new` (never seen), `retained`
    * (active the previous day), `resurrected` (returning after a
    * gap) — and an observed gap additionally emits the `churned`
    * increment at lastDay+1 (always inside the observation window,
    * since a later activity day exists). Trailing churn — silence
    * after a user's LAST observed day — is a stream-END notion: the
    * batch op charges it at lastDay+1, dropped when that falls past
    * max(day) (EventQueries.evGrowthAccounting), while live it
    * belongs to a day-close timer (the peakPerDay timeout pattern);
    * the StreamingSpec pin adds those batch-side final-day churns
    * before comparing ledgers, which are exact otherwise. Same
    * ordered-arrival contract as [[twapStream]].
    */
  def growthStream(events: org.apache.spark.sql.Dataset[ActivityEvent])
      : org.apache.spark.sql.Dataset[GrowthDelta] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ActivityEvent], state: GroupState[Long]) =>
          val days = it.map(_.epochDay).toIndexedSeq.distinct.sorted
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer[GrowthDelta]()
          days.foreach { d =>
            if (d > last) {
              if (last == Long.MinValue)
                out += GrowthDelta(d, "new", 1L)
              else if (d == last + 1)
                out += GrowthDelta(d, "retained", 1L)
              else {
                out += GrowthDelta(d, "resurrected", 1L)
                out += GrowthDelta(last + 1, "churned", 1L)
              }
              last = d
            }
          }
          state.update(last)
          out.iterator
      }
  }
}
