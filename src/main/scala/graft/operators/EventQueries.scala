package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Barrier, Grain, QueryModule}
import graft.sources.Tables
import ColumnIdioms._

/** Event-stream analytics over the events table: sessions,
  * funnels, retention, attribution, stickiness, growth accounting,
  * event-time windows and watermark lateness.
  */
object EventQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("ev_")

  // Tumbling 1-day windows over the event stream table (batch twin of
  // graft.streaming.EventStreams.tumblingDailyAgg)
  val evTumblingDaily: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("day"), col("event_type"))

  // Hopping (sliding) windows: 2-day windows advancing 1 day, so
  // each event lands in exactly two windows — the streaming-native
  // generalization of the tumbling agg.
  //
  // Written aggregate-then-expand rather than the naive
  // `window(ts, "2 days", "1 day")`: that form Expands every FACT row
  // into 2 window copies before the partial aggregate, doubling the
  // scan-stage output — at 100 TB the dominant cost. Since the slide
  // (1 day) divides the width (2 days), every hop window is the
  // disjoint union of two 1-day tumbling windows: aggregate per
  // tumbling day first (partial count + exact decimal sum), then
  // expand only the |days × types| partials into the 2 hop windows
  // covering each day and re-aggregate. Counts and decimal sums
  // re-associate exactly, so the result is bit-identical.
  val evHoppingDaily: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("d"), col("event_type"))
      .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("pv"))
    daily
      .select(explode(array(col("d.start") - expr("INTERVAL 1 DAY"),
        col("d.start"))).as("win_start"),
        col("event_type"), col("pn"), col("pv"))
      .groupBy(col("win_start"), col("event_type"))
      .agg(sum(col("pn")).as("n"),
        sum(col("pv")).cast("double").as("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  // Native JSON parsing (schema'd from_json) — companion to the
  // regex variant below
  val evJsonStruct: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("parsed", from_json(col("props"), lit("k BIGINT")))
      .groupBy(col("event_type"))
      .agg(sum(col("parsed.k")).as("sum_k"),
        count(col("parsed.k")).as("n_parsed"))
      .orderBy(col("event_type"))

  // Semi-structured extraction from the JSON props column
  val evJsonExtractSum: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  // Funnel: signup → first purchase conversion. Single-pass
  // conditional-min aggregation — one scan and one shuffle where the
  // join formulation (two scans + two shuffles + join) computed the
  // same thing; the isin filter pushes to the parquet scan. The
  // post-agg isNotNull filter reproduces the left join's "signup
  // users only" domain exactly.
  val evFunnel: Q = (s, dir) =>
    t(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts")))
          .as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("first_purchase"))
      .filter(col("first_signup").isNotNull)
      .agg(count(lit(1)).as("n_signup_users"),
        count(when(col("first_purchase") >= col("first_signup"), 1))
          .as("n_converted"))
      .withColumn("conversion", d(col("n_converted")) / d(col("n_signup_users")))

  // Cohort retention: users grouped by first-seen week, distinct
  // active users per weeks-since-cohort offset — the product-
  // analytics matrix next to funnel/sessionize. Two shuffles (first-
  // seen reduce, cohort-cell distinct); the first-seen join
  // broadcasts at dim scale and hash-joins at fact scale.
  val evCohortRetention: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(to_date(date_trunc("week", col("ts")))).as("cohort_week"))
    ev.select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .join(firstSeen, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  // Event-type transition counts (first-order Markov prep): lag pairs
  // per user ordered by time, corpus-wide transition matrix with a
  // row-conditional probability of exact counts.
  val evTransitions: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("c"))
    val totals = pairs.groupBy(col("prev")).agg(sum(col("c")).as("row_total"))
    pairs.join(totals, "prev")
      .select(col("prev"), col("next"), col("c"),
        (col("c").cast("double") / col("row_total").cast("double")).as("p_next"))
      .orderBy(col("prev"), col("next"))
  }

  // Daily-volume anomaly flags: z-score of each day's event count
  // against the corpus mean/stddev, both derived from exact integer
  // moments (Σc, Σc² over daily counts) with the identical double
  // formula on both engines — the monitoring query pattern, fully
  // deterministic under re-partitioning.
  val evAnomalyDays: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val wAll = Grain.whole
    val nd = count(lit(1)).over(wAll).cast("double")
    val s1 = sum(col("c")).over(wAll).cast("double")
    val s2 = sum(col("c") * col("c")).over(wAll).cast("double")
    val mean = s1 / nd
    val sd = sqrt(s2 / nd - (s1 / nd) * (s1 / nd))
    daily
      .withColumn("z", (col("c").cast("double") - mean) / sd)
      .filter(abs(col("z")) > 1.5)
      .select(col("day"), col("c"), col("z"))
      .orderBy(col("day"))
  }

  // Native session_window (the streaming-native session operator) in
  // the checked surface: per-user 30-min-gap sessions → session-size
  // histogram. The oracle replays with the lag-based islands form —
  // equivalent on this data (semantics differ only at EXACT-gap
  // boundaries, and the events table has no exact-1800s gap; the
  // "native session_window equals lag-based sessionization" spec
  // pins the same).
  val evSessionWindow: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("n_events")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_events"))

  // ---------------------------------------------------------------
  // ev_peak_concurrency — peak concurrent activity per day via the
  // classic +1/−1 interval sweep: each event opens a 5-minute
  // activity window ([ts, ts+5min), half-open, so closes sort before
  // opens at the same instant), deltas sweep in global time order
  // through Ranking.withGlobalCumSums — the TWO-PHASE cumulative sum
  // (range partition + P carry rows + partition-local window), so
  // the corpus-sized sweep never funnels through a single reducer —
  // then per-day max of the running count. Integer-exact: rows tied
  // on (t, delta) produce the same prefix multiset in any order.
  // The ops-dashboard staple (peak sessions / connections / load).
  // ---------------------------------------------------------------
  val evPeakConcurrency: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events").select(col("event_id"), col("ts"))
    val deltas = ev
      .select(col("event_id"), col("ts").as("t"), lit(1L).as("delta"))
      .unionAll(ev.select(col("event_id"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("delta")))
    Ranking.withGlobalCumSums(deltas, Seq("delta" -> "active"),
        col("t"), col("delta"), col("event_id"))
      .groupBy(to_date(col("t")).as("day"))
      .agg(max(col("active")).cast("long").as("peak_active"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).cast("long").as("n_opens"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // ev_rfm_segments — RFM (recency / frequency / monetary) customer
  // segmentation, the classic lifecycle-marketing rollup: per-user
  // aggregates, global quartile per dimension, users bucketed into
  // "R{1-4}F{1-4}M{1-4}" segments. Quartiles come from
  // Ranking.withGlobalRank — the TWO-PHASE global row_number (range
  // partition + per-partition carries), never a single-partition
  // ntile window, so the ranking survives a billion-user corpus.
  // The quartile rule is explicit integer arithmetic
  // ((4·(rank−1)) div n + 1) rather than SQL NTILE, so the oracle
  // replays the same formula instead of NTILE's engine-specific
  // uneven-bucket semantics. The per-user monetary sum folds in
  // event_id order (repo float policy); recency anchors on the
  // corpus max day (broadcast 1-row aggregate).
  // ---------------------------------------------------------------
  val evRfmSegments: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
    val byUser = ev.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        expr("aggregate(sort_array(collect_list(struct(event_id, value))), 0D," +
          " (a, x) -> a + x.value)").as("monetary"))
    val anchor = ev.agg(max(to_date(col("ts"))).as("now_day"))
    val base = byUser.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("now_day"), col("last_day")).cast("long"))
      .transform(Barrier.materialize) // three rank passes + the rollup read it
    val n = base.count()
    def quartile(rankCol: String): Column =
      expr(s"CAST((4 * ($rankCol - 1)) div $n AS BIGINT) + 1")
    val ranked = Ranking.withGlobalRank(
      Ranking.withGlobalRank(
        Ranking.withGlobalRank(base,
          "rrk", col("recency_days"), col("user_id")),
        "frk", col("frequency").desc, col("user_id")),
      "mrk", col("monetary").desc, col("user_id"))
    ranked
      .withColumn("segment", concat(
        lit("R"), quartile("rrk").cast("string"),
        lit("F"), quartile("frk").cast("string"),
        lit("M"), quartile("mrk").cast("string")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("recency_days")).cast("long").as("sum_rec"),
        sum(col("frequency")).cast("long").as("total_events"))
      .select(col("segment"), col("n_users"),
        (d(col("sum_rec")) / d(col("n_users"))).as("avg_recency_days"),
        col("total_events"))
      .orderBy(col("segment"))
  }

  // ---------------------------------------------------------------
  // ev_attribution — first-touch / last-touch conversion attribution
  // (the marketing-analytics classic; same mechanics as "which
  // upstream source produced this training doc"): for each purchase,
  // the first and the most recent preceding NON-purchase event of
  // the same user are the credited channels ('none' when the
  // purchase opens the history). Revenue credit per channel under
  // both models, side by side. Scale shape: one window pass per user
  // (ts, event_id)-ordered — the sessionize shape, no self-join;
  // money sums are exact DECIMAL(18,2) cast DOUBLE at the edge.
  // ---------------------------------------------------------------
  val evAttribution: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val p = Tables.table(s, dir, "events")
      .withColumn("first_touch",
        coalesce(first(touch, ignoreNulls = true).over(w), lit("none")))
      .withColumn("last_touch",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("none")))
      .filter(col("event_type") === "purchase")
      .transform(Barrier.materialize) // consumed by both channel aggregates
    val byFirst = p.groupBy(col("first_touch").as("channel"))
      .agg(count(lit(1)).as("n_first"),
        sum(dec(col("value"))).as("fv"))
    val byLast = p.groupBy(col("last_touch").as("channel"))
      .agg(count(lit(1)).as("n_last"),
        sum(dec(col("value"))).as("lv"))
    byFirst.join(byLast, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        d(coalesce(col("fv"), lit(0))).as("first_touch_value"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        d(coalesce(col("lv"), lit(0))).as("last_touch_value"))
      .orderBy(col("channel"))
  }

  // ---------------------------------------------------------------
  // ev_markov_stationary — stationary distribution of the event-type
  // Markov chain: transition counts from per-user (ts, event_id)-
  // ordered streams (one window pass — the sessionize shape), exact
  // count-ratio transition probabilities, then π = lim v·Pᵏ by 20
  // power-iteration steps from the uniform start — compared against
  // the empirical state frequencies (the "is the chain's long-run
  // behavior already visible" monitoring readout). Scale shape: the
  // row stream reduces through the (states², ≤ 25-cell) count
  // aggregate FIRST; the iteration folds over a 5-vector × 25-matrix
  // — bounded by the TYPE ALPHABET, never rows. Float parity: p_ij
  // are single divisions of exact longs; each step's entries fold
  // i-ascending (the fixed-order zip_with ≡ list_sum twin); the
  // uniform start 1/S is one division.
  // ---------------------------------------------------------------
  /** The (cur, nxt, c) transition-count frame — shared with the
    * batch-81 mixing-time audit (AnalyticsQueries). */
  private[operators] def markovTransitions(s: SparkSession,
      dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.table(s, dir, "events")
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("c"))
      .transform(Barrier.materialize) // consumed by states, row totals, cells, marginals
  }

  /** One-row (states, s_n, pm) row-stochastic matrix frame off the
    * transition counts — shared with AnalyticsQueries. */
  private[operators] def markovPm(tr: DataFrame): DataFrame = {
    val statesRow = tr.agg(sort_array(array_distinct(flatten(
      collect_list(array(col("cur"), col("nxt")))))).as("states"))
      .withColumn("s_n", size(col("states")))
    val rt = tr.groupBy(col("cur")).agg(sum(col("c")).as("r"))
    val cells = tr.join(rt, "cur").crossJoin(broadcast(statesRow))
      .select(col("states"), col("s_n"),
        ((array_position(col("states"), col("cur")) - 1) * col("s_n") +
          array_position(col("states"), col("nxt"))).as("k"),
        (d(col("c")) / d(col("r"))).as("p"))
    cells.groupBy(col("states"), col("s_n"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("p")))).as("mp"))
      .withColumn("pm", expr(
        "transform(sequence(1, s_n * s_n)," +
          " k -> coalesce(element_at(mp, CAST(k AS BIGINT)), CAST(0.0 AS DOUBLE)))"))
  }

  val evMarkovStationary: Q = (s, dir) => {
    val tr = markovTransitions(s, dir)
    val folded = markovPm(tr)
      .withColumn("vf", expr(
        """aggregate(
          |  sequence(1, 20),
          |  array_repeat(CAST(1.0 AS DOUBLE) / CAST(s_n AS DOUBLE), s_n),
          |  (v, it) -> transform(sequence(1, s_n),
          |    j -> aggregate(sequence(1, s_n), CAST(0.0 AS DOUBLE),
          |      (a, i) -> a + element_at(v, i)
          |        * element_at(pm, (i - 1) * s_n + j))))""".stripMargin))
      .select(explode(expr(
        "transform(sequence(1, s_n), j -> named_struct(" +
          "'state', element_at(states, j), 'pi', element_at(vf, j)))"))
        .as("o"))
      .select(col("o.state").as("state"), col("o.pi").as("pi"))
    val emp = tr.groupBy(col("cur").as("state"))
      .agg(sum(col("c")).cast("long").as("n_out"))
    val tot = emp.agg(sum(col("n_out")).as("t"))
    folded.join(emp, "state").crossJoin(broadcast(tot))
      .select(col("state"), col("n_out"),
        round(col("pi"), 6).as("p_stationary"),
        round(d(col("n_out")) / d(col("t")), 6).as("p_empirical"))
      .orderBy(col("state"))
  }

  /** Shared DuckDB matrix CTEs (tr/st/rn/pmt) — the transition
    * machinery both the stationary and mixing oracles replay. */
  private[operators] val markovCtes: String =
    """tr AS (
      |  SELECT cur, nxt, count(*) AS c FROM (
      |    SELECT event_type AS cur,
      |           lead(event_type) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS nxt
      |    FROM events)
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |st AS (SELECT list_sort(list_distinct(flatten(list([cur, nxt]))))
      |         AS states FROM tr),
      |rn AS (SELECT len(states) AS n FROM st),
      |rt AS (SELECT cur, sum(c) AS r FROM tr GROUP BY 1),
      |ent AS (
      |  SELECT (list_position(st.states, tr.cur) - 1) * rn.n
      |           + list_position(st.states, tr.nxt) AS k,
      |         CAST(tr.c AS DOUBLE) / CAST(rt.r AS DOUBLE) AS p
      |  FROM tr JOIN rt ON tr.cur = rt.cur CROSS JOIN st CROSS JOIN rn),
      |gk AS (
      |  -- range() takes no lateral args in DuckDB: fixed 25-row
      |  -- bound (the type alphabet), filtered to the true n; the
      |  -- LEFT JOIN sits outside so it stays uncorrelated
      |  SELECT (ti.i - 1) * rn.n + tj.j AS k
      |  FROM rn, range(1, 26) ti(i), range(1, 26) tj(j)
      |  WHERE ti.i <= rn.n AND tj.j <= rn.n),
      |grid AS (
      |  SELECT gk.k, coalesce(e.p, 0.0) AS p
      |  FROM gk LEFT JOIN ent e ON e.k = gk.k),
      |pmt AS (SELECT list(p ORDER BY k) AS pm FROM grid)""".stripMargin

  // ---------------------------------------------------------------
  // ev_survival_km — Kaplan–Meier survival curve for the
  // signup→purchase delay with right-censoring (Kaplan & Meier
  // 1958): per signed-up user, duration = days to the first
  // purchase AT/AFTER signup, censored at the stream horizon when
  // none. Ŝ(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over event times; censor-
  // only times shrink the risk set without a factor. Scale shape:
  // the row stream reduces through per-user min aggregates, then
  // through the per-day (dᵢ, cᵢ) aggregate; the product fold runs
  // over DISTINCT DURations (horizon-bounded days), never users —
  // the w_holt_winters convention, replayed as a recursive CTE
  // (multi-field state). Durations are exact integer-µs floor-div
  // days; each factor is one division of exact longs.
  // ---------------------------------------------------------------
  val evSurvivalKm: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events").transform(Barrier.materialize)
    val hz = ev.agg(max(col("ts")).as("hzts"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      .transform(Barrier.materialize) // consumed by the purchase filter + durations
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p0"))
    val durs = su.join(p0, Seq("user_id"), "left")
      .crossJoin(broadcast(hz))
      .select(col("user_id"),
        when(col("p0").isNotNull, 1L).otherwise(0L).as("ev"),
        expr("(unix_micros(coalesce(p0, hzts)) - unix_micros(s0))" +
          " div 86400000000").as("t_days"))
      .transform(Barrier.materialize) // consumed by the N count + the time table
    val n = durs.agg(count(lit(1)).as("n_users"))
    val byT = durs.groupBy(col("t_days"))
      .agg(sum(col("ev")).cast("long").as("dd"), count(lit(1)).as("cc"))
    val fold =
      """aggregate(
        |  ts,
        |  named_struct(
        |    'at', CAST(n_users AS BIGINT), 'p', CAST(1.0 AS DOUBLE),
        |    'out', CAST(array() AS ARRAY<STRUCT<
        |      t: BIGINT, at: BIGINT, d: BIGINT, s: DOUBLE>>)),
        |  (st, x) -> named_struct(
        |    'at', st.at - x.cc,
        |    'p', CASE WHEN x.dd > 0 THEN st.p * (1.0 -
        |        CAST(x.dd AS DOUBLE) / CAST(st.at AS DOUBLE))
        |      ELSE st.p END,
        |    'out', CASE WHEN x.dd > 0 THEN concat(st.out, array(named_struct(
        |        't', x.t_days, 'at', st.at, 'd', x.dd,
        |        's', st.p * (1.0 - CAST(x.dd AS DOUBLE)
        |          / CAST(st.at AS DOUBLE)))))
        |      ELSE st.out END))""".stripMargin
    byT.agg(sort_array(collect_list(struct(col("t_days"), col("dd"),
        col("cc")))).as("ts"))
      .crossJoin(broadcast(n))
      .select(explode(expr(s"($fold).out")).as("o"))
      .select(col("o.t").as("t_days"), col("o.at").as("n_risk"),
        col("o.d").as("n_events"), round(col("o.s"), 6).as("s_km"))
      .orderBy(col("t_days"))
  }

  // Retrieval-feedback, graph-local, time-series and
  // sequence extensions — Rocchio pseudo-relevance feedback (Rocchio
  // 1971, the query-expansion classic), per-node local clustering
  // coefficients (Watts & Strogatz 1998), classical additive seasonal
  // decomposition (the moving-average trend + day-of-week seasonal
  // split), and session path mining (top event-type trigrams) — all
  // public algorithms re-expressed Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // ev_path_mining — top session paths: sessionize each user's
  // stream on 30-minute gaps (the w_sessionize_users rule), read off
  // the (ts, event_id)-ordered event-type sequence per session, and
  // count every length-3 path (trigram shingles via the native
  // TokenShingles pass — the same primitive the text n-gram family
  // uses). Output: the 20 most frequent paths (count desc, path
  // tiebreak) — the "what do users actually do" sequence readout.
  // Scale shape: one window pass to sessionize, one bounded
  // per-session collect (sessions are gap-bounded), map-side
  // combinable path counts; the type alphabet caps distinct paths
  // at |types|³.
  // ---------------------------------------------------------------
  val evPathMining: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.table(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_session")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val seqs = sess.groupBy(col("user_id"), col("sess_id"))
      .agg(expr("transform(sort_array(collect_list(struct(ts, event_id," +
        " event_type))), x -> x.event_type)").as("seq"))
    seqs
      // TokenShingles emits ONE whole-array shingle for shorter-than-n
      // inputs (the minhash convention); paths want full trigrams only
      .filter(size(col("seq")) >= 3)
      .select(explode(graft.plans.HashExpressions
        .tokenShingles(col("seq"), 3)).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
      .orderBy(desc("n_paths"), col("path"))
      .limit(20)
  }

  // ---------------------------------------------------------------
  // ev_ltv_cohort — the cohort lifetime-value triangle (the
  // monetized twin of ev_cohort_retention): users cohort by the ISO
  // week of their first signup; each purchase lands in its
  // week-offset bucket (exact integer-µs floor-div weeks from the
  // user's own signup); per (cohort, offset): revenue and the
  // running cumulative LTV per cohort user. Money stays exact
  // DECIMAL(18,2) through the cumulative window (offsets per cohort
  // are CALENDAR-bounded — the documented low-cardinality window
  // family) and divides by the cohort size once at the edge. Scale
  // shape: per-user min aggregate → purchase equi-join → ≤
  // cohorts×offsets cells.
  // ---------------------------------------------------------------
  val evLtvCohort: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events").transform(Barrier.materialize)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      .withColumn("cohort", date_trunc("week", col("s0")).cast("date"))
      .transform(Barrier.materialize) // consumed by sizes and the purchase join
    val sizes = su.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val buckets = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .select(col("cohort"),
        expr("(unix_micros(ts) - unix_micros(s0)) div 604800000000")
          .as("week_offset"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("v")).as("rev"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort")).orderBy(col("week_offset"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    buckets
      .withColumn("cum", sum(col("rev")).over(wc))
      .join(sizes, "cohort")
      .select(col("cohort"), col("week_offset"), col("n_users"),
        col("n_purchases"), d(col("rev")).as("revenue"),
        (d(col("cum")) / d(col("n_users"))).as("cum_ltv_per_user"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  // ---------------------------------------------------------------
  // ev_watermark_lateness — event-time out-of-orderness audit: for
  // each event, lateness = how far its event time sits behind the
  // per-user high-watermark of everything that ARRIVED before it
  // (arrival order = the monotone ingest id). The lateness histogram
  // (on-time / ≤1 min / ≤5 min / ≤1 h / >1 h, plus the per-bucket
  // maximum) is exactly the measurement that sizes a Structured
  // Streaming `withWatermark` delay: the bucket where the mass stops
  // is the delay that bounds dropped-late rows. Scale shape: one
  // per-user window pass (the sessionize shape — partition-parallel,
  // one shuffle on user_id), then a 5-row bucket aggregate; the
  // share division is the only double. The final share/ordering
  // window runs on ≤5 rows (documented low-cardinality class).
  // ---------------------------------------------------------------
  val evWatermarkLateness: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = Tables.table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .select(greatest(lit(0L),
        coalesce(max(col("us")).over(w), col("us")) - col("us")).as("late_us"))
    val bucketed = late.select(
      when(col("late_us") === 0L, struct(lit(1).as("r"), lit("on_time").as("b")))
        .when(col("late_us") <= 60L * 1000000L,
          struct(lit(2).as("r"), lit("le_1m").as("b")))
        .when(col("late_us") <= 300L * 1000000L,
          struct(lit(3).as("r"), lit("le_5m").as("b")))
        .when(col("late_us") <= 3600L * 1000000L,
          struct(lit(4).as("r"), lit("le_1h").as("b")))
        .otherwise(struct(lit(5).as("r"), lit("gt_1h").as("b"))).as("bk"),
      col("late_us"))
    bucketed.groupBy(col("bk.r").as("bucket_rank"), col("bk.b").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us"))
      .select(col("bucket_rank"), col("bucket"), col("n_events"),
        round(d(col("n_events")) /
          d(sum(col("n_events")).over(Grain.whole)), 6).as("share"),
        round(d(col("max_late_us")) / lit(1000000.0), 6).as("max_late_s"))
      .orderBy(col("bucket_rank"))
  }

  // Complex-event-processing and multiple-testing
  // audits — a MATCH_RECOGNIZE-lite regex motif counter over per-user
  // event sequences, and a Benjamini–Hochberg FDR sweep over
  // per-shard rate deviations with a deterministic polynomial normal
  // CDF. Both Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // ev_pattern_regex — complex-event-processing lite: each user's
  // event history collapses to an initials string in (ts, event_id)
  // order (c/e/p/s/v), and declarative regex motifs run over it —
  // the SQL:2016 MATCH_RECOGNIZE shape (pattern over ordered rows
  // within a partition) expressed with engine primitives. Motifs:
  // the conversion funnel `vc*p` (view, any clicks, purchase), the
  // onboarding hop `sv`, and the longest error streak `e+`. The
  // patterns are anchored, star-height-1 regular expressions, where
  // Java regex and RE2 agree on leftmost non-overlapping matching —
  // and the cross-engine oracle hash IS the check of that agreement
  // at every gate scale. Scale shape: one shuffle to the per-user
  // sorted collect (the sessionize partition — per-user state never
  // leaves its executor), then pure map-side regex; output is one
  // row per user. Integer counts — exact.
  // ---------------------------------------------------------------
  val evPatternRegex: Q = (s, dir) => {
    val seq = Tables.table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          """transform(
            |  sort_array(collect_list(struct(ts, event_id,
            |    substring(event_type, 1, 1) AS i))),
            |  x -> x.i)""".stripMargin), "").as("trace"))
    seq.select(col("user_id"), col("n_events"),
        size(expr("regexp_extract_all(trace, 'vc*p', 0)")).cast("long")
          .as("n_conversion_motifs"),
        size(expr("regexp_extract_all(trace, 'sv', 0)")).cast("long")
          .as("n_signup_view"),
        coalesce(array_max(expr(
          "transform(regexp_extract_all(trace, 'e+', 0), x -> length(x))")),
          lit(0)).cast("long").as("max_error_streak"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // ev_interarrival — inter-arrival Poisson-ness audit: per event
  // type, the gaps between consecutive occurrences (global event-
  // time order with event_id tiebreak) are summarized as mean and
  // coefficient of variation — CV ≈ 1 is the Poisson signature, CV
  // ≫ 1 bursty, CV ≪ 1 metronomic; the audit that justifies (or
  // refutes) exponential-arrival assumptions in capacity planning.
  // Gaps quantize to whole seconds (exact integral µs division), so
  // n, Σg, Σg² stay in exact longs; mean leaves integer space via
  // the micro-unit division, and CV = √(n·Σg² − (Σg)²) / Σg touches
  // libm only at the final sqrt (round 6). Scale shape: one lag
  // window per event type (5 partitions here; a high-cardinality
  // key at 100 TB — the partition-parallel sessionize shape), then
  // a 5-row aggregate.
  // ---------------------------------------------------------------
  val evInterarrival: Q = (s, dir) => {
    val gaps = Tables.table(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("gap_s",
        expr("CAST((us - lag(us, 1) OVER (PARTITION BY event_type" +
          " ORDER BY us, event_id)) div 1000000 AS BIGINT)"))
      .filter(col("gap_s").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).cast("long").as("sg"),
        sum(col("gap_s") * col("gap_s")).cast("long").as("sgg"))
      .select(col("event_type"), col("n_gaps"),
        (expr("CAST((sg * 1000000) div n_gaps AS BIGINT)") /
          lit(1000000.0)).as("mean_gap_s"),
        round(sqrt(d(col("n_gaps") * col("sgg") - col("sg") * col("sg"))) /
          d(col("sg")), 6).as("cv"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // ev_shapley_credit — uniform Shapley conversion credit: each
  // purchase splits its revenue equally across the DISTINCT
  // non-purchase channels seen earlier in the user's history (for a
  // symmetric value function the Shapley value IS the uniform
  // split; purchases with no prior touch credit 'none'). The
  // complement of ev_attribution's first/last-touch: position-free
  // credit. Scale shape: one window pass per user collects the
  // distinct prior channel set ((ts, event_id)-ordered, the
  // sessionize shape), the explode is ≤ |event_types| per purchase,
  // and the credit aggregate groups by (channel, k) FIRST — exact
  // long micro-unit sums per k — so the final per-channel fold adds
  // ≤ |event_types| doubles in k order (bit-stable at any corpus
  // size; no per-purchase float list ever materializes).
  // ---------------------------------------------------------------
  val evShapleyCredit: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val p = Tables.table(s, dir, "events")
      .withColumn("chs", collect_set(touch).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        floor(dec(col("value")) * 1000000).cast("long").as("m"),
        when(size(col("chs")) === 0, array(lit("none")))
          .otherwise(col("chs")).as("chs"))
      .withColumn("k", size(col("chs")).cast("long"))
    val perK = p.select(col("m"), col("k"), explode(col("chs")).as("channel"))
      .groupBy(col("channel"), col("k"))
      .agg(count(lit(1)).as("n_conv"), sum(col("m")).cast("long").as("mk"))
      .withColumn("term", d(col("mk")) / d(col("k")) / lit(1000000.0))
    perK.groupBy(col("channel"))
      .agg(sum(col("n_conv")).cast("long").as("n_conversions"),
        round(expr("aggregate(sort_array(collect_list(struct(k, term)))," +
          " 0D, (a, x) -> a + x.term)"), 6).as("credit"))
      .orderBy(col("channel"))
  }

  // ---------------------------------------------------------------
  // ev_absorbing_markov — expected steps to absorption ('purchase')
  // for the event-type Markov chain, by 20 value-iteration sweeps
  // of t ← 1 + P·t over transient states (the fundamental-matrix
  // system N = (I−Q)⁻¹ solved iteratively — the form that
  // distributes; 20 sweeps converge from below and the count is
  // part of the contract). Transitions are the observed per-user
  // consecutive event pairs ((ts, event_id)-ordered); states with
  // no outgoing pair are dropped (documented). Probabilities are
  // exact count ratios (one double division each); each sweep folds
  // Σ p·t_j in sorted next-state order (the g_pagerank policy) over
  // a ≤|event_types|² matrix — bit-stable and trivially bounded at
  // any corpus size, since the event stream reduces through ONE
  // pair-count aggregate first.
  // ---------------------------------------------------------------
  val evAbsorbingMarkov: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("i"))
      .withColumn("j", lead(col("i"), 1).over(w))
      .filter(col("j").isNotNull)
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("nij"))
    val trans = pairs
      .join(pairs.groupBy(col("i")).agg(sum(col("nij")).cast("long").as("ni")),
        Seq("i"))
      .select(col("i"), col("j"), col("nij"), col("ni"),
        (d(col("nij")) / d(col("ni"))).as("p"))
      .transform(Barrier.materialize) // reused by all 20 sweeps + the output stats
    val states = trans.select(col("i").as("st")).distinct()
      .transform(Barrier.materialize)
    // the chain is |event_types|²-bounded at ANY corpus scale (the
    // event stream already reduced through the pair-count aggregate),
    // so the 20 value-iteration sweeps run DRIVER-SIDE over the
    // collected matrix instead of as 20 checkpointed Spark jobs (a
    // pure job-floor cost: ~20 × join+fold+checkpoint on a ~10-row
    // frame — the union-find hybrid precedent). The arithmetic
    // replays the distributed form exactly: p collected as the very
    // doubles Spark computed, contrib = p·t(j) folded in ascending-j
    // order (what sort_array(struct(j, contrib)) produced), inner-
    // join semantics via the t-map membership check.
    val tr = trans.select(col("i"), col("j"), col("p")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val stateKeys = tr.map(_._1).distinct
    // ascending-j under UTF8-BINARY order — the tie/order rule
    // sort_array(struct(j, contrib)) used in the distributed form and
    // the oracle's ORDER BY tr.j replays (DuckDB collates binary).
    // Java String compareTo is UTF-16 code-unit order, which diverges
    // for non-ASCII event types and would reorder the double fold.
    val utf8Ord: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    val outByI = tr.groupBy(_._1).map { case (i, es) =>
      i -> es.map(e => (e._2, e._3)).sortBy(_._1)(utf8Ord)
    }
    var tMap: Map[String, Double] = stateKeys.map(_ -> 0.0).toMap
    for (_ <- 1 to 20) {
      tMap = stateKeys.map { st =>
        if (st == "purchase") st -> 0.0
        else st -> (1.0 + outByI(st).foldLeft(0.0) { case (acc, (j, p)) =>
          if (tMap.contains(j)) acc + p * tMap(j) else acc
        })
      }.toMap
    }
    val tLit =
      if (stateKeys.isEmpty) lit(null).cast("double")
      else element_at(
        map(stateKeys.flatMap(st => Seq(lit(st), lit(tMap(st)))): _*),
        col("st"))
    val p1 = trans.filter(col("j") === "purchase")
      .select(col("i").as("st"), col("p").as("p_absorb_1step"))
    states
      .join(p1, Seq("st"), "left")
      .join(trans.groupBy(col("i").as("st"))
        .agg(max(col("ni")).as("n_out")), Seq("st"))
      .select(col("st").as("event_type"), col("n_out"),
        round(coalesce(col("p_absorb_1step"), lit(0.0)), 6).as("p_absorb_1step"),
        round(tLit, 6).as("t_absorb_20"))
      .orderBy(col("event_type"))
  }

  /** One unrolled value-iteration sweep of t ← 1 + P·t. */
  private def markovSweeps(n: Int): String =
    (1 to n).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT tr.i AS st,
         |         list_sum(list(tr.p * t.tv ORDER BY tr.j)) AS ex
         |  FROM tr JOIN t${k - 1} t ON t.st = tr.j GROUP BY 1),
         |t$k AS MATERIALIZED (
         |  SELECT s.st, CASE WHEN s.st = 'purchase' THEN 0.0
         |    ELSE 1.0 + coalesce(f.ex, 0.0) END AS tv
         |  FROM states s LEFT JOIN f$k f ON f.st = s.st)"""
        .stripMargin
    }.mkString(",\n")

  // Growth accounting (the new/retained/resurrected/
  // churned daily ledger — the canonical product-growth decomposition,
  // e.g. the "growth accounting equation" of Social Capital's
  // framework), weekly DAU/WAU stickiness, and a per-user bot-rate
  // audit (rate + interarrival-regularity heuristics — the traffic
  // screen crawl pipelines run before counting a "user"). All
  // integer-exact with full-replay DuckDB oracles.

  /** Distinct (user, day) activity — the growth-accounting input. */
  private def activity(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()

  // ---------------------------------------------------------------
  // ev_growth_accounting — per day: users NEW (first-ever activity),
  // RETAINED (also active the previous day), RESURRECTED (returning
  // after a gap), CHURNED (active the previous day, absent today).
  // Identities pinned in the spec: new+retained+resurrected =
  // active(d); retained(d) = active(d−1) − churned(d). Churn beyond
  // the observation window (day > max) is not reported — there is
  // no day to attribute it to. Scale shape: activity dedups to one
  // row per (user, day); ONE per-user lag/lead window classifies
  // everything (partition-parallel across users — billions of
  // independent partitions at 100 TB); day totals are bounded
  // calendar aggregates.
  // ---------------------------------------------------------------
  val evGrowthAccounting: Q = (s, dir) => {
    val act = activity(s, dir).transform(Barrier.materialize) // window scan + max-day
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val cls = act
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("nxt", lead(col("day"), 1).over(w))
      .transform(Barrier.materialize) // consumed by the day rollup AND the churn leg
    val daily = cls.groupBy(col("day"))
      .agg(sum(when(col("prev").isNull, 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("prev").isNotNull &&
            datediff(col("day"), col("prev")) === 1, 1L).otherwise(0L))
          .cast("long").as("n_retained"),
        sum(when(col("prev").isNotNull &&
            datediff(col("day"), col("prev")) > 1, 1L).otherwise(0L))
          .cast("long").as("n_resurrected"))
    val maxd = act.agg(max(col("day")).as("maxd"))
    val churn = cls
      .filter(col("nxt").isNull || datediff(col("nxt"), col("day")) > 1)
      .select(date_add(col("day"), 1).as("day"))
      .crossJoin(broadcast(maxd))
      .filter(col("day") <= col("maxd"))
      .groupBy(col("day")).agg(count(lit(1)).cast("long").as("n_churned"))
    daily.join(churn, Seq("day"), "full_outer")
      .na.fill(0L, Seq("n_new", "n_retained", "n_resurrected", "n_churned"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // ev_stickiness — weekly DAU/WAU engagement ratio: for each ISO
  // week, the mean daily-active count over the week's observed days
  // divided by the week's distinct actives. avg_dau/wau = 1 means
  // everyone who shows up shows up every day. Scale shape: DAU is a
  // per-day count over the deduped activity, WAU one distinct-count
  // per week; both bounded by the calendar after the per-(user,day)
  // dedup; the ratio is exact ints through two fixed divisions.
  // ---------------------------------------------------------------
  val evStickiness: Q = (s, dir) => {
    val act = activity(s, dir).transform(Barrier.materialize) // DAU leg + WAU leg
    val dau = act.groupBy(col("day")).agg(count(lit(1)).cast("long").as("dau"))
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("week"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("dau")).cast("long").as("sum_dau"))
    val wau = act
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("week"))
      .agg(countDistinct(col("user_id")).cast("long").as("wau"))
    dau.join(wau, Seq("week"))
      .select(col("week"), col("n_days"), col("wau"),
        round(d(col("sum_dau")) / d(col("n_days")), 6).as("avg_dau"),
        round(d(col("sum_dau")) / d(col("n_days")) / d(col("wau")), 6)
          .as("stickiness"))
      .orderBy(col("week"))
  }

  // ---------------------------------------------------------------
  // ev_bot_flag — per-user traffic screen: event rate over the
  // active span plus the interarrival coefficient of variation
  // (whole-second gaps, the ev_interarrival quantization: n, Σg,
  // Σg² stay exact longs; CV = √(n·Σg² − (Σg)²)/Σg touches libm
  // only at the final sqrt). Flag = rate > 5/min (hammering) OR
  // (≥ 20 gaps AND CV < 0.1) (metronomic scheduling — humans are
  // bursty). Scale shape: one per-user lag window (billions of
  // independent partitions), then a per-user aggregate; no join
  // anywhere.
  // ---------------------------------------------------------------
  val evBotFlag: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val gaps = ev.withColumn("gap_s",
      expr("CAST((us - lag(us, 1) OVER (PARTITION BY user_id" +
        " ORDER BY us, event_id)) div 1000000 AS BIGINT)"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        (max(col("us")) - min(col("us"))).cast("long").as("span_us"),
        sum(when(col("gap_s").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_gaps"),
        sum(col("gap_s")).cast("long").as("sg"),
        sum(col("gap_s") * col("gap_s")).cast("long").as("sgg"))
      .withColumn("rate_per_min",
        when(col("span_us") > 0,
          round(d(col("n_events")) * lit(60000000.0) / d(col("span_us")), 6)))
      .withColumn("cv",
        when(col("n_gaps") >= 2 && col("sg") > 0,
          round(sqrt(d(col("n_gaps") * col("sgg") - col("sg") * col("sg"))) /
            d(col("sg")), 6)))
      .withColumn("is_bot",
        coalesce(col("rate_per_min") > 5.0, lit(false)) ||
          (col("n_gaps") >= 20 && coalesce(col("cv") < 0.1, lit(false))))
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        col("rate_per_min"), col("cv"), col("is_bot"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // ev_entropy_rate — empirical conditional entropy of the event
  // chain: H(X_t | X_{t−1}) = −Σ_ij (c_ij/C) ln(c_ij / c_i·) over
  // per-user consecutive pairs, against the marginal H(X) over the
  // same successor stream; predictability_gain = H(X) − H(X|prev)
  // is the information the previous action carries. Scale shape:
  // ONE per-user lag window (user-parallel), one bounded ≤25-cell
  // aggregate; ln terms fold in (i, j) cell order (the a_chi_square
  // sorted-fold rule); outputs round-6.
  // ---------------------------------------------------------------
  val evEntropyRate: Q = (s, dir) => {
    val pairs = Tables.table(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev", expr("lag(event_type, 1) OVER (PARTITION BY user_id" +
        " ORDER BY us, event_id)"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("c"))
      .transform(Barrier.materialize) // row margins, totals, both entropy folds
    val rowm = pairs.groupBy(col("prev")).agg(sum(col("c")).cast("long").as("ci"))
    val colm = pairs.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("cj"))
    val tot = pairs.agg(sum(col("c")).cast("long").as("n"))
    val hCond = pairs.join(rowm, Seq("prev")).crossJoin(broadcast(tot))
      .select(col("prev"), col("event_type"),
        (-(d(col("c")) / d(col("n"))) * log(d(col("c")) / d(col("ci"))))
          .as("term"))
      .agg(expr("aggregate(sort_array(collect_list(struct(prev, event_type," +
        " term))), 0D, (a, x) -> a + x.term)").as("h_cond"))
    val hMarg = colm.crossJoin(broadcast(tot))
      .select(col("event_type"),
        (-(d(col("cj")) / d(col("n"))) * log(d(col("cj")) / d(col("n"))))
          .as("term"))
      .agg(expr("aggregate(sort_array(collect_list(struct(event_type, term)))," +
        " 0D, (a, x) -> a + x.term)").as("h_marg"))
    tot.crossJoin(broadcast(hCond)).crossJoin(broadcast(hMarg))
      .select(col("n").as("n_transitions"),
        round(col("h_marg"), 6).as("h_marginal"),
        round(col("h_cond"), 6).as("h_conditional"),
        round(col("h_marg") - col("h_cond"), 6).as("predictability_gain"))
  }

  // An SES smoothing-constant grid search (the
  // model-selection loop behind every w_ewma-style monitor — which α
  // actually forecasts best?), a columnar-encoding advisor
  // (dictionary / run-length benefit per column, the layout decision
  // a 100 TB parquet writer makes), and a session-depth histogram
  // (the engagement distribution sessionization exists to feed). All
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // ev_session_depth — events-per-session histogram under the
  // standard 30-minute inactivity cut: the engagement distribution
  // (how deep do sessions go) that sessionization feeds to product
  // analytics. Scale shape: ONE per-user lag window marks session
  // starts, a per-user running sum numbers them (both user-parallel),
  // then two bounded aggregates (per-session depth, depth
  // histogram) — all integer-exact.
  // ---------------------------------------------------------------
  val evSessionDepth: Q = (s, dir) => {
    val gapUs = 1800L * 1000000L
    val ev = Tables.table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = ev
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).cast("long").as("depth"))
    sess.groupBy(col("depth"))
      .agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy(col("depth"))
  }

  // ---------------------------------------------------------------
  // ev_circadian — per-user hour-of-day fingerprint: active-hour
  // count, Shannon entropy of the 24-bin profile, and the peak hour
  // (smallest hour on count ties). Humans concentrate in a daily
  // band (low entropy, a stable peak); schedulers spread flat —
  // the behavioral axis ev_bot_flag's CV screen doesn't see. Scale
  // shape: one (user, hour) aggregate (map-combinable), a ≤24-term
  // sorted entropy fold and a max(struct) argmax per user — no
  // windows, no joins.
  // ---------------------------------------------------------------
  val evCircadian: Q = (s, dir) => {
    val byHour = Tables.table(s, dir, "events")
      .select(col("user_id"), hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).cast("long").as("c"))
    val tot = byHour.groupBy(col("user_id"))
      .agg(sum(col("c")).cast("long").as("n"))
    byHour.join(tot, Seq("user_id"))
      .select(col("user_id"), col("n"), col("hr"), col("c"),
        (-(d(col("c")) / d(col("n"))) * log(d(col("c")) / d(col("n"))))
          .as("term"))
      .groupBy(col("user_id"), col("n"))
      .agg(count(lit(1)).cast("long").as("n_active_hours"),
        expr("aggregate(sort_array(collect_list(struct(hr, term))), 0D," +
          " (a, x) -> a + x.term)").as("h"),
        max(struct(col("c").as("c"), (-col("hr")).as("neg"))).as("top"))
      .select(col("user_id"), col("n").as("n_events"), col("n_active_hours"),
        round(col("h"), 6).as("hour_entropy"),
        (-col("top.neg")).cast("long").as("peak_hour"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // ev_retention_decay — pooled k-day return rates and their
  // exponential fit: p_k = P(user active on d+k | active on d),
  // pooled over all anchor days with d+k inside the window; the
  // ln p_k ~ k regression gives the decay rate and half-life
  // ln2/(−slope) — the single number a retention curve compresses
  // to. Scale shape: activity dedups per (user, day); the k-grid
  // join is an EQUI join on (user, day+k) — never a cross product;
  // the 14-point regression folds in k order; round-6 (libm ln).
  // ---------------------------------------------------------------
  private val RetentionMaxK = 14

  val evRetentionDecay: Q = (s, dir) => {
    val act = Tables.table(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .transform(Barrier.materialize) // anchor side, return side, max-day
    val maxd = act.agg(max(col("day")).as("maxd"))
    val anchors = act.crossJoin(broadcast(maxd))
      .select(col("user_id"), col("day"),
        explode(sequence(lit(1L), lit(RetentionMaxK.toLong))).as("k"),
        col("maxd"))
      .filter(datediff(col("maxd"), col("day")) >= col("k"))
      .withColumn("ret_day", expr("date_add(day, CAST(k AS INT))"))
    val joined = anchors.join(
        act.select(col("user_id"), col("day").as("ret_day"),
          lit(1L).as("hit")),
        Seq("user_id", "ret_day"), "left")
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_base"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_returned"))
      .withColumn("p", d(col("n_returned")) / d(col("n_base")))
      .transform(Barrier.materialize) // regression AND the output rows
    def fold(v: String): Column =
      expr(s"aggregate(sort_array(collect_list(struct(k, $v))), 0D," +
        s" (a, q) -> a + q.$v)")
    val reg = joined
      .select(col("k"), d(col("k")).as("x"), log(col("p")).as("y"),
        (d(col("k")) * log(col("p"))).as("xy"),
        (d(col("k")) * d(col("k"))).as("xx"))
      .agg(count(lit(1)).cast("long").as("m"), fold("x").as("sx"),
        fold("y").as("sy"), fold("xy").as("sxy"), fold("xx").as("sxx"))
      .select(((d(col("m")) * col("sxy") - col("sx") * col("sy")) /
        (d(col("m")) * col("sxx") - col("sx") * col("sx"))).as("slope"))
    joined.crossJoin(broadcast(reg))
      .select(col("k"), col("n_base"), col("n_returned"),
        round(col("p"), 6).as("p_return"),
        round(col("slope"), 6).as("decay_slope"),
        when(col("slope") < 0.0,
          round(lit(math.log(2.0)) / -col("slope"), 6)).as("half_life_days"))
      .orderBy(col("k"))
  }

  // ---------------------------------------------------------------
  // ev_bot_flags — bot-traffic triage per user (complements
  // EventQueries's ev_bot_flag, which screens on absolute rate +
  // interarrival CV; this one uses a CORPUS-RELATIVE rate threshold
  // and a per-minute burst rule — the two screens catch different
  // bot shapes and ship together in practice): sustained rate
  // (events per active day above 1.15× the corpus MEDIAN rate — a
  // corpus-relative threshold, so the audit ports across scales) and
  // burstiness (≥ 2 events inside one minute — scripted clients
  // fire faster than humans navigate). Flagged users only, with the
  // evidence columns; the upstream cleaning step every behavioral /
  // preference dataset applies before training. Scale shape: two
  // user-keyed aggregates (events → per-minute counts → per-user
  // max), the median rate via the two-phase global rank over the
  // USER list (not the event stream), flags map-side.
  // ---------------------------------------------------------------
  private val BotRateFactor = 1.15

  private val BotBurstMin = 2L

  val evBotFlags: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("user_id"), col("ts"),
        date_trunc("minute", col("ts")).as("mi"),
        to_date(col("ts")).as("day"))
    val per = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("day")).cast("long").as("active_days"))
      .withColumn("epd", d(col("n_events")) / d(col("active_days")))
      .transform(Barrier.materialize) // rank pass + the flag join share it
    val burst = ev.groupBy(col("user_id"), col("mi"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).cast("long").as("max_per_minute"))
    val bounds = per.agg(count(lit(1)).cast("long").as("n"))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("(n + 2) div 2"))
    val med = Ranking.withGlobalRank(per.select(col("user_id"), col("epd")),
        "rk", col("epd"), col("user_id"))
      .crossJoin(broadcast(bounds))
      .filter(col("rk") >= col("lo") && col("rk") <= col("hi"))
      .agg((sum(col("epd")) / d(count(lit(1)))).as("med_epd"))
    per.join(burst, "user_id").crossJoin(broadcast(med))
      .withColumn("flag_rate", col("epd") > lit(BotRateFactor) * col("med_epd"))
      .withColumn("flag_burst", col("max_per_minute") >= BotBurstMin)
      .filter(col("flag_rate") || col("flag_burst"))
      .select(col("user_id"), col("n_events"), col("active_days"),
        round(col("epd"), 6).as("events_per_day"),
        col("max_per_minute"), round(col("med_epd"), 6).as("median_rate"),
        col("flag_rate"), col("flag_burst"))
      .orderBy(col("user_id"))
  }

  // DAU/MAU stickiness (the product-analytics
  // engagement ratio, computed with a bounded contribute-to-window
  // expansion instead of a sliding distinct-count), and the Hill
  // tail-index of per-user activity (Hill 1975 — the heavy-tail
  // exponent that decides whether "average events per user" is even
  // meaningful, and the behavioral twin of the token-side Zipf fit).
  // Full-replay DuckDB oracles for both.

  // ---------------------------------------------------------------
  // ev_dau_mau — per day: DAU, trailing-28-day MAU, and the DAU/MAU
  // stickiness ratio (the daily companion of ev_stickiness's weekly
  // DAU/WAU view). A sliding COUNT DISTINCT is the naive
  // plan (re-scans 28 days per day); instead each (user, activity
  // day) pair CONTRIBUTES itself to the ≤28 future windows it keeps
  // alive — a bounded 28× fan-out of the deduplicated user-day set,
  // then MAU is a plain per-day distinct count and the whole thing
  // is two hash aggregates around one bounded explode. Days with no
  // trailing window yet (the first 27) still report their partial
  // window, as product dashboards do. Only days with DAU > 0 emit
  // (the synthetic corpus has no gap days; a calendar spine would
  // left-join them as zero).
  // ---------------------------------------------------------------
  private val MauWindowDays = 28

  val evDauMau: Q = (s, dir) => {
    val userDays = Tables.table(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .transform(Barrier.materialize) // DAU side and the MAU fan-out share it
    val maxd = userDays.agg(max(col("day")).as("maxd"))
    val dau = userDays.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).cast("long").as("dau"))
    val mau = userDays.crossJoin(broadcast(maxd))
      .select(col("user_id"),
        explode(sequence(lit(0), lit(MauWindowDays - 1))).as("k"),
        col("day"), col("maxd"))
      .select(col("user_id"),
        expr("date_add(day, k)").as("day"), col("maxd"))
      .filter(col("day") <= col("maxd"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).cast("long").as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        round(d(col("dau")) / d(col("mau")), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // ev_hill_tail — Hill estimator of the per-user activity tail
  // index over the top k order statistics: α̂ = k / Σ_{i≤k}
  // ln(x_(i) / x_(k+1)) with the standard x_(k+1) threshold and the
  // usual data-adaptive k = clamp(n_users/4, 2, 50). α ≤ 2 means
  // infinite variance — per-user averages are unstable and sampling
  // must stratify; the behavioral twin of the token Zipf fit. Scale
  // shape: per-user counts are one aggregate; the order statistics
  // rank through Ranking.withGlobalRank (two-phase — the user list
  // is corpus-sized, never a single-partition sort); the ln fold
  // runs in sorted (count, user) order — bit-stable; one row out.
  // ---------------------------------------------------------------
  val evHillTail: Q = (s, dir) => {
    val per = Tables.table(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("c"))
      .transform(Barrier.materialize) // rank pass + the k scalar share it
    val kf = per.agg(count(lit(1)).as("nu"))
      .select(least(lit(50L), greatest(lit(2L), expr("nu div 4")))
        .cast("long").as("kk"))
    val ranked = Ranking.withGlobalRank(per, "rk", desc("c"), col("user_id"))
    val thr = ranked.crossJoin(broadcast(kf))
      .filter(col("rk") === col("kk") + 1)
      .select(col("c").as("x_k1"), col("kk"))
    ranked.crossJoin(broadcast(thr))
      .filter(col("rk") <= col("kk"))
      .agg(count(lit(1)).cast("long").as("k"),
        min(col("x_k1")).cast("long").as("x_threshold"),
        expr("aggregate(sort_array(collect_list(named_struct(" +
          "'c', c, 'user_id', user_id," +
          " 'v', ln(CAST(c AS DOUBLE) / CAST(x_k1 AS DOUBLE))))), 0D," +
          " (a, q) -> a + q.v)").as("lnsum"))
      .select(col("k"), col("x_threshold"),
        round(col("lnsum"), 6).as("ln_sum"),
        round(d(col("k")) / col("lnsum"), 6).as("hill_alpha"),
        (d(col("k")) / col("lnsum") <= 2.0).as("infinite_variance"))
  }

  // ---------------------------------------------------------------
  // ev_fano_dispersion — Fano factor F = Var/Mean of per-minute
  // arrivals per event type over the FULL observed span (Poisson ⇒
  // F = 1). Empty minutes are never materialized: with N span
  // minutes, T events and Σc² over occupied minutes only,
  // Var = (Σc² − T²/N)/(N−1) exactly. T, Σc², N are exact longs
  // (minute buckets via integer µs division); the χ² index
  // D = (N−1)·F with the normal approximation z = (D−(N−1))/√(2(N−1))
  // classifies over/under-dispersed at |z| > 1.96. Scale shape: one
  // map-side (type, minute) count, one (type) re-aggregate, a
  // broadcast scalar span — no window, no spine.
  // ---------------------------------------------------------------
  val evFanoDispersion: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
    val perMin = ev.groupBy(col("event_type"), col("minute"))
      .agg(count(lit(1)).cast("long").as("c"))
    val span = ev.agg((max(col("minute")) - min(col("minute")) + 1L)
      .cast("long").as("n_min"))
    val st = perMin.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("t"),
        sum(col("c") * col("c")).cast("long").as("sc2"),
        count(lit(1)).cast("long").as("n_occupied"))
      .crossJoin(broadcast(span))
    val mean = d(col("t")) / d(col("n_min"))
    val vr = (d(col("sc2")) - d(col("t")) * d(col("t")) / d(col("n_min"))) /
      d(col("n_min") - 1L)
    val fano = vr / mean
    val z = (d(col("n_min") - 1L) * fano - d(col("n_min") - 1L)) /
      sqrt(lit(2.0) * d(col("n_min") - 1L))
    st.select(col("event_type"), col("n_min").as("n_minutes"),
      col("t").as("n_events"), col("n_occupied"),
      round(mean, 6).as("mean_per_min"),
      round(fano, 6).as("fano"),
      round(z, 6).as("z"),
      when(z > 1.96, "overdispersed").when(z < -1.96, "underdispersed")
        .otherwise("poisson_compatible").as("verdict"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // ev_logrank — H0: weekend-signup and weekday-signup users share
  // one signup→purchase survival curve. Durations and censoring are
  // EXACTLY ev_survival_km's ledger (first purchase at/after first
  // signup, censored at the stream horizon, integer-µs day floors);
  // the group label is the a_cohens_h weekend convention. At each
  // distinct duration with any event: O₁ = d₁ₜ, E₁ = dₜ·n₁ₜ/nₜ,
  // V = dₜ(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1); χ² = (Σ(O−E))²/ΣV,
  // df 1. Risk sets come from per-group EXCLUSIVE cumsums over the
  // ≤horizon-day aggregated time table (calendar-bounded window —
  // the gold-frame class); the O−E and V folds run t-ascending.
  // ---------------------------------------------------------------
  val evLogrank: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events").transform(Barrier.materialize)
    val hz = ev.agg(max(col("ts")).as("hzts"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      .transform(Barrier.materialize) // purchase filter + durations
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p0"))
    val durs = su.join(p0, Seq("user_id"), "left")
      .crossJoin(broadcast(hz))
      .select(col("user_id"),
        when(dayofweek(col("s0")).isin(1, 7), "weekend")
          .otherwise("weekday").as("g"),
        when(col("p0").isNotNull, 1L).otherwise(0L).as("ev"),
        expr("(unix_micros(coalesce(p0, hzts)) - unix_micros(s0))" +
          " div 86400000000").as("t_days"))
      .transform(Barrier.materialize) // totals + the time table
    val tots = durs.groupBy(col("g")).agg(count(lit(1)).cast("long").as("tot"))
    val byTG = durs.groupBy(col("t_days"), col("g"))
      .agg(sum(col("ev")).cast("long").as("dd"),
        count(lit(1)).cast("long").as("cc"))
    // dense ≤horizon-days × 2 grid, exclusive per-group cumsum
    val dense = durs.select(col("t_days")).distinct()
      .crossJoin(broadcast(tots))
      .join(byTG, Seq("t_days", "g"), "left")
      .select(col("t_days"), col("g"), col("tot"),
        coalesce(col("dd"), lit(0L)).as("dd"),
        coalesce(col("cc"), lit(0L)).as("cc"))
      .withColumn("gone", coalesce(sum(col("cc")).over(
        Window.partitionBy(col("g")).orderBy(col("t_days"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("atrisk", col("tot") - col("gone"))
    val wide = dense.groupBy(col("t_days"))
      .agg(sum(when(col("g") === "weekend", col("dd")).otherwise(0L))
        .cast("long").as("d1"),
        sum(col("dd")).cast("long").as("dt"),
        sum(when(col("g") === "weekend", col("atrisk")).otherwise(0L))
          .cast("long").as("n1"),
        sum(col("atrisk")).cast("long").as("nt"))
      .filter(col("dt") > 0 && col("nt") > 1)
      .withColumn("oe", d(col("d1")) -
        d(col("dt")) * d(col("n1")) / d(col("nt")))
      .withColumn("vv", d(col("dt")) * (d(col("n1")) / d(col("nt"))) *
        (lit(1.0) - d(col("n1")) / d(col("nt"))) *
        (d(col("nt") - col("dt")) / d(col("nt") - 1L)))
    val folded = wide.agg(
      count(lit(1)).cast("long").as("n_event_times"),
      sum(col("d1")).cast("long").as("o1"),
      expr("aggregate(sort_array(collect_list(struct(t_days, oe))), 0D," +
        " (a, x) -> a + x.oe)").as("soe"),
      expr("aggregate(sort_array(collect_list(struct(t_days, vv))), 0D," +
        " (a, x) -> a + x.vv)").as("sv"))
    folded
      .crossJoin(broadcast(tots.groupBy()
        .agg(sum(when(col("g") === "weekend", col("tot")).otherwise(0L))
          .cast("long").as("n_weekend"),
          sum(when(col("g") === "weekday", col("tot")).otherwise(0L))
            .cast("long").as("n_weekday"))))
      .select(col("n_weekend"), col("n_weekday"), col("n_event_times"),
        col("o1").as("observed_weekend"),
        round(d(col("o1")) - col("soe"), 6).as("expected_weekend"),
        // ΣV = 0 ⟺ one cohort never at risk at any event time (tiny
        // SFs): the test is undefined — NULL, not a division error
        when(col("sv") > 0.0,
          round(col("soe") * col("soe") / col("sv"), 6)).as("chi2"),
        when(col("sv") > 0.0,
          col("soe") * col("soe") / col("sv") > 3.841).as("significant"))
  }

  // Sequential drift detection, the cumulative-
  // hazard companion of the survival family, a binary corruption
  // gate for the multimodal path, and a Bloom-filter sizing advisor.
  //
  //  - w_page_hinkley — Page–Hinkley mean-shift monitor on daily
  //    revenue, per-year reset (the sequential-decision sibling of
  //    w_cusum_drift, which tracks deviation from a FIXED mean; PH
  //    tracks deviation from the RUNNING mean, so it needs no
  //    training period).
  //  - ev_nelson_aalen — Nelson–Aalen cumulative hazard + the
  //    Fleming–Harrington survival estimate on the registered
  //    signup→purchase duration ledger (ev_survival_km's KM product
  //    estimator is biased high in small risk sets; NA/FH is the
  //    standard cross-check).
  //  - mm_byte_entropy — per-media byte-histogram Shannon entropy
  //    through the PORTABLE hex encoding (both engines hex the blob
  //    identically, so the audit needs no decoder): flags
  //    encrypted/compressed-looking payloads (≥ 7.5 bits) and
  //    degenerate fills (< 2 bits) before they reach a trainer.
  //  - o_bloom_advisor — m/k sizing of the per-key Bloom runtime
  //    filters (a_bloom_prune's contract) from exact key counts over
  //    an fpp grid — the layout advisor a 100 TB join plan consults.
  //
  // Float policy: every cumulative quantity that crosses a window is
  // INTEGER (micro-unit integral divisions before the cumsum — a
  // float running sum would inherit the engine's window-aggregation
  // association); per-row doubles are fixed formulas; outputs
  // round-6.

  // ---------------------------------------------------------------
  // ev_nelson_aalen — durations from the ev_survival_km ledger
  // (first signup → first subsequent purchase, right-censored at
  // the corpus horizon). Per event day t: H(t) = Σ d_i/n_i and
  // Var = Σ d_i/n_i², both accumulated as exact pico-unit integral
  // divisions (d·10¹² div n) so the running sums are integer window
  // aggregates. S_FH = exp(−H). The risk set comes from the exact
  // exclusive cumsum of leavers — integer throughout.
  // ---------------------------------------------------------------
  val evNelsonAalen: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
    val hz = ev.agg(max(col("ts")).as("hzts"))
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p0"))
    val durs = su.join(p0, Seq("user_id"), "left").crossJoin(broadcast(hz))
      .select(col("user_id"),
        when(col("p0").isNotNull, 1L).otherwise(0L).as("ev"),
        expr("(unix_micros(coalesce(p0, hzts)) - unix_micros(s0))" +
          " div 86400000000").as("t_days"))
    val nUsers = durs.agg(count(lit(1)).cast("long").as("n_users"))
    val wt = Grain.bounded(col("t_days"))
    val byT = durs.groupBy(col("t_days"))
      .agg(sum(col("ev")).cast("long").as("dd"),
        count(lit(1)).cast("long").as("cc"))
      .crossJoin(broadcast(nUsers))
      .withColumn("left_before",
        coalesce(sum(col("cc")).over(
          wt.rowsBetween(Long.MinValue, -1)), lit(0L)).cast("long"))
      .withColumn("n_risk", (col("n_users") - col("left_before")).cast("long"))
      // pico-unit exact hazard increments
      .withColumn("h_q", expr("(dd * 1000000000000) div n_risk"))
      .withColumn("v_q", expr("(dd * 1000000000000) div (n_risk * n_risk)"))
      .withColumn("h_cum", sum(col("h_q")).over(wt).cast("long"))
      .withColumn("v_cum", sum(col("v_q")).over(wt).cast("long"))
    byT.filter(col("dd") > 0L)
      .select(col("t_days"), col("n_risk"), col("dd").as("n_events"),
        round(d(col("h_cum")) / 1e12, 6).as("h_na"),
        round(sqrt(d(col("v_cum")) / 1e12), 6).as("se_na"),
        round(exp(-d(col("h_cum")) / 1e12), 6).as("s_fh"))
      .orderBy(col("t_days"))
  }

  // ---------------------------------------------------------------
  // ev_markov_mixing — π from the registered 20-step uniform
  // iteration, then v₀ = point mass at the FIRST (alphabetical)
  // state; per step: v ← v·P and TV = ½·Σ|v_i − π_i| (i-ascending
  // folds — the ev_markov_stationary float policy). Everything is
  // bounded by the type alphabet (≤ 5 states here): the corpus
  // reduces through one ≤25-cell aggregate, the iteration is a
  // ≤16×25 fold. Output: one row per step with the TV and whether
  // the chain has mixed at τ = 0.05.
  // ---------------------------------------------------------------
  private val MixSteps = 16

  val evMarkovMixing: Q = (s, dir) => {
    val tr = markovTransitions(s, dir)
    val base = markovPm(tr)
      .withColumn("pi", expr(
        """aggregate(
          |  sequence(1, 20),
          |  array_repeat(CAST(1.0 AS DOUBLE) / CAST(s_n AS DOUBLE), s_n),
          |  (v, it) -> transform(sequence(1, s_n),
          |    j -> aggregate(sequence(1, s_n), CAST(0.0 AS DOUBLE),
          |      (a, i) -> a + element_at(v, i)
          |        * element_at(pm, (i - 1) * s_n + j))))""".stripMargin))
    val stepExpr =
      """transform(sequence(1, s_n),
        |  j -> aggregate(sequence(1, s_n), CAST(0.0 AS DOUBLE),
        |    (a, i) -> a + element_at(st.v, i)
        |      * element_at(pm, (i - 1) * s_n + j)))""".stripMargin
        .replaceAll("\n", " ")
    val tvOf = (vexpr: String) =>
      s"""aggregate(sequence(1, s_n), CAST(0.0 AS DOUBLE),
         |  (a, i) -> a + abs(element_at($vexpr, i) - element_at(pi, i)))
         | / 2.0""".stripMargin.replaceAll("\n", " ")
    base
      .withColumn("walk", expr(
        s"""aggregate(
           |  sequence(1, $MixSteps),
           |  named_struct(
           |    'v', transform(sequence(1, s_n),
           |           j -> IF(j = 1, CAST(1.0 AS DOUBLE),
           |                   CAST(0.0 AS DOUBLE))),
           |    'out', CAST(array() AS ARRAY<STRUCT<k: INT, tv: DOUBLE>>)),
           |  (st, it) -> named_struct(
           |    'v', $stepExpr,
           |    'out', concat(st.out, array(named_struct(
           |      'k', it, 'tv', ${tvOf(s"($stepExpr)")})))),
           |  st -> st.out)""".stripMargin.replaceAll("\n", " ")))
      .select(element_at(col("states"), 1).as("start_state"),
        col("s_n").cast("long").as("n_states"),
        explode(col("walk")).as("o"))
      .select(col("start_state"), col("n_states"),
        col("o.k").cast("long").as("step"),
        round(col("o.tv"), 6).as("tv_distance"),
        (col("o.tv") < 0.05).as("mixed"))
      .orderBy(col("step"))
  }

  val queries: Map[String, Q] = Map(
    "ev_tumbling_daily" -> evTumblingDaily,
    "ev_hopping_daily" -> evHoppingDaily,
    "ev_json_extract_sum" -> evJsonExtractSum,
    "ev_json_struct" -> evJsonStruct,
    "ev_funnel" -> evFunnel,
    "ev_cohort_retention" -> evCohortRetention,
    "ev_transitions" -> evTransitions,
    "ev_anomaly_days" -> evAnomalyDays,
    "ev_session_window" -> evSessionWindow,
    "ev_rfm_segments" -> evRfmSegments,
    "ev_peak_concurrency" -> evPeakConcurrency,
    "ev_attribution" -> evAttribution,
    "ev_markov_stationary" -> evMarkovStationary,
    "ev_survival_km" -> evSurvivalKm,
    "ev_ltv_cohort" -> evLtvCohort,
    "ev_path_mining" -> evPathMining,
    "ev_watermark_lateness" -> evWatermarkLateness,
    "ev_pattern_regex" -> evPatternRegex,
    "ev_interarrival" -> evInterarrival,
    "ev_shapley_credit" -> evShapleyCredit,
    "ev_absorbing_markov" -> evAbsorbingMarkov,
    "ev_growth_accounting" -> evGrowthAccounting,
    "ev_stickiness" -> evStickiness,
    "ev_bot_flag" -> evBotFlag,
    "ev_entropy_rate" -> evEntropyRate,
    "ev_session_depth" -> evSessionDepth,
    "ev_circadian" -> evCircadian,
    "ev_retention_decay" -> evRetentionDecay,
    "ev_bot_flags" -> evBotFlags,
    "ev_dau_mau" -> evDauMau,
    "ev_hill_tail" -> evHillTail,
    "ev_fano_dispersion" -> evFanoDispersion,
    "ev_logrank" -> evLogrank,
    "ev_nelson_aalen" -> evNelsonAalen,
    "ev_markov_mixing" -> evMarkovMixing)

  val oracles: Map[String, String] = Map(
    "ev_tumbling_daily" ->
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_hopping_daily" ->
      // replay: a 2-day/1-day hop assigns each event to the windows
      // starting at its day and the day before
      """SELECT date_trunc('day', ts) - to_days(CAST(k AS INTEGER)) AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events, (VALUES (0), (1)) t(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_json_struct" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_parsed
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_json_extract_sum" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical double formula text both sides: mean = s1/nd inlined
    // everywhere it appears, sd from the raw second moment
    "ev_anomaly_days" ->
      """SELECT day, c, z FROM (
        |  SELECT day, c,
        |         (CAST(c AS DOUBLE) - s1 / nd)
        |           / sqrt(s2 / nd - (s1 / nd) * (s1 / nd)) AS z
        |  FROM (SELECT day, c,
        |               CAST(COUNT(*) OVER () AS DOUBLE) AS nd,
        |               CAST(SUM(c) OVER () AS DOUBLE) AS s1,
        |               CAST(SUM(c * c) OVER () AS DOUBLE) AS s2
        |        FROM (SELECT CAST(ts AS DATE) AS day, count(*) AS c
        |              FROM events GROUP BY 1)))
        |WHERE abs(z) > 1.5 ORDER BY day""".stripMargin,
    "ev_cohort_retention" ->
      """WITH fs AS (
        |  SELECT user_id,
        |         min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT cohort_week,
        |       CAST(datediff('day', cohort_week,
        |              CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |       count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_transitions" ->
      """WITH pairs AS (
        |  SELECT prev, event_type AS next, count(*) AS c
        |  FROM (SELECT user_id, event_type,
        |               lag(event_type) OVER (PARTITION BY user_id
        |                                     ORDER BY ts, event_id) AS prev
        |        FROM events)
        |  WHERE prev IS NOT NULL
        |  GROUP BY 1, 2),
        |totals AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS row_total
        |           FROM pairs GROUP BY 1)
        |SELECT prev, next, c,
        |       CAST(c AS DOUBLE) / CAST(row_total AS DOUBLE) AS p_next
        |FROM pairs JOIN totals USING (prev)
        |ORDER BY prev, next""".stripMargin,
    "ev_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS first_signup
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, min(ts) AS first_purchase
        |       FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT count(*) AS n_signup_users,
        |       count(CASE WHEN first_purchase >= first_signup THEN 1 END) AS n_converted,
        |       CAST(count(CASE WHEN first_purchase >= first_signup THEN 1 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS conversion
        |FROM su LEFT JOIN pu USING (user_id)""".stripMargin,
    "ev_session_window" ->
      """SELECT n_events, count(*) AS n_sessions FROM (
        |  SELECT user_id, sess, count(*) AS n_events FROM (
        |    SELECT user_id,
        |           SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |    FROM (SELECT user_id, ts, event_id,
        |                 CASE WHEN prev_us IS NULL
        |                        OR epoch_us(ts) - prev_us > 1800000000 THEN 1
        |                      ELSE 0 END AS ns
        |          FROM (SELECT user_id, ts, event_id,
        |                       lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                               ORDER BY ts, event_id) AS prev_us
        |                FROM events)))
        |  GROUP BY 1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |         count(*) AS frequency,
        |         list_sum(list(value ORDER BY event_id)) AS monetary
        |  FROM events GROUP BY 1),
        |a AS (SELECT max(CAST(ts AS DATE)) AS now_day FROM events),
        |b AS (
        |  SELECT u.*, date_diff('day', last_day, now_day) AS recency_days
        |  FROM u CROSS JOIN a),
        |nn AS (SELECT count(*) AS n FROM b),
        |rk AS (
        |  SELECT b.*,
        |         row_number() OVER (ORDER BY recency_days, user_id) AS rrk,
        |         row_number() OVER (ORDER BY frequency DESC, user_id) AS frk,
        |         row_number() OVER (ORDER BY monetary DESC, user_id) AS mrk
        |  FROM b),
        |seg AS (
        |  SELECT 'R' || CAST((4 * (rrk - 1)) // nn.n + 1 AS VARCHAR)
        |      || 'F' || CAST((4 * (frk - 1)) // nn.n + 1 AS VARCHAR)
        |      || 'M' || CAST((4 * (mrk - 1)) // nn.n + 1 AS VARCHAR) AS segment,
        |         recency_days, frequency
        |  FROM rk CROSS JOIN nn)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(recency_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS avg_recency_days,
        |       CAST(sum(frequency) AS BIGINT) AS total_events
        |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_peak_concurrency" ->
      """WITH d AS (
        |  SELECT event_id, ts AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 5 MINUTE, -1 FROM events),
        |s AS (
        |  SELECT t, delta,
        |         sum(delta) OVER (ORDER BY t, delta, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
        |  FROM d)
        |SELECT CAST(t AS DATE) AS day, CAST(max(active) AS BIGINT) AS peak_active,
        |       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opens
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_attribution" ->
      """WITH t AS (
        |  SELECT *,
        |         coalesce(first_value(CASE WHEN event_type <> 'purchase'
        |             THEN event_type END IGNORE NULLS) OVER w, 'none')
        |           AS first_touch,
        |         coalesce(last_value(CASE WHEN event_type <> 'purchase'
        |             THEN event_type END IGNORE NULLS) OVER w, 'none')
        |           AS last_touch
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT * FROM t WHERE event_type = 'purchase'),
        |f AS (
        |  SELECT first_touch AS channel, CAST(count(*) AS BIGINT) AS n_first,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS fv
        |  FROM p GROUP BY 1),
        |l AS (
        |  SELECT last_touch AS channel, CAST(count(*) AS BIGINT) AS n_last,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS lv
        |  FROM p GROUP BY 1)
        |SELECT coalesce(f.channel, l.channel) AS channel,
        |       coalesce(f.n_first, 0) AS n_first,
        |       CAST(coalesce(f.fv, 0) AS DOUBLE) AS first_touch_value,
        |       coalesce(l.n_last, 0) AS n_last,
        |       CAST(coalesce(l.lv, 0) AS DOUBLE) AS last_touch_value
        |FROM f FULL OUTER JOIN l ON f.channel = l.channel
        |ORDER BY channel""".stripMargin,
    "ev_markov_stationary" ->
      s"""WITH RECURSIVE $markovCtes,
        |it(stp, v) AS (
        |  SELECT 0, list_transform(range(1, rn.n + 1),
        |           x -> CAST(1.0 AS DOUBLE) / CAST(rn.n AS DOUBLE))
        |  FROM rn
        |  UNION ALL
        |  SELECT stp + 1,
        |         list_transform(range(1, rn.n + 1),
        |           j -> list_sum(list_transform(range(1, rn.n + 1),
        |             i -> v[i] * pm[(i - 1) * rn.n + j])))
        |  FROM it, pmt, rn WHERE stp < 20),
        |vf AS (SELECT v FROM it WHERE stp = 20),
        |emp AS (SELECT cur AS state, CAST(sum(c) AS BIGINT) AS n_out
        |        FROM tr GROUP BY 1),
        |tt AS (SELECT sum(n_out) AS t FROM emp)
        |SELECT st.states[j.j] AS state, emp.n_out,
        |       round(vf.v[j.j], 6) AS p_stationary,
        |       round(CAST(emp.n_out AS DOUBLE) / CAST(tt.t AS DOUBLE), 6)
        |         AS p_empirical
        |FROM rn, range(1, 26) j(j)
        |CROSS JOIN st CROSS JOIN vf CROSS JOIN tt
        |JOIN emp ON emp.state = st.states[j.j]
        |WHERE j.j <= rn.n
        |ORDER BY state""".stripMargin,
    "ev_survival_km" ->
      """WITH RECURSIVE hz AS (SELECT max(ts) AS hzts FROM events),
        |su AS (SELECT user_id, min(ts) AS s0 FROM events
        |       WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (
        |  SELECT e.user_id, min(e.ts) AS p0 FROM events e
        |  JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s0 GROUP BY 1),
        |durs AS (
        |  SELECT su.user_id,
        |         CASE WHEN p0.p0 IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |         (epoch_us(coalesce(p0.p0, hz.hzts)) - epoch_us(su.s0))
        |           // 86400000000 AS t_days
        |  FROM su LEFT JOIN p0 ON su.user_id = p0.user_id CROSS JOIN hz),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM durs),
        |byt AS (
        |  SELECT t_days, CAST(sum(ev) AS BIGINT) AS dd,
        |         CAST(count(*) AS BIGINT) AS cc,
        |         CAST(row_number() OVER (ORDER BY t_days) AS INTEGER) AS rk
        |  FROM durs GROUP BY 1),
        |km(rk, t_days, at_before, dd, p_after, at_after) AS (
        |  SELECT 0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(1.0 AS DOUBLE), nn.n_users
        |  FROM nn
        |  UNION ALL
        |  SELECT b.rk, b.t_days, km.at_after, b.dd,
        |         CASE WHEN b.dd > 0 THEN km.p_after * (1.0 -
        |             CAST(b.dd AS DOUBLE) / CAST(km.at_after AS DOUBLE))
        |           ELSE km.p_after END,
        |         km.at_after - b.cc
        |  FROM km JOIN byt b ON b.rk = km.rk + 1)
        |SELECT t_days, at_before AS n_risk, dd AS n_events,
        |       round(p_after, 6) AS s_km
        |FROM km WHERE rk >= 1 AND dd > 0
        |ORDER BY t_days""".stripMargin,
    "ev_ltv_cohort" ->
      """WITH su AS (
        |  SELECT user_id, min(ts) AS s0,
        |         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |       FROM su GROUP BY 1),
        |bk AS (
        |  SELECT su.cohort,
        |         (epoch_us(e.ts) - epoch_us(su.s0)) // 604800000000
        |           AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_purchases,
        |         SUM(CAST(e.value AS DECIMAL(18,2))) AS rev
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s0
        |  GROUP BY 1, 2),
        |cm AS (
        |  SELECT *, SUM(rev) OVER (PARTITION BY cohort ORDER BY week_offset
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bk)
        |SELECT cm.cohort, cm.week_offset, sz.n_users, cm.n_purchases,
        |       CAST(cm.rev AS DOUBLE) AS revenue,
        |       CAST(cm.cum AS DOUBLE) / CAST(sz.n_users AS DOUBLE)
        |         AS cum_ltv_per_user
        |FROM cm JOIN sz ON cm.cohort = sz.cohort
        |ORDER BY cm.cohort, cm.week_offset""".stripMargin,
    "ev_path_mining" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS sess_id
        |  FROM s),
        |sq AS (
        |  SELECT user_id, sess_id,
        |         list(event_type ORDER BY ts, event_id) AS seq
        |  FROM sid GROUP BY 1, 2),
        |paths AS (
        |  SELECT unnest(list_transform(range(1, len(seq) - 1),
        |           i -> seq[i] || ' ' || seq[i + 1] || ' ' || seq[i + 2]))
        |           AS path
        |  FROM sq WHERE len(seq) >= 3)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_paths
        |FROM paths GROUP BY 1
        |ORDER BY n_paths DESC, path LIMIT 20""".stripMargin,
    "ev_watermark_lateness" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |late AS (
        |  SELECT greatest(0, coalesce(max(us) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), us)
        |         - us) AS late_us
        |  FROM e),
        |b AS (
        |  SELECT CASE WHEN late_us = 0 THEN 1
        |              WHEN late_us <= 60000000 THEN 2
        |              WHEN late_us <= 300000000 THEN 3
        |              WHEN late_us <= 3600000000 THEN 4
        |              ELSE 5 END AS bucket_rank,
        |         CASE WHEN late_us = 0 THEN 'on_time'
        |              WHEN late_us <= 60000000 THEN 'le_1m'
        |              WHEN late_us <= 300000000 THEN 'le_5m'
        |              WHEN late_us <= 3600000000 THEN 'le_1h'
        |              ELSE 'gt_1h' END AS bucket,
        |         late_us
        |  FROM late),
        |g AS (
        |  SELECT bucket_rank, bucket, CAST(count(*) AS BIGINT) AS n_events,
        |         max(late_us) AS max_late_us
        |  FROM b GROUP BY 1, 2)
        |SELECT bucket_rank, bucket, n_events,
        |       round(CAST(n_events AS DOUBLE)
        |         / CAST(sum(n_events) OVER () AS DOUBLE), 6) AS share,
        |       round(CAST(max_late_us AS DOUBLE) / 1000000.0, 6) AS max_late_s
        |FROM g ORDER BY bucket_rank""".stripMargin,
    "ev_pattern_regex" ->
      """WITH traces AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         string_agg(substr(event_type, 1, 1), ''
        |           ORDER BY ts, event_id) AS trace
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events,
        |       CAST(len(regexp_extract_all(trace, 'vc*p')) AS BIGINT)
        |         AS n_conversion_motifs,
        |       CAST(len(regexp_extract_all(trace, 'sv')) AS BIGINT)
        |         AS n_signup_view,
        |       CAST(coalesce(list_max(list_transform(
        |           regexp_extract_all(trace, 'e+'), x -> length(x))), 0)
        |         AS BIGINT) AS max_error_streak
        |FROM traces ORDER BY user_id""".stripMargin,
    "ev_interarrival" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |         (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |            PARTITION BY event_type ORDER BY ts, event_id))
        |           // 1000000 AS gap_s
        |  FROM events),
        |g AS (SELECT event_type, gap_s FROM gaps WHERE gap_s IS NOT NULL),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(gap_s) AS BIGINT) AS sg,
        |         CAST(sum(gap_s * gap_s) AS BIGINT) AS sgg
        |  FROM g GROUP BY 1)
        |SELECT event_type, n_gaps,
        |       CAST((sg * 1000000) // n_gaps AS BIGINT) / 1000000.0
        |         AS mean_gap_s,
        |       round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
        |         / CAST(sg AS DOUBLE), 6) AS cv
        |FROM agg ORDER BY event_type""".stripMargin,
    "ev_shapley_credit" ->
      """WITH p AS (
        |  SELECT event_id,
        |         CAST(floor(CAST(value AS DECIMAL(18,2)) * 1000000) AS BIGINT)
        |           AS m,
        |         user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |pre AS (
        |  SELECT p.event_id, p.m, e.event_type AS channel
        |  FROM p JOIN events e
        |    ON e.user_id = p.user_id
        |   AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id))
        |  WHERE e.event_type <> 'purchase'
        |  GROUP BY 1, 2, 3),
        |chs AS (
        |  SELECT p.event_id, p.m,
        |         coalesce(pr.channel, 'none') AS channel
        |  FROM p LEFT JOIN pre pr ON pr.event_id = p.event_id),
        |withk AS (
        |  SELECT event_id, m, channel,
        |         CAST(count(*) OVER (PARTITION BY event_id) AS BIGINT) AS k
        |  FROM chs),
        |perk AS (
        |  SELECT channel, k, CAST(count(*) AS BIGINT) AS n_conv,
        |         CAST(sum(m) AS BIGINT) AS mk
        |  FROM withk GROUP BY 1, 2)
        |SELECT channel,
        |       CAST(sum(n_conv) AS BIGINT) AS n_conversions,
        |       round(list_sum(list(CAST(mk AS DOUBLE) / k / 1000000.0
        |         ORDER BY k)), 6) AS credit
        |FROM perk GROUP BY channel ORDER BY channel""".stripMargin,
    "ev_absorbing_markov" ->
      s"""WITH pr AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS nij FROM (
         |    SELECT event_type AS i,
         |           lead(event_type, 1) OVER (PARTITION BY user_id
         |             ORDER BY ts, event_id) AS j
         |    FROM events)
         |  WHERE j IS NOT NULL GROUP BY 1, 2),
         |tr AS MATERIALIZED (
         |  SELECT pr.i, pr.j, pr.nij, ni.ni,
         |         pr.nij::DOUBLE / ni.ni::DOUBLE AS p
         |  FROM pr JOIN (SELECT i, CAST(sum(nij) AS BIGINT) AS ni
         |                FROM pr GROUP BY 1) ni ON ni.i = pr.i),
         |states AS MATERIALIZED (SELECT DISTINCT i AS st FROM tr),
         |t0 AS (SELECT st, CAST(0.0 AS DOUBLE) AS tv FROM states),
         |${markovSweeps(20)}
         |SELECT s.st AS event_type,
         |       (SELECT max(ni) FROM tr WHERE tr.i = s.st) AS n_out,
         |       round(coalesce((SELECT p FROM tr
         |         WHERE tr.i = s.st AND tr.j = 'purchase'), 0.0), 6)
         |         AS p_absorb_1step,
         |       round(t.tv, 6) AS t_absorb_20
         |FROM states s JOIN t20 t ON t.st = s.st
         |ORDER BY event_type""".stripMargin,
    "ev_growth_accounting" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cls AS (
        |  SELECT user_id, day,
        |         lag(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |         lead(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        |  FROM act),
        |daily AS (
        |  SELECT day,
        |         CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_new,
        |         CAST(sum(CASE WHEN prev IS NOT NULL
        |               AND datediff('day', prev, day) = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_retained,
        |         CAST(sum(CASE WHEN prev IS NOT NULL
        |               AND datediff('day', prev, day) > 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY 1),
        |maxd AS (SELECT max(day) AS maxd FROM act),
        |churn AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_churned FROM (
        |    SELECT day + 1 AS day FROM cls CROSS JOIN maxd
        |    WHERE (nxt IS NULL OR datediff('day', day, nxt) > 1)
        |      AND day + 1 <= maxd)
        |  GROUP BY 1)
        |SELECT coalesce(d.day, c.day) AS day,
        |       coalesce(n_new, 0) AS n_new,
        |       coalesce(n_retained, 0) AS n_retained,
        |       coalesce(n_resurrected, 0) AS n_resurrected,
        |       coalesce(n_churned, 0) AS n_churned
        |FROM daily d FULL OUTER JOIN churn c ON d.day = c.day
        |ORDER BY day""".stripMargin,
    "ev_stickiness" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        |  SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |         CAST(count(*) AS BIGINT) AS n_days_inner,
        |         CAST(sum(dau) AS BIGINT) AS sum_dau
        |  FROM (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM act GROUP BY 1)
        |  GROUP BY 1),
        |wau AS (
        |  SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM act GROUP BY 1)
        |SELECT d.week, d.n_days_inner AS n_days, w.wau,
        |       round(d.sum_dau::DOUBLE / d.n_days_inner::DOUBLE, 6) AS avg_dau,
        |       round(d.sum_dau::DOUBLE / d.n_days_inner::DOUBLE
        |         / w.wau::DOUBLE, 6) AS stickiness
        |FROM dau d JOIN wau w USING (week)
        |ORDER BY d.week""".stripMargin,
    "ev_bot_flag" ->
      """WITH gaps AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |            PARTITION BY user_id ORDER BY ts, event_id))
        |           // 1000000 AS gap_s
        |  FROM events),
        |agg AS (
        |  SELECT user_id,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(max(us) - min(us) AS BIGINT) AS span_us,
        |         CAST(sum(CASE WHEN gap_s IS NOT NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_gaps,
        |         CAST(sum(gap_s) AS BIGINT) AS sg,
        |         CAST(sum(gap_s * gap_s) AS BIGINT) AS sgg
        |  FROM gaps GROUP BY 1),
        |m AS (
        |  SELECT user_id, n_events, n_gaps,
        |         CASE WHEN span_us > 0 THEN
        |           round(n_events::DOUBLE * 60000000.0 / span_us::DOUBLE, 6)
        |         END AS rate_per_min,
        |         CASE WHEN n_gaps >= 2 AND sg > 0 THEN
        |           round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE))
        |             / sg::DOUBLE, 6)
        |         END AS cv
        |  FROM agg)
        |SELECT user_id, n_events, n_gaps, rate_per_min, cv,
        |       coalesce(rate_per_min > 5.0, FALSE)
        |         OR (n_gaps >= 20 AND coalesce(cv < 0.1, FALSE)) AS is_bot
        |FROM m ORDER BY user_id""".stripMargin,
    "ev_entropy_rate" ->
      """WITH pairs AS (
        |  SELECT prev, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT user_id, event_type,
        |               lag(event_type, 1) OVER (PARTITION BY user_id
        |                 ORDER BY epoch_us(ts), event_id) AS prev
        |        FROM events)
        |  WHERE prev IS NOT NULL
        |  GROUP BY 1, 2),
        |rowm AS (
        |  SELECT prev, CAST(sum(c) AS BIGINT) AS ci FROM pairs GROUP BY 1),
        |colm AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS cj
        |  FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pairs),
        |hc AS (
        |  SELECT list_sum(list(
        |           -(c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / ci::DOUBLE)
        |           ORDER BY prev, event_type)) AS h_cond
        |  FROM pairs JOIN rowm USING (prev) CROSS JOIN tot),
        |hm AS (
        |  SELECT list_sum(list(
        |           -(cj::DOUBLE / n::DOUBLE) * ln(cj::DOUBLE / n::DOUBLE)
        |           ORDER BY event_type)) AS h_marg
        |  FROM colm CROSS JOIN tot)
        |SELECT n AS n_transitions,
        |       round(h_marg, 6) AS h_marginal,
        |       round(h_cond, 6) AS h_conditional,
        |       round(h_marg - h_cond, 6) AS predictability_gain
        |FROM tot CROSS JOIN hc CROSS JOIN hm""".stripMargin,
    "ev_session_depth" ->
      """WITH marks AS (
        |  SELECT user_id,
        |         CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |               OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
        |                  >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess,
        |         epoch_us(ts) AS us, event_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (
        |  SELECT user_id,
        |         sum(new_sess) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marks),
        |depths AS (
        |  SELECT CAST(count(*) AS BIGINT) AS depth
        |  FROM sess GROUP BY user_id, sess_id)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM depths GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_circadian" ->
      """WITH byhour AS (
        |  SELECT user_id, CAST(hour(ts) AS BIGINT) AS hr,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM byhour GROUP BY 1)
        |SELECT b.user_id, t.n AS n_events,
        |       CAST(count(*) AS BIGINT) AS n_active_hours,
        |       round(list_sum(list(
        |         -(c::DOUBLE / t.n::DOUBLE) * ln(c::DOUBLE / t.n::DOUBLE)
        |         ORDER BY hr)), 6) AS hour_entropy,
        |       CAST(-max({'c': c, 'neg': -hr}).neg AS BIGINT) AS peak_hour
        |FROM byhour b JOIN tot t USING (user_id)
        |GROUP BY b.user_id, t.n
        |ORDER BY b.user_id""".stripMargin,
    "ev_retention_decay" ->
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |maxd AS (SELECT max(day) AS maxd FROM act),
         |anchors AS (
         |  SELECT a.user_id, a.day, kk.k, a.day + CAST(kk.k AS INTEGER) AS ret_day
         |  FROM act a
         |  CROSS JOIN (SELECT unnest(range(1, ${RetentionMaxK + 1})) AS k) kk
         |  CROSS JOIN maxd
         |  WHERE datediff('day', a.day, maxd) >= kk.k),
         |joined AS (
         |  SELECT an.k, CAST(count(*) AS BIGINT) AS n_base,
         |         CAST(sum(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_returned
         |  FROM anchors an
         |  LEFT JOIN act r ON r.user_id = an.user_id AND r.day = an.ret_day
         |  GROUP BY 1),
         |pts AS (
         |  SELECT k, n_base, n_returned,
         |         n_returned::DOUBLE / n_base::DOUBLE AS p
         |  FROM joined),
         |reg AS (
         |  SELECT (CAST(count(*) AS BIGINT)::DOUBLE
         |             * list_sum(list(k::DOUBLE * ln(p) ORDER BY k))
         |           - list_sum(list(k::DOUBLE ORDER BY k))
         |             * list_sum(list(ln(p) ORDER BY k)))
         |         / (CAST(count(*) AS BIGINT)::DOUBLE
         |             * list_sum(list(k::DOUBLE * k::DOUBLE ORDER BY k))
         |           - list_sum(list(k::DOUBLE ORDER BY k))
         |             * list_sum(list(k::DOUBLE ORDER BY k))) AS slope
         |  FROM pts)
         |SELECT CAST(k AS BIGINT) AS k, n_base, n_returned,
         |       round(p, 6) AS p_return,
         |       round(slope, 6) AS decay_slope,
         |       CASE WHEN slope < 0.0 THEN round(ln(2.0) / -slope, 6) END
         |         AS half_life_days
         |FROM pts CROSS JOIN reg
         |ORDER BY k""".stripMargin,
    "ev_bot_flags" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, date_trunc('minute', ts) AS mi,
         |         CAST(ts AS DATE) AS day
         |  FROM events),
         |per AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |         CAST(count(DISTINCT day) AS BIGINT) AS active_days,
         |         count(*)::DOUBLE / count(DISTINCT day)::DOUBLE AS epd
         |  FROM e GROUP BY 1),
         |burst AS (
         |  SELECT user_id, CAST(max(c) AS BIGINT) AS max_per_minute
         |  FROM (SELECT user_id, mi, count(*) AS c FROM e GROUP BY 1, 2)
         |  GROUP BY 1),
         |st AS (
         |  SELECT (count(*) + 1) // 2 AS lo, (count(*) + 2) // 2 AS hi
         |  FROM per),
         |r1 AS (
         |  SELECT epd, row_number() OVER (ORDER BY epd, user_id) AS rk
         |  FROM per),
         |med AS (
         |  SELECT sum(epd) / CAST(count(*) AS DOUBLE) AS med_epd
         |  FROM r1 CROSS JOIN st WHERE rk >= lo AND rk <= hi)
         |SELECT p.user_id, p.n_events, p.active_days,
         |       round(p.epd, 6) AS events_per_day,
         |       b.max_per_minute,
         |       round(m.med_epd, 6) AS median_rate,
         |       p.epd > $BotRateFactor * m.med_epd AS flag_rate,
         |       b.max_per_minute >= $BotBurstMin AS flag_burst
         |FROM per p JOIN burst b USING (user_id) CROSS JOIN med m
         |WHERE p.epd > $BotRateFactor * m.med_epd
         |   OR b.max_per_minute >= $BotBurstMin
         |ORDER BY p.user_id""".stripMargin,
    "ev_dau_mau" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |maxd AS (SELECT max(day) AS maxd FROM ud),
         |dau AS (
         |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
         |  FROM ud GROUP BY 1),
         |mau AS (
         |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
         |  FROM (
         |    SELECT ud.user_id, ud.day + CAST(kk.k AS INTEGER) AS day
         |    FROM ud
         |    CROSS JOIN (SELECT unnest(range(0, $MauWindowDays)) AS k) kk
         |    CROSS JOIN maxd
         |    WHERE ud.day + CAST(kk.k AS INTEGER) <= maxd)
         |  GROUP BY 1)
         |SELECT dau.day, dau.dau, mau.mau,
         |       round(dau.dau::DOUBLE / mau.mau::DOUBLE, 6) AS stickiness
         |FROM dau JOIN mau USING (day)
         |ORDER BY dau.day""".stripMargin,
    "ev_hill_tail" ->
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |kf AS (
        |  SELECT CAST(least(50, greatest(2, count(*) // 4)) AS BIGINT) AS kk
        |  FROM per),
        |top AS (
        |  SELECT user_id, c,
        |         row_number() OVER (ORDER BY c DESC, user_id) AS rk
        |  FROM per),
        |thr AS (
        |  SELECT c AS x_k1, kk FROM top CROSS JOIN kf WHERE rk = kk + 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(min(x_k1) AS BIGINT) AS x_threshold,
        |         list_sum(list(ln(c::DOUBLE / x_k1::DOUBLE)
        |           ORDER BY c, user_id)) AS lnsum
        |  FROM top CROSS JOIN thr WHERE rk <= kk)
        |SELECT k, x_threshold,
        |       round(lnsum, 6) AS ln_sum,
        |       round(k::DOUBLE / lnsum, 6) AS hill_alpha,
        |       k::DOUBLE / lnsum <= 2.0 AS infinite_variance
        |FROM agg""".stripMargin,
    "ev_fano_dispersion" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 60000000 AS minute
        |  FROM events),
        |pm AS (
        |  SELECT event_type, minute, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |sp AS (
        |  SELECT CAST(max(minute) - min(minute) + 1 AS BIGINT) AS n_min
        |  FROM ev),
        |st AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS t,
        |         CAST(sum(c * c) AS BIGINT) AS sc2,
        |         CAST(count(*) AS BIGINT) AS n_occupied
        |  FROM pm GROUP BY 1),
        |calc AS (
        |  SELECT event_type, n_min, t, n_occupied,
        |         CAST(t AS DOUBLE) / CAST(n_min AS DOUBLE) AS mean,
        |         ((CAST(sc2 AS DOUBLE) - CAST(t AS DOUBLE)
        |             * CAST(t AS DOUBLE) / CAST(n_min AS DOUBLE))
        |           / CAST(n_min - 1 AS DOUBLE))
        |           / (CAST(t AS DOUBLE) / CAST(n_min AS DOUBLE)) AS fano
        |  FROM st CROSS JOIN sp)
        |SELECT event_type, n_min AS n_minutes, t AS n_events, n_occupied,
        |       round(mean, 6) AS mean_per_min,
        |       round(fano, 6) AS fano,
        |       round((CAST(n_min - 1 AS DOUBLE) * fano
        |         - CAST(n_min - 1 AS DOUBLE))
        |         / sqrt(2.0 * CAST(n_min - 1 AS DOUBLE)), 6) AS z,
        |       CASE WHEN (CAST(n_min - 1 AS DOUBLE) * fano
        |                  - CAST(n_min - 1 AS DOUBLE))
        |                 / sqrt(2.0 * CAST(n_min - 1 AS DOUBLE)) > 1.96
        |            THEN 'overdispersed'
        |            WHEN (CAST(n_min - 1 AS DOUBLE) * fano
        |                  - CAST(n_min - 1 AS DOUBLE))
        |                 / sqrt(2.0 * CAST(n_min - 1 AS DOUBLE)) < -1.96
        |            THEN 'underdispersed'
        |            ELSE 'poisson_compatible' END AS verdict
        |FROM calc ORDER BY event_type""".stripMargin,
    "ev_logrank" ->
      """WITH hz AS (SELECT max(ts) AS hzts FROM events),
        |su AS (
        |  SELECT user_id, min(ts) AS s0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (
        |  SELECT e.user_id, min(e.ts) AS p0
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s0
        |  GROUP BY 1),
        |durs AS (
        |  SELECT su.user_id,
        |         CASE WHEN dayofweek(su.s0) + 1 IN (1, 7)
        |              THEN 'weekend' ELSE 'weekday' END AS g,
        |         CASE WHEN p0.p0 IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |         (epoch_us(coalesce(p0.p0, hz.hzts)) - epoch_us(su.s0))
        |           // 86400000000 AS t_days
        |  FROM su LEFT JOIN p0 ON su.user_id = p0.user_id
        |  CROSS JOIN hz),
        |tots AS (SELECT g, CAST(count(*) AS BIGINT) AS tot
        |         FROM durs GROUP BY 1),
        |bytg AS (
        |  SELECT t_days, g, CAST(sum(ev) AS BIGINT) AS dd,
        |         CAST(count(*) AS BIGINT) AS cc
        |  FROM durs GROUP BY 1, 2),
        |dense AS (
        |  SELECT t.t_days, o.g, o.tot,
        |         coalesce(b.dd, 0) AS dd, coalesce(b.cc, 0) AS cc
        |  FROM (SELECT DISTINCT t_days FROM durs) t
        |  CROSS JOIN tots o
        |  LEFT JOIN bytg b ON b.t_days = t.t_days AND b.g = o.g),
        |risk AS (
        |  SELECT *, tot - coalesce(CAST(sum(cc) OVER (PARTITION BY g
        |           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND 1 PRECEDING) AS BIGINT), 0) AS atrisk
        |  FROM dense),
        |wide AS (
        |  SELECT t_days,
        |         CAST(sum(CASE WHEN g = 'weekend' THEN dd ELSE 0 END)
        |           AS BIGINT) AS d1,
        |         CAST(sum(dd) AS BIGINT) AS dt,
        |         CAST(sum(CASE WHEN g = 'weekend' THEN atrisk ELSE 0 END)
        |           AS BIGINT) AS n1,
        |         CAST(sum(atrisk) AS BIGINT) AS nt
        |  FROM risk GROUP BY 1),
        |terms AS (
        |  SELECT t_days, d1, dt, n1, nt,
        |         CAST(d1 AS DOUBLE) - CAST(dt AS DOUBLE)
        |           * CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE) AS oe,
        |         CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE)
        |           / CAST(nt AS DOUBLE))
        |           * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
        |           * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE))
        |           AS vv
        |  FROM wide WHERE dt > 0 AND nt > 1),
        |folded AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_event_times,
        |         CAST(sum(d1) AS BIGINT) AS o1,
        |         list_sum(list(oe ORDER BY t_days)) AS soe,
        |         list_sum(list(vv ORDER BY t_days)) AS sv
        |  FROM terms),
        |gt AS (
        |  SELECT CAST(sum(CASE WHEN g = 'weekend' THEN tot ELSE 0 END)
        |           AS BIGINT) AS n_weekend,
        |         CAST(sum(CASE WHEN g = 'weekday' THEN tot ELSE 0 END)
        |           AS BIGINT) AS n_weekday
        |  FROM tots)
        |SELECT gt.n_weekend, gt.n_weekday, f.n_event_times,
        |       f.o1 AS observed_weekend,
        |       round(CAST(f.o1 AS DOUBLE) - f.soe, 6) AS expected_weekend,
        |       CASE WHEN f.sv > 0 THEN round(f.soe * f.soe / f.sv, 6)
        |            END AS chi2,
        |       CASE WHEN f.sv > 0 THEN f.soe * f.soe / f.sv > 3.841
        |            END AS significant
        |FROM folded f CROSS JOIN gt""".stripMargin,
    "ev_nelson_aalen" ->
      """WITH hz AS (SELECT max(ts) AS hzts FROM events),
        |su AS (SELECT user_id, min(ts) AS s0 FROM events
        |       WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (
        |  SELECT e.user_id, min(e.ts) AS p0 FROM events e
        |  JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s0 GROUP BY 1),
        |durs AS (
        |  SELECT su.user_id,
        |         CASE WHEN p0.p0 IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |         (epoch_us(coalesce(p0.p0, hz.hzts)) - epoch_us(su.s0))
        |           // 86400000000 AS t_days
        |  FROM su LEFT JOIN p0 ON su.user_id = p0.user_id CROSS JOIN hz),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM durs),
        |byt AS (
        |  SELECT t_days, CAST(sum(ev) AS BIGINT) AS dd,
        |         CAST(count(*) AS BIGINT) AS cc
        |  FROM durs GROUP BY 1),
        |risk AS (
        |  SELECT t_days, dd, cc,
        |         nn.n_users - CAST(coalesce(sum(cc) OVER
        |           (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM byt CROSS JOIN nn),
        |incs AS (
        |  SELECT t_days, dd, n_risk,
        |         CAST((dd * 1000000000000) // n_risk AS BIGINT) AS h_q,
        |         CAST((dd * 1000000000000) // (n_risk * n_risk) AS BIGINT)
        |           AS v_q
        |  FROM risk),
        |cum AS (
        |  SELECT t_days, dd, n_risk,
        |         CAST(sum(h_q) OVER (ORDER BY t_days) AS BIGINT) AS h_cum,
        |         CAST(sum(v_q) OVER (ORDER BY t_days) AS BIGINT) AS v_cum
        |  FROM incs)
        |SELECT t_days, n_risk, dd AS n_events,
        |       round(CAST(h_cum AS DOUBLE) / 1e12, 6) AS h_na,
        |       round(sqrt(CAST(v_cum AS DOUBLE) / 1e12), 6) AS se_na,
        |       round(exp(-CAST(h_cum AS DOUBLE) / 1e12), 6) AS s_fh
        |FROM cum WHERE dd > 0 ORDER BY t_days""".stripMargin,
    "ev_markov_mixing" ->
      s"""WITH RECURSIVE ${markovCtes},
         |pit(stp, v) AS (
         |  SELECT 0, list_transform(range(1, rn.n + 1),
         |           x -> CAST(1.0 AS DOUBLE) / CAST(rn.n AS DOUBLE))
         |  FROM rn
         |  UNION ALL
         |  SELECT stp + 1,
         |         list_transform(range(1, rn.n + 1),
         |           j -> list_sum(list_transform(range(1, rn.n + 1),
         |             i -> v[i] * pm[(i - 1) * rn.n + j])))
         |  FROM pit, pmt, rn WHERE stp < 20),
         |pif AS (SELECT v AS pi FROM pit WHERE stp = 20),
         |mix(stp, v) AS (
         |  SELECT 0, list_transform(range(1, rn.n + 1),
         |           x -> CASE WHEN x = 1 THEN CAST(1.0 AS DOUBLE)
         |                     ELSE CAST(0.0 AS DOUBLE) END)
         |  FROM rn
         |  UNION ALL
         |  SELECT stp + 1,
         |         list_transform(range(1, rn.n + 1),
         |           j -> list_sum(list_transform(range(1, rn.n + 1),
         |             i -> v[i] * pm[(i - 1) * rn.n + j])))
         |  FROM mix, pmt, rn WHERE stp < $MixSteps)
         |SELECT st.states[1] AS start_state,
         |       CAST(rn.n AS BIGINT) AS n_states,
         |       CAST(m.stp AS BIGINT) AS step,
         |       round(list_sum(list_transform(range(1, rn.n + 1),
         |         i -> abs(m.v[i] - p.pi[i]))) / 2.0, 6) AS tv_distance,
         |       list_sum(list_transform(range(1, rn.n + 1),
         |         i -> abs(m.v[i] - p.pi[i]))) / 2.0 < 0.05 AS mixed
         |FROM mix m CROSS JOIN pif p CROSS JOIN rn CROSS JOIN st
         |WHERE m.stp >= 1
         |ORDER BY step""".stripMargin)
}
