package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Barrier, Grain, QueryModule}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Window and time-series operators: rolling and cumulative
  * aggregates, fill-forward, smoothing filters, forecast backtests,
  * change-point and drift detection.
  */
object WindowQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("w_")

  // Ranking window: top-3 orders per priority.
  // DELIBERATE window demo: o_orderpriority has 5 values, so this
  // sorts all orders across 5 tasks. The scale-safe form of "top-k
  // per low-cardinality key" is TopKAggBy (map-side per-group heap —
  // see tMixtureSample/simKnnGraph), which this repo uses wherever
  // the operator is the point rather than the window function itself.
  val wRankOrdersPerPriority: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  // Running-total window over exact decimal daily revenue
  val wRunningDailyRevenue: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev_dec"))
    val w = Grain.bounded(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("running_revenue", sum(col("rev_dec")).over(w).cast("double"))
      .select(col("day"), col("rev_dec").cast("double").as("daily_revenue"),
        col("running_revenue"))
      .orderBy(col("day"))
  }

  // Decorrelated "above group average" (window scalar vs row):
  // exact decimal window sum / count → one double division per row
  val wAboveAvgOrders: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
    t(s, dir, "orders")
      .withColumn("avg_p",
        sum(dec(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("avg_p"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_above"))
      .orderBy(col("o_orderpriority"))
  }

  // Window distribution functions: percent_rank / cume_dist /
  // nth_value. Doubles are single divisions of exact partition-count
  // ints ((rank-1)/(n-1)), so they hash-match across engines; output
  // is thinned to every 997th key so the result stays small while the
  // windows still compute over full partitions. Same deliberate
  // low-cardinality-window caveat as wRankOrdersPerPriority: at
  // 100 TB distribution stats over a 5-value key would go through
  // two-phase ranking (Ranking.scala) instead of one task per key.
  val wDistSuite: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(w))
      .filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderpriority"), col("o_orderkey"), col("pr"),
        col("cd"), col("third_key"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  // Month-over-month revenue change: monthly exact-decimal revenue,
  // lag window, one double division of exact values — the monthly
  // sibling of w_day_over_day.
  val wMonthOverMonth: Q = (s, dir) => {
    val monthly = t(s, dir, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mo"))
      .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev"))
    val w = Grain.bounded(col("mo"))
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("mo"), col("rev").cast("double").as("revenue"),
        ((col("rev").cast("double") - col("prev").cast("double")) /
          col("prev").cast("double") * 100.0).as("pct_change"))
      .orderBy(col("mo"))
  }

  // SCD type-2 interval build: each per-user event becomes a
  // [ts, next_ts) validity version via lead(); per-type version
  // counts, open (current) versions, and exact total validity
  // duration — the slowly-changing-dimension construction every
  // warehouse needs, as one window pass.
  val wScd2Intervals: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("dur_us",
        unix_micros(col("valid_to")) - unix_micros(col("ts")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_versions"),
        count(when(col("valid_to").isNull, 1)).as("n_current"),
        sum(col("dur_us")).as("total_dur_us"))
      .orderBy(col("event_type"))
  }

  // Gap-based sessionization via lag window → per-user session counts
  val wSessionizeUsers: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .groupBy(col("user_id")).agg(sum(col("new_session")).as("sessions"))
      .groupBy(col("sessions")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("sessions"))
  }

  // RANGE-frame window: 3-day moving revenue over the (gappy) daily
  // series — RANGE over an epoch-day key spans calendar gaps that a
  // ROWS frame would silently skip. Exact decimal window sums.
  val wMovingRevenue: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev_dec"))
      .withColumn("dayn", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Grain.bounded(col("dayn")).rangeBetween(-2, 0)
    daily
      .withColumn("mov3_revenue", sum(col("rev_dec")).over(w).cast("double"))
      .select(col("day"), col("rev_dec").cast("double").as("daily_revenue"),
        col("mov3_revenue"))
      .orderBy(col("day"))
  }

  // Gaps-and-islands: longest streaks of consecutive days with
  // above-average revenue (dayn − row_number group trick). The
  // unpartitioned windows run over the DAILY series — bounded at any
  // fact scale (one row per calendar day), so the single-partition
  // window is safe by construction.
  val wRevenueStreaks: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
      .withColumn("dayn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val wAll = Grain.whole
    val flagged = daily
      .withColumn("thr",
        sum(col("rev")).over(wAll).cast("double") / count(lit(1)).over(wAll))
      .filter(d(col("rev")) > col("thr"))
    val wOrd = Grain.bounded(col("dayn"))
    flagged
      .withColumn("grp", col("dayn") - row_number().over(wOrd))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("streak_len"),
        min(col("day")).as("start_day"), max(col("day")).as("end_day"))
      .select(col("streak_len"), col("start_day"), col("end_day"))
      .orderBy(desc("streak_len"), col("start_day"))
      .limit(5)
  }

  // ---------------------------------------------------------------
  // w_ewma_revenue — exponentially-weighted moving average (α=0.3)
  // of daily revenue, restarting each year. EWMA is inherently
  // sequential, so the float chain gets ONE pinned evaluation order:
  // the cumulative window collects the day-ordered prefix and a
  // left fold seeds on the first element (mirrored by DuckDB's
  // list_reduce seed semantics) — bit-identical across engines and
  // under any shuffle. Scale: the fold runs over DAYS (bounded per
  // year-partition), not rows — the heavy row stream is reduced by
  // the exact-decimal daily aggregate first; for unbounded per-key
  // series the same fold moves into flatMapGroups.
  // ---------------------------------------------------------------
  val wEwmaRevenue: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val w = Window.partitionBy(year(col("day"))).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // RAW double output, deliberately un-rounded: the fold itself is
    // bit-identical cross-engine (pinned order, plain IEEE mul/add),
    // while round(x, 6) on ~1e7-magnitude values is the HAZARD — at
    // that magnitude ulp (~4e-9) sits close to the 6-dp half
    // boundaries and the JVM's exact-BigDecimal HALF_UP disagrees
    // with float-based rounding on boundary rows (observed at
    // sf0.1). Rounding is for transcendental noise; this chain has
    // none.
    daily.withColumn("arr", collect_list(col("revenue")).over(w))
      .withColumn("ewma", expr("aggregate(slice(arr, 2, size(arr) - 1), " +
        "element_at(arr, 1), (a, x) -> a * 0.7 + 0.3 * x)"))
      .select(col("day"), col("revenue"), col("ewma"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_cdc_apply — apply a change log with last-writer-wins +
  // tombstone semantics (the batch core of a MERGE INTO): orders
  // are per-customer change events ordered by (date, orderkey);
  // the latest event wins and status 'F' is a delete marker, so a
  // key whose last event is 'F' vanishes from the live state.
  // One ranked window per key then a small rollup — the standard
  // CDC-compaction shape that scales by key partitioning.
  // ---------------------------------------------------------------
  val wCdcApply: Q = (s, dir) => {
    val last = t(s, dir, "orders")
      .withColumn("rk", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))))
      .filter(col("rk") === 1)
    last.filter(col("o_orderstatus") =!= "F")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_live"),
        sum(dec(col("o_totalprice"))).cast("double").as("live_value"),
        max(col("o_orderdate")).as("latest_change"))
      .orderBy(col("c_mktsegment"))
  }

  // ---------------------------------------------------------------
  // w_rolling_median — exact 7-day trailing median of daily revenue:
  // the ROWS frame collects the (bounded, ≤7-element) trailing
  // prefix, sorts it, and takes the exact middle — no sketch needed
  // when the frame is bounded, and element order inside the frame
  // can't leak into the result because the array is re-sorted.
  // ---------------------------------------------------------------
  val wRollingMedian: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val w = Grain.bounded(col("day")).rowsBetween(-6, Window.currentRow)
    daily.withColumn("arr", sort_array(collect_list(col("revenue")).over(w)))
      .withColumn("m", size(col("arr")))
      .select(col("day"), col("revenue"),
        when(col("m") % 2 === 1,
            element_at(col("arr"), ((col("m") + 1) / 2).cast("int")))
          .otherwise((element_at(col("arr"), (col("m") / 2).cast("int")) +
            element_at(col("arr"), (col("m") / 2 + 1).cast("int"))) / lit(2.0))
          .as("rolling_median"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_fill_forward — calendar gap-fill with carry-forward: the full
  // day spine left-joins the observed dailies and missing days take
  // the last non-null value (`last(..., ignoreNulls)` over the
  // cumulative frame / IGNORE NULLS in the oracle). The standard
  // "as-of snapshot per calendar day" shape; the spine is generated,
  // never scanned.
  // ---------------------------------------------------------------
  val wFillForward: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("rev"))
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .withColumn("revenue_filled",
        last(col("rev"), ignoreNulls = true).over(Grain.bounded(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("is_gap", col("rev").isNull)
      .select(col("day"), col("revenue_filled"), col("is_gap"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_brown_trend — Brown's linear (double) exponential smoothing of
  // daily revenue, α=0.3, restarting each year: s1 = EWMA(x),
  // s2 = EWMA(s1), level = 2·s1 − s2, trend = (α/(1−α))(s1 − s2),
  // one-step forecast = level + trend — the trend-aware forecast one
  // notch above w_ewma_revenue (which tracks level only and lags any
  // trending series). Two CHAINED SCALAR folds, each the proven
  // w_ewma_revenue order-pinned pattern (day-ordered prefix list +
  // left fold seeded on the first element) — deliberately NOT a
  // struct-accumulator fold: DuckDB 1.0's list_reduce evaluates
  // multi-field struct lambdas by mutating the accumulator field by
  // field (a later field sees the earlier field's NEW value), so a
  // coupled (level, trend) state would silently diverge. Raw double
  // output, un-rounded (the w_ewma precedent: rounding ~1e7
  // magnitudes near half-boundaries is the hazard, not the pinned
  // chain). Scale: folds run over DAYS per year partition (≤366),
  // never the row stream — the heavy input reduces through the
  // exact-decimal daily aggregate first.
  // ---------------------------------------------------------------
  val wBrownTrend: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("revenue"))
    val w = Window.partitionBy(year(col("day"))).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("arr", collect_list(col("revenue")).over(w))
      .withColumn("s1", expr("aggregate(slice(arr, 2, size(arr) - 1), " +
        "element_at(arr, 1), (a, x) -> a * 0.7 + 0.3 * x)"))
      .withColumn("s1arr", collect_list(col("s1")).over(w))
      .withColumn("s2", expr("aggregate(slice(s1arr, 2, size(s1arr) - 1), " +
        "element_at(s1arr, 1), (a, x) -> a * 0.7 + 0.3 * x)"))
      .withColumn("level", lit(2) * col("s1") - col("s2"))
      .withColumn("trend", (col("s1") - col("s2")) * lit(3.0) / lit(7.0))
      .select(col("day"), col("revenue"), col("level"), col("trend"),
        (col("level") + col("trend")).as("forecast_next"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_cusum_drift — one-sided CUSUM drift detection on daily
  // revenue (Page 1954), restarting each year: s_t = max(0,
  // s_{t-1} + (x_t − μ) − k) with μ the year's exact-decimal daily
  // mean, slack k = 0.05·μ, alarm at s > h = 0.5·μ — the
  // change-point monitor that fires on a sustained shift where a
  // fixed threshold fires on one spike. Sequential by definition, so
  // the float chain gets the w_ewma_revenue treatment: day-ordered
  // prefix list + one pinned left fold (greatest(0, …) per step),
  // replayed in DuckDB with the list_prepend-seeded list_reduce.
  // μ is exact (decimal sum / integer count, one division); the
  // per-year stats JOIN on the year key — no broadcast-scalar cross
  // join. Folds run over days per year partition (≤366). Raw double
  // cusum (the EWMA rounding precedent); the alarm flag is the
  // integer-like contract column.
  // ---------------------------------------------------------------
  val wCusumDrift: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("revenue"))
      .withColumn("yr", year(col("day")))
    val stats = daily.groupBy(col("yr"))
      .agg((expr("CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)") /
        d(count(lit(1)))).as("mu"))
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(stats, "yr")
      .withColumn("arr", collect_list(col("revenue")).over(w))
      .withColumn("cusum", expr(
        "aggregate(arr, 0D, (s, x) -> greatest(0D, s + x - mu - 0.05 * mu))"))
      .select(col("day"), col("revenue"), col("cusum"),
        (col("cusum") > lit(0.5) * col("mu")).as("alarm"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_dow_seasonality — day-of-week seasonal profile of revenue (the
  // weekly-seasonality decomposition every ops/forecast dashboard
  // starts from): per weekday, day count, average daily revenue, and
  // the seasonal index (weekday average ÷ overall daily average).
  // Money sums are exact DECIMAL(18,2) cast DOUBLE at the edge
  // (repo float policy); the index is two fixed-order divisions of
  // those exact sums — deterministic without rounding. dow is
  // Spark's dayofweek (1 = Sunday … 7 = Saturday; the oracle maps
  // DuckDB's 0-based dayofweek by +1). Scale shape: the row stream
  // reduces through the daily aggregate first, then 7 groups.
  // ---------------------------------------------------------------
  val wDowSeasonality: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
    val byDow = daily.groupBy(dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        expr("CAST(SUM(rev) AS DOUBLE)").as("sum_rev"))
    val overall = daily.agg(count(lit(1)).as("all_days"),
      expr("CAST(SUM(rev) AS DOUBLE)").as("all_rev"))
    byDow.crossJoin(broadcast(overall))
      .withColumn("avg_revenue", col("sum_rev") / d(col("n_days")))
      .withColumn("overall_avg", col("all_rev") / d(col("all_days")))
      .select(col("dow"), col("n_days"), col("avg_revenue"),
        (col("avg_revenue") / col("overall_avg")).as("seasonal_index"))
      .orderBy(col("dow"))
  }

  // ---------------------------------------------------------------
  // w_holt_winters — additive Holt–Winters triple exponential
  // smoothing of daily revenue (Winters 1960): level + trend +
  // weekly seasonal (m = 7), α = 0.3, β = 0.1, γ = 0.2, restarting
  // each year (the w_brown_trend convention). The COUPLED recurrence
  //   ŝ     = s[(t−1) mod 7]
  //   l_t   = α(x_t − ŝ) + (1−α)(l_{t−1} + b_{t−1})
  //   b_t   = β(l_t − l_{t−1}) + (1−β)b_{t−1}
  //   s[(t−1) mod 7] ← γ(x_t − l_t) + (1−γ)ŝ
  //   fc    = l_t + b_t + s[t mod 7]        (one-step forecast)
  // initialized at l_0 = x_1, b_0 = 0, s ≡ 0 (phase keyed by the
  // day's index within the year, so calendar gaps can't shear the
  // season) cannot be two chained scalar folds (level, trend and
  // seven seasonal cells feed each other), so this op introduces the
  // third float-replay technique in the repo: ONE Spark
  // higher-order-function fold carrying the full (l, b, s[7])
  // state — lambdas build a fresh struct per step, so Spark is
  // immune to the DuckDB struct-accumulator mutation quirk — and a
  // DuckDB RECURSIVE CTE stepping day by day with the identical
  // arithmetic DAG (the list_reduce form would silently diverge:
  // DuckDB 1.0 mutates multi-field accumulators field by field).
  // Both engines evaluate the same IEEE op sequence, so the raw
  // doubles hash-match un-rounded (the w_ewma precedent).
  // Scale shape: the fold runs over DAYS per year partition (≤366),
  // never the row stream — the corpus reduces through the
  // exact-decimal daily aggregate first; per-year arrays are
  // bounded, the explode-back join is year×day-keyed.
  // ---------------------------------------------------------------
  val wHoltWinters: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("rev"))
      .withColumn("yr", year(col("day")))
      // ≤366-row windows per year partition — the documented
      // low-cardinality window family (never the fact stream)
      .withColumn("t", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("day"))).cast("int"))
      .transform(Barrier.materialize) // consumed by the fold input and the join back
    val perYear = daily.groupBy(col("yr"))
      .agg(sort_array(collect_list(struct(col("t"), col("rev")))).as("days"))
    // textual pieces — Spark SQL lambdas have no let-binding, so the
    // level expression L is DUPLICATED into B/S/FC; pure arithmetic,
    // so every copy evaluates to the identical double
    val shat = "element_at(st.s, ((x.t - 1) % 7) + 1)"
    val lprev = "(CASE WHEN st.t = 0 THEN x.rev ELSE st.l END)"
    val L = s"0.3 * (x.rev - $shat) + 0.7 * ($lprev + st.b)"
    val B = s"0.1 * (($L) - $lprev) + 0.9 * st.b"
    val SNEW = s"0.2 * (x.rev - ($L)) + 0.8 * $shat"
    val S = s"transform(sequence(1, 7), j -> CASE WHEN j = ((x.t - 1) % 7) + 1" +
      s" THEN $SNEW ELSE element_at(st.s, j) END)"
    val FC = s"($L) + ($B) + element_at($S, (x.t % 7) + 1)"
    val fold =
      s"""aggregate(
         |  days,
         |  named_struct(
         |    'l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
         |    's', array_repeat(CAST(0.0 AS DOUBLE), 7), 't', 0,
         |    'out', CAST(array() AS
         |      ARRAY<STRUCT<t: INT, l: DOUBLE, b: DOUBLE, shat: DOUBLE, fc: DOUBLE>>)),
         |  (st, x) -> named_struct(
         |    'l', $L, 'b', $B, 's', $S, 't', st.t + 1,
         |    'out', concat(st.out, array(named_struct(
         |      't', x.t, 'l', $L, 'b', $B, 'shat', $shat, 'fc', $FC)))))""".stripMargin
    perYear.select(col("yr").as("oyr"), explode(expr(s"($fold).out")).as("o"))
      .join(daily, col("oyr") === col("yr") && col("o.t") === col("t"))
      .select(col("day"), col("rev").as("revenue"),
        col("o.l").as("level"), col("o.b").as("trend"),
        col("o.shat").as("seasonal"), col("o.fc").as("forecast_next"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_seasonal_decompose — classical additive decomposition of daily
  // revenue: trend = centered 7-day moving average (full windows
  // only — year edges stay NULL; per-year partitions, the
  // w_holt_winters restart convention), seasonal = the day-of-week
  // mean of the detrended series re-centered to sum 0, residual =
  // detrended − seasonal. Scale shape: the corpus reduces through
  // the exact-decimal daily aggregate FIRST; the ±3-row window and
  // both seasonal folds run over CALENDAR-bounded frames (the
  // detrended per-dow fold sorts by day — the sorted-fold float
  // policy; 7-decimal-day sums are exact before the single /7).
  // ---------------------------------------------------------------
  val wSeasonalDecompose: Q = (s, dir) => {
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
      .withColumn("yr", year(col("day")))
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7,
          expr("CAST(SUM(rev) OVER (PARTITION BY yr ORDER BY day" +
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)") / 7.0))
      .withColumn("detr", d(col("rev")) - col("trend"))
      .transform(Barrier.materialize) // consumed by the dow means and the output
    val dowM = daily.filter(col("detr").isNotNull)
      .groupBy(dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n"),
        expr("aggregate(sort_array(collect_list(struct(day, detr))), 0D," +
          " (a, x) -> a + x.detr)").as("sd"))
      .withColumn("m", col("sd") / d(col("n")))
      .transform(Barrier.materialize) // consumed by the grand mean + the join
    val grand = dowM.agg((expr(
      "aggregate(sort_array(collect_list(struct(dow, m))), 0D," +
        " (a, x) -> a + x.m)") / d(count(lit(1)))).as("gm"))
    daily
      .join(broadcast(dowM.select(col("dow"), col("m"))),
        dayofweek(col("day")) === col("dow"), "left")
      .crossJoin(broadcast(grand))
      .select(col("day"), d(col("rev")).as("revenue"),
        round(col("trend"), 6).as("trend"),
        round(col("m") - col("gm"), 6).as("seasonal"),
        round(col("detr") - (col("m") - col("gm")), 6).as("residual"))
      .orderBy(col("day"))
  }

  // Robust regression and optimizer-stats extensions
  // — the Theil–Sen estimator (Theil 1950; Sen 1968 — the robust
  // slope companion of a_mann_kendall, which uses the same pairwise
  // structure as its significance test), and an equi-height histogram
  // (the CBO statistics object ANALYZE builds for selectivity
  // estimation). Both re-expressed Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // w_theil_sen — Theil–Sen robust trend line over daily revenue:
  // slope = MEDIAN of all pairwise slopes (rev_j − rev_i)/(day_j −
  // day_i), intercept = median of per-day residual intercepts — the
  // outlier-proof fit a monitoring stack pairs with the
  // Mann–Kendall test (same calendar²-bounded pair set). Medians
  // are EXACT order statistics: the pair-slope median rides the
  // two-phase global rank (range partition + carries — no
  // single-partition sort anywhere on the 2.9M-pair frame); the
  // (k1, k2) selection means even counts average the two middles
  // and odd counts reduce to sum/1 — branch-free on both engines.
  // The day-level intercept median folds over the CALENDAR-bounded
  // daily array. Slopes divide exact decimal diffs by exact day
  // gaps — the only floats before the /2.
  // ---------------------------------------------------------------
  val wTheilSen: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
      .withColumn("dayn", datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("long"))
      .transform(Barrier.materialize) // consumed by both pair sides + intercepts
    val slopes = daily.alias("a")
      .join(daily.alias("b"), col("a.day") < col("b.day")) // calendar²-bounded
      // nullif guard: Selection's narrowing filters reference the
      // slope, and the optimizer pushes them INTO the join condition,
      // where ANSI evaluates them on a=b self-pairs (Δdayn = 0)
      // before the day< conjunct prunes them. Real pairs always have
      // Δdayn ≥ 1, so every emitted slope value is unchanged.
      .select(((d(col("b.rev")) - d(col("a.rev"))) /
        d(nullif(col("b.dayn") - col("a.dayn"), lit(0L)))).as("slope"),
        col("a.dayn").as("da"), col("b.dayn").as("db"))
      // materialize once: the slope distribution peaks hard at 0, so
      // selection runs 2 histogram passes + stats + final — 4 scans;
      // one ~23 MB barrier beats 4 BNLJ+division re-evaluations
      // (and is a second pushdown barrier above the nullif guard)
      .transform(Barrier.materialize)
    // the pair count is analytic — every ordered day pair contributes
    // exactly one slope — and the median needs only the VALUES at
    // ranks k1/k2, so selection (histogram narrowing, map-side count
    // passes over the recomputable pair stream) replaces the former
    // full two-phase rank: the round-13 probe measured that rank's
    // range exchange + checkpoint + P-way sort of the 2.9M-pair frame
    // at ~3.9 s of the query's 4.6 s, all to keep 2 rows. Selected
    // values are exact multiset order statistics — equal-slope ties
    // permute only among themselves, so the k-th slope VALUE (the
    // only thing consumed) is unchanged from the ranked form.
    val nD = daily.count()
    val nP = nD * (nD - 1) / 2
    val k1 = (nP + 1) / 2; val k2 = (nP + 2) / 2
    val med = Selection
      .valuesAtRanks(slopes, col("slope"), Seq(k1, k2).distinct)
      .agg((sum(col("__v")) / count(lit(1))).as("med_slope"))
    val kd1 = ((nD + 1) / 2).toInt; val kd2 = ((nD + 2) / 2).toInt
    daily
      .crossJoin(broadcast(med))
      .select(col("med_slope"),
        (d(col("rev")) - col("med_slope") * d(col("dayn"))).as("ic"),
        col("day"))
      .groupBy(col("med_slope"))
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("ic"), col("day")))).as("ics"))
      .select(col("n_days"), lit(nP).as("n_pairs"),
        round(col("med_slope"), 6).as("slope_per_day"),
        round((element_at(col("ics"), kd1).getField("ic") +
          element_at(col("ics"), kd2).getField("ic")) / 2.0, 6)
          .as("intercept"))
  }

  // Sequence labeling and coverage estimation —
  // a two-state min-cost Viterbi burst detector over the daily order
  // series (the Kleinberg burst-detection shape with integer L1
  // costs, so the whole DP is exact on both engines), and a
  // capture–recapture (Lincoln–Petersen/Chapman) corpus-size
  // estimate from two deterministic hash crawls — the "how big is
  // the deduplicated web corpus really" audit.

  // ---------------------------------------------------------------
  // w_viterbi_burst — per-year two-state burst labeling of daily
  // order counts (Kleinberg 2002's automaton with L1 emission
  // costs): state 0 emits around the year's median daily count λ,
  // state 1 around 2λ; switching costs λ. The optimal labeling is
  // the min-cost path through the 2×T trellis — a TRUE Viterbi with
  // backtracking, run as ONE higher-order fold per year that
  // carries both frontier costs AND both argmin paths
  // (c0, c1, s0[], s1[]); every quantity is an INTEGER (costs live
  // on the doubled grid 2·x vs med₂ = twice the median, so the
  // even-count median average stays integral) — the DP is
  // bit-exact by construction, no float policy needed. Ties prefer
  // staying in the current state, and the final frontier tie
  // prefers the base state. The DuckDB oracle replays the identical
  // recurrence as a RECURSIVE CTE stepping the same per-year
  // arrays (the w_holt_winters technique — list_reduce's
  // struct-accumulator mutation quirk rules it out).
  // Scale shape: the corpus reduces through the daily count
  // aggregate first; folds run over CALENDAR-bounded per-year
  // arrays (≤366 steps, ≤366-int paths) in parallel across years;
  // the explode back to rows is map-side.
  // ---------------------------------------------------------------
  val wViterbiBurst: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
    val years = daily.groupBy(year(col("day")).as("yr"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("arr"),
        count(lit(1)).as("n"))
      .withColumn("xs", expr("transform(arr, e -> e.x)"))
      .withColumn("med2", expr(
        """array_sort(xs)[CAST((n + 1) div 2 AS INT) - 1] +
          |array_sort(xs)[CAST((n + 2) div 2 AS INT) - 1]""".stripMargin))
    val vit = years.withColumn("fin", expr(
      """aggregate(
        |  xs,
        |  named_struct(
        |    'c0', CAST(0 AS BIGINT), 'c1', CAST(med2 AS BIGINT),
        |    's0', CAST(array() AS ARRAY<INT>),
        |    's1', CAST(array() AS ARRAY<INT>)),
        |  (a, x) -> named_struct(
        |    'c0', least(a.c0, a.c1 + med2) + abs(2 * x - med2),
        |    'c1', least(a.c1, a.c0 + med2) + abs(2 * x - 2 * med2),
        |    's0', array_append(
        |      CASE WHEN a.c0 <= a.c1 + med2 THEN a.s0 ELSE a.s1 END, 0),
        |    's1', array_append(
        |      CASE WHEN a.c1 <= a.c0 + med2 THEN a.s1 ELSE a.s0 END, 1)),
        |  a -> named_struct(
        |    'cost', CASE WHEN a.c0 <= a.c1 THEN a.c0 ELSE a.c1 END,
        |    'seq',  CASE WHEN a.c0 <= a.c1 THEN a.s0 ELSE a.s1 END))
        |""".stripMargin))
    vit
      .select(col("med2"), col("fin.cost").as("path_cost"),
        posexplode(expr("arrays_zip(arr, fin.seq)")).as(Seq("i", "z")))
      .select(col("z.arr.day").as("day"), col("z.arr.x").as("n_orders"),
        col("z.seq").cast("int").as("burst"),
        round(d(col("med2")) / lit(2.0), 6).as("base_rate"),
        col("path_cost"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_ljung_box — Ljung–Box portmanteau test (Ljung & Box 1978) for
  // autocorrelation in daily revenue: ρ_k for lags 1..7 and
  // Q = n(n+2)·Σ ρ_k²/(n−k), the "is this KPI white noise or is
  // there structure worth modeling" pre-check before ARIMA-style
  // forecasting (the diagnostic companion of w_holt_winters /
  // a_autocorr). Daily revenue reduces through the exact-decimal
  // aggregate; the day-ordered series is CALENDAR-bounded (one
  // array, ≤ a few thousand doubles), so the ρ folds are bounded
  // fixed-order index folds (Spark aggregate(sequence...) ≡ DuckDB
  // list_reduce over range — identical left-to-right IEEE order);
  // mean and each ρ are fixed divisions; ln-free, so only 6-dp rounding
  // at the edge for cross-engine double printing.
  // ---------------------------------------------------------------
  val wLjungBox: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
    val series = daily.agg(count(lit(1)).as("n"),
        expr("CAST(SUM(rev) AS DOUBLE)").as("tot"),
        sort_array(collect_list(struct(col("day"), col("rev")))).as("arr"))
      .withColumn("xs", expr("transform(arr, e -> CAST(e.rev AS DOUBLE))"))
      .withColumn("m", col("tot") / d(col("n")))
    val s0 = expr(
      """aggregate(sequence(1, CAST(n AS INT)), 0D,
        |  (a, i) -> a + (element_at(xs, i) - m) * (element_at(xs, i) - m))
        |""".stripMargin)
    def sk(k: Int) = expr(
      s"""aggregate(sequence(1, CAST(n AS INT) - $k), 0D,
         |  (a, i) -> a + (element_at(xs, i) - m)
         |              * (element_at(xs, i + $k) - m))""".stripMargin)
    val withRho = (1 to 7).foldLeft(series.withColumn("s0", s0)) {
      case (df, k) => df.withColumn(s"rho$k", sk(k) / col("s0"))
    }
    val q = (1 to 7).map(k =>
        (col(s"rho$k") * col(s"rho$k")) / (d(col("n")) - lit(k.toDouble)))
      .reduceLeft(_ + _) * (d(col("n")) * (d(col("n")) + lit(2.0)))
    withRho.select(
      (col("n").cast("long").as("n_days") +:
        (1 to 7).map(k => round(col(s"rho$k"), 6).as(s"rho$k")) :+
        round(q, 6).as("q_stat") :+ lit(7L).as("dof")): _*)
  }

  // Four new capability classes — offline
  // changepoint detection (binary segmentation over daily revenue),
  // a from-scratch mergeable HyperLogLog register sketch with a
  // merge-associativity audit, a grid-bucketed spatial k-NN join
  // (the cell-pruned shape every geo pipeline uses), and a
  // cost-based-optimizer cardinality-estimate audit over the star's
  // join edges. All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // w_changepoint_binseg — one binary-segmentation step (Scott &
  // Knott 1974 / the first split of PELT-style detectors) per year
  // on the daily-revenue series: the split k maximizing the
  // between-segment score s_L²/n_L + s_R²/n_R (equivalently
  // minimizing pooled SSE — the Σx² term cancels, so the score
  // needs only cumulative sums). Cross-engine determinism: daily
  // sums are exact integer cents; each cents total stays below 2⁵³
  // (one well-defined BIGINT→double conversion), and the score is
  // the identical IEEE expression (sL·sL)/nL + (sR·sR)/nR in both
  // engines, argmax tie-broken on earliest k. Segment means leave
  // integer space through the micro-unit integral division (the
  // a_var_merge rule). Scale shape: one day-level aggregate
  // (map-side combining), then per-year window passes over ≤366
  // rows — partition-parallel, never a data-wide window; the
  // candidate-split frame is calendar-bounded regardless of corpus.
  // ---------------------------------------------------------------
  val wChangepointBinseg: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
        .as("rev"))
    val wOrd = Window.partitionBy(col("yr")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("yr"))
    val scored = daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("s_l", sum(col("rev")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("rev")).over(wAll))
      .withColumn("next_day", lead(col("day"), 1).over(wOrd))
      .filter(col("k") < col("n"))
      .withColumn("s_r", col("s") - col("s_l"))
      .withColumn("n_r", col("n") - col("k"))
      .withColumn("score",
        d(col("s_l")) * d(col("s_l")) / d(col("k")) +
          d(col("s_r")) * d(col("s_r")) / d(col("n_r")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("yr")).orderBy(desc("score"), col("k"))))
      .filter(col("rk") === 1)
      .select(col("yr"), col("n").as("n_days"),
        col("next_day").as("changepoint_day"), col("k").as("n_days_before"),
        (expr("CAST((s_l * 10000) div k AS BIGINT)") / lit(1000000.0))
          .as("mean_before"),
        (expr("CAST((s_r * 10000) div n_r AS BIGINT)") / lit(1000000.0))
          .as("mean_after"),
        round((col("score") - d(col("s")) * d(col("s")) / d(col("n"))) /
          lit(10000.0), 6).as("gain"))
      .orderBy(col("yr"))
  }

  // ---------------------------------------------------------------
  // w_interpolate_linear — calendar-spine gap fill with exact linear
  // interpolation: the daily-revenue series is re-indexed on the
  // full min..max day spine, and each missing day gets the linear
  // blend of its nearest known neighbors,
  // (prev·(nd−d) + next·(d−pd)) / (nd−pd); the leading/trailing
  // runs extend the nearest endpoint flat. Exactness: day totals
  // are integer cents; the blend numerator stays integer and leaves
  // integer space only through the positive micro-unit integral
  // division (the a_var_merge rule — and keeping the numerator
  // non-negative sidesteps the Spark-truncates vs DuckDB-floors
  // disagreement on negative integral division). Scale shape: the
  // corpus reduces through the day aggregate FIRST (map-side
  // combining); the spine join and both neighbor-carry windows run
  // on the calendar-bounded daily frame (≤2.6k rows at any fact
  // scale — the documented bounded-window class), never on facts.
  // ---------------------------------------------------------------
  val wInterpolateLinear: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
        .as("rev"))
    val spine = daily
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val known = when(col("rev").isNotNull,
      struct(col("day").as("d"), col("rev").as("r")))
    val wPrev = Grain.bounded(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Grain.bounded(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("day"), "left")
      .withColumn("p", last(known, ignoreNulls = true).over(wPrev))
      .withColumn("nx", first(known, ignoreNulls = true).over(wNext))
      .select(col("day"), col("rev").as("rev_cents"),
        (when(col("rev").isNotNull, col("rev") * 10000L)
          .when(col("p").isNotNull && col("nx").isNotNull, expr(
            """CAST(((p.r * datediff(nx.d, day)
              |  + nx.r * datediff(day, p.d)) * 10000)
              |  div datediff(nx.d, p.d) AS BIGINT)""".stripMargin))
          .when(col("p").isNotNull, col("p.r") * 10000L)
          .otherwise(col("nx.r") * 10000L) / lit(1000000.0))
          .as("filled"),
        col("rev").isNull.as("is_interpolated"))
      .orderBy(col("day"))
  }

  // Incremental-view maintenance with retractions
  // (the delta-merge loop a streaming materialized view runs —
  // inserts AND deletes folded into grouped aggregate state), and the
  // running-peak maximum drawdown of cumulative revenue. Both
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // w_ivm_delta — incremental view maintenance with retractions
  // (Blakeley et al. 1986 / the Flink retract-stream algebra): the
  // monthly-revenue view is built from the base snapshot (80% of
  // orders by key), then a change batch lands — inserts (the other
  // 20%) and deletes (a deterministic 1/16 of the base) — and the
  // view is MAINTAINED by merging signed delta aggregates
  // (+1/−1 weighted counts and cent sums) into the old state, with
  // groups whose count reaches zero dropped. The audit recomputes
  // the view directly from (base − deletes + inserts) and pins
  // equality per month — counts and cent sums are exact integers, so
  // "maintained ≡ recomputed" is bit-exact, not a tolerance. This is
  // the operator that makes a_var_merge's merge algebra an actual
  // maintenance loop: at 100 TB the view never rescans the base —
  // work is |delta|, not |corpus|. Scale shape: three map-side-
  // combining aggregates (base, signed delta, direct audit leg) and
  // two month-keyed joins of calendar-bounded frames.
  // ---------------------------------------------------------------
  val wIvmDelta: Q = (s, dir) => {
    val o = Tables.table(s, dir, "orders")
      .select(col("o_orderkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val isBase = col("o_orderkey") % 10 < 8
    val isDel = isBase &&
      substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0"
    val viewOld = o.filter(isBase).groupBy(col("month"))
      .agg(count(lit(1)).as("n0"), sum(col("cents")).cast("long").as("s0"))
    // signed delta: inserts weight +1, retractions weight -1
    val delta = o.select(col("month"), col("cents"),
        when(!isBase, 1L).when(isDel, -1L).otherwise(0L).as("w"))
      .filter(col("w") =!= 0L)
      .groupBy(col("month"))
      .agg(sum(col("w")).cast("long").as("dn"),
        sum(col("w") * col("cents")).cast("long").as("ds"))
    val maintained = viewOld.join(delta, Seq("month"), "full_outer")
      .select(col("month"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L)))
          .as("s"))
      .filter(col("n_orders") > 0L)
    val direct = o.filter((isBase && !isDel) || !isBase)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_direct"),
        sum(col("cents")).cast("long").as("s_direct"))
    maintained.join(direct, Seq("month"), "full_outer")
      .select(col("month"), col("n_orders"),
        (expr("CAST((s * 10000) div n_orders AS BIGINT)") / lit(1000000.0))
          .as("avg_price"),
        (col("n_orders") === col("n_direct") && col("s") === col("s_direct"))
          .as("ivm_matches_direct"))
      .orderBy(col("month"))
  }

  // ---------------------------------------------------------------
  // w_max_drawdown — maximum drawdown of cumulative daily revenue:
  // the largest peak-to-trough drop of the running total, with the
  // trough day (ties → earliest). Revenue days are all positive so
  // the raw cumsum never draws down — the audited series is the
  // day's revenue MINUS the calendar-mean baseline (exact integer:
  // day_cents·n_days − total_cents, the per-day surplus scaled by
  // n_days), i.e. the cumulative deviation from trend, whose
  // drawdown marks the longest under-performing stretch. All sums,
  // running peaks, and gaps are exact integers; dollars appear only
  // in the final micro-unit division (scaled back by n_days). Scale
  // shape: corpus reduces through the day aggregate first; the
  // cumsum/peak windows run on the calendar-bounded daily frame
  // (documented bounded-window class).
  // ---------------------------------------------------------------
  val wMaxDrawdown: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
        .as("rev"))
    val wAll = Grain.whole
    val wCum = Grain.bounded(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = daily
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("rev")).over(wAll))
      // surplus in cents·n_days units — integer-exact deviation
      .withColumn("surplus", col("rev") * col("n_days") - col("total"))
      .withColumn("cum", sum(col("surplus")).over(wCum))
      .withColumn("peak", max(col("cum")).over(wCum))
      .withColumn("dd", col("peak") - col("cum"))
    dev
      .withColumn("rk", row_number().over(
        Grain.bounded(desc("dd"), col("day"))))
      .filter(col("rk") === 1)
      // surplus units are cents·n_days: floor back to whole cents
      // first (exact, mirrored in the oracle), then to micro-dollars
      .select(col("day").as("trough_day"), col("n_days"),
        (expr("CAST((dd div n_days) * 10000 AS BIGINT)") /
          lit(1000000.0)).as("max_drawdown"),
        // implicit 0-anchor: a peak below trend start clamps to 0,
        // keeping the integral division on non-negative operands
        // (Spark div truncates, DuckDB // floors — they agree only
        // for non-negative numerators)
        (expr("CAST((greatest(peak, 0L) div n_days) * 10000 AS BIGINT)") /
          lit(1000000.0)).as("peak_dev"))
  }

  // ---------------------------------------------------------------
  // w_twap — time-weighted average value per user over the irregular
  // event series (the TWAP/feature-store shape: a reading holds
  // until the next one; simple means over-weight bursts). Per-user
  // lead window (partitioned — bounded by per-user activity, never
  // global), integer-exact microsecond durations, and the Σ value·dur
  // numerator folds in event order (bit-stable double); one rounded
  // output column. Single-event users have no held interval and are
  // excluded by the n_events ≥ 2 contract.
  // ---------------------------------------------------------------
  val wTwap: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val terms = Tables.table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("next_us", unix_micros(lead(col("ts"), 1).over(w)))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_us", col("next_us") - unix_micros(col("ts")))
      .withColumn("term", col("value") * d(col("dur_us")))
    terms.groupBy(col("user_id"))
      .agg((count(lit(1)) + 1).as("n_events"),
        sum(col("dur_us")).cast("long").as("span_us"),
        expr("aggregate(sort_array(collect_list(struct(ts, event_id, term)))," +
          " 0D, (a, x) -> a + x.term)").as("num"))
      .select(col("user_id"), col("n_events"), col("span_us"),
        round(col("num") / d(col("span_us")), 6).as("twap"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // w_backtest_mase — seasonal-naive backtest scored by MASE
  // (Hyndman & Koehler 2006): per event_type, daily counts on a
  // dense date spine; the last 14 days are the test window, the
  // rest train. One-step seasonal-naive (m = 7) forecasts each day
  // as the count 7 days earlier; MASE = test MAE / in-sample naive
  // MAE, the scale-free score that lets event types of different
  // volumes share one dashboard. Scale shape: ONE groupBy builds
  // the daily counts (map-side combine), the spine is a broadcast
  // sequence() cross join, and the m-lag is a per-type window
  // (partitioned — bounded by spine length, never global). Daily
  // counts and |errors| are integers, so both MAE sums are exact
  // longs; MASE = (Σtest·n_train)/(Σtrain·n_test) is ONE double
  // division of exact integer products (round 6).
  // ---------------------------------------------------------------
  val wBacktestMase: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"), col("d1"))
    val dense = Tables.table(s, dir, "events")
      .select(col("event_type")).distinct()
      .crossJoin(broadcast(spine))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val scored = dense
      .withColumn("lag7", lag(col("c"), 7).over(w))
      .filter(col("lag7").isNotNull)
      .withColumn("abs_err", abs(col("c") - col("lag7")))
      .withColumn("is_test", col("day") > date_sub(col("d1"), 14))
    scored.groupBy(col("event_type"))
      .agg(
        sum(when(!col("is_test"), 1L).otherwise(0L)).cast("long").as("n_train"),
        sum(when(col("is_test"), 1L).otherwise(0L)).cast("long").as("n_test"),
        sum(when(!col("is_test"), col("abs_err"))).cast("long").as("sum_train"),
        sum(when(col("is_test"), col("abs_err"))).cast("long").as("sum_test"))
      .select(col("event_type"), col("n_train"), col("n_test"),
        round(d(col("sum_train")) / d(col("n_train")), 6).as("mae_train"),
        round(d(col("sum_test")) / d(col("n_test")), 6).as("mae_test"),
        round(d(col("sum_test") * col("n_train")) /
          d(col("sum_train") * col("n_test")), 6).as("mase"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // w_kalman_1d — 1-D Kalman filter (random-walk state, Kalman
  // 1960) over daily order revenue, restarting each year (the
  // w_holt_winters convention): Q = 2.0 process noise, R = 10.0
  // measurement noise (revenue in millions to keep the noise scale
  // meaningful),
  //   P⁻ = P_{t−1} + Q
  //   K  = P⁻ / (P⁻ + R)
  //   x̂  = x̂_{t−1} + K (z_t − x̂_{t−1})
  //   P  = (1 − K) P⁻
  // initialized x̂₁ = z₁, P₁ = R, K₁ = 1. The coupled (x̂, P)
  // recurrence runs as ONE Spark higher-order fold carrying the
  // full state struct, and the oracle replays it as a DuckDB
  // RECURSIVE CTE stepping the identical arithmetic DAG — raw
  // doubles hash-match un-rounded (the holt-winters precedent; the
  // textual duplication of K into x̂/P is pure arithmetic, every
  // copy evaluates identically). Scale shape: the fold runs over
  // DAYS per year partition (≤366), never the order stream — the
  // corpus reduces through the exact-decimal daily aggregate first.
  // ---------------------------------------------------------------
  val wKalman1d: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))" +
        " AS DOUBLE) / 1000000.0 AS DOUBLE)").as("z"))
      .withColumn("yr", year(col("day")))
      .withColumn("t", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("day"))).cast("int"))
      .transform(Barrier.materialize) // consumed by the fold input and the join back
    val perYear = daily.groupBy(col("yr"))
      .agg(sort_array(collect_list(struct(col("t"), col("z")))).as("days"))
    // textual pieces — no let-binding in SQL lambdas, so P⁻ and K
    // are duplicated; pure arithmetic, every copy is the same double
    val PP = "(st.p + 2.0)"
    val KK = s"($PP / ($PP + 10.0))"
    val X = s"(st.x + $KK * (x.z - st.x))"
    val P = s"((1.0 - $KK) * $PP)"
    val fold =
      s"""aggregate(
         |  days,
         |  named_struct(
         |    'x', CAST(0.0 AS DOUBLE), 'p', CAST(0.0 AS DOUBLE), 't', 0,
         |    'out', CAST(array() AS
         |      ARRAY<STRUCT<t: INT, x: DOUBLE, p: DOUBLE, k: DOUBLE>>)),
         |  (st, x) -> CASE WHEN st.t = 0 THEN named_struct(
         |      'x', x.z, 'p', CAST(10.0 AS DOUBLE), 't', 1,
         |      'out', concat(st.out, array(named_struct(
         |        't', x.t, 'x', x.z, 'p', CAST(10.0 AS DOUBLE),
         |        'k', CAST(1.0 AS DOUBLE)))))
         |    ELSE named_struct(
         |      'x', $X, 'p', $P, 't', st.t + 1,
         |      'out', concat(st.out, array(named_struct(
         |        't', x.t, 'x', $X, 'p', $P, 'k', $KK)))) END)""".stripMargin
    perYear.select(col("yr").as("oyr"), explode(expr(s"($fold).out")).as("o"))
      .join(daily, col("oyr") === col("yr") && col("o.t") === col("t"))
      .select(col("day"), col("z").as("revenue_m"),
        col("o.x").as("estimate"), col("o.p").as("variance"),
        col("o.k").as("gain"))
      .orderBy(col("day"))
  }

  // A generalized-ESD outlier sweep over the daily
  // revenue series (Rosner 1983, fixed-threshold variant), James–
  // Stein / empirical-Bayes shrinkage of per-source means (James &
  // Stein 1961), and an integer-exact unnormalized Haar wavelet
  // pyramid (Haar 1910 — the multi-resolution energy screen). All
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // w_anomaly_esd — generalized ESD outlier sweep (Rosner 1983) on
  // daily order revenue, k = 5 rounds: each round computes the
  // mean/std of the REMAINING series, flags the day with the
  // largest studentized deviation R = |x−x̄|/s, removes it, and
  // repeats — the masking-proof alternative to one-shot z-scores
  // (one big outlier inflates s and hides the rest; re-estimating
  // after each removal unmasks them). Fixed threshold R > 3
  // (documented simplification of the t-based λᵢ — no t-quantiles
  // in either engine). Scale shape: the order stream reduces
  // through ONE exact-decimal daily aggregate; each round is one
  // tiny moment scan + TakeOrdered(1) over the bounded day series
  // (≤ years×366), and the removal set (≤ 5 days) broadcasts.
  // Moments are exact: centi-unit longs for Σx, DECIMAL(38,0) for
  // Σx²; R is a fixed double DAG over them.
  // ---------------------------------------------------------------
  val wAnomalyEsd: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .transform(Barrier.materialize) // scanned once per round (5 rounds)
    var remaining = daily
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to 5) {
      val mom = remaining.agg(count(lit(1)).as("n"),
        sum(col("m")).cast("long").as("s1"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("s2"))
      val scored = remaining.crossJoin(broadcast(mom))
        .withColumn("mean", d(col("s1")) / d(col("n")))
        .withColumn("sd", sqrt((d(col("s2")) -
          d(col("s1")) * d(col("s1")) / d(col("n"))) / (d(col("n")) - 1.0)))
        .withColumn("r", abs(d(col("m")) - col("mean")) / col("sd"))
      val worst = scored.orderBy(desc("r"), col("day")).limit(1)
        .select(lit(i.toLong).as("iteration"), col("day"),
          (d(col("m")) / 100.0).as("revenue"),
          round(col("r"), 6).as("r_stat"), (col("r") > 3.0).as("flagged"))
        .transform(Barrier.materialize) // consumed by output AND the anti join
      rounds += worst
      remaining = remaining.join(broadcast(worst.select(col("day"))),
        Seq("day"), "left_anti").transform(Barrier.materialize)
    }
    rounds.reduce(_ unionAll _).orderBy(col("iteration"))
  }

  // ---------------------------------------------------------------
  // w_haar_decompose — 3-level UNNORMALIZED Haar wavelet pyramid of
  // the daily revenue series (Haar 1910; the multi-resolution
  // energy screen behind change detection and compression): level ℓ
  // pairs consecutive coefficients, s = a + b (approximation),
  // d = a − b (detail); an odd tail coefficient passes through to
  // the next level with no detail (documented). Unnormalized, so
  // every coefficient is an EXACT centi-unit long — no float
  // anywhere; per-level detail energy Σd² rides DECIMAL(38,0).
  // Output: every detail coefficient of levels 1–3 plus the final
  // level-3 approximations, (level, idx)-keyed. Scale shape: the
  // order stream reduces through one exact daily aggregate; the
  // 3 pairing rounds are groupBy((idx−1) div 2) over the bounded
  // day series — the index is a per-level dense row_number over a
  // pre-aggregate (the documented low-cardinality window family).
  // ---------------------------------------------------------------
  val wHaarDecompose: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("v"))
      .withColumn("idx", row_number().over(Grain.bounded(col("day")))
        .cast("long"))
      .select(col("idx"), col("v"))
      .transform(Barrier.materialize)
    var approx = daily
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (lvl <- 1 to 3) {
      val paired = approx
        .withColumn("j", ((col("idx") - 1) / 2).cast("long") + 1)
        .groupBy(col("j"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("v")).cast("long").as("ssum"),
          sum(when(col("idx") % 2 === 1, col("v")).otherwise(-col("v")))
            .cast("long").as("sdiff"))
        .transform(Barrier.materialize) // consumed by detail output AND next level
      out += paired.filter(col("cnt") === 2)
        .select(lit(lvl.toLong).as("level"), lit("d").as("coef"),
          col("j").as("idx"), col("sdiff").as("value"))
      approx = paired.select(col("j").as("idx"), col("ssum").as("v"))
    }
    out += approx.select(lit(3L).as("level"), lit("s").as("coef"),
      col("idx"), col("v").as("value"))
    out.reduce(_ unionAll _).orderBy(col("level"), col("coef"), col("idx"))
  }

  /** One unrolled ESD round: moments of the remaining set, worst
    * day, and the shrunken remainder. */
  private def esdRounds(n: Int): String =
    (1 to n).map { i =>
      s"""mo$i AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s1,
         |         sum(CAST(m AS DECIMAL(38,0)) * m) AS s2
         |  FROM rem${i - 1}),
         |w$i AS MATERIALIZED (
         |  SELECT $i AS iteration, day, m::DOUBLE / 100.0 AS revenue,
         |         round(r, 6) AS r_stat, r > 3.0 AS flagged FROM (
         |    SELECT r.day, r.m,
         |           abs(r.m::DOUBLE - mo.s1::DOUBLE / mo.n::DOUBLE)
         |             / sqrt((mo.s2::DOUBLE - mo.s1::DOUBLE * mo.s1::DOUBLE
         |               / mo.n::DOUBLE) / (mo.n::DOUBLE - 1.0)) AS r
         |    FROM rem${i - 1} r CROSS JOIN mo$i mo)
         |  ORDER BY r DESC, day LIMIT 1),
         |rem$i AS MATERIALIZED (
         |  SELECT day, m FROM rem${i - 1}
         |  WHERE day NOT IN (SELECT day FROM w$i))"""
        .stripMargin
    }.mkString(",\n")

  /** One unrolled Haar pairing level. */
  private def haarLevels(n: Int): String =
    (1 to n).map { l =>
      s"""p$l AS MATERIALIZED (
         |  SELECT ((idx - 1) // 2) + 1 AS j, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(sum(v) AS BIGINT) AS ssum,
         |         CAST(sum(CASE WHEN idx % 2 = 1 THEN v ELSE -v END)
         |           AS BIGINT) AS sdiff
         |  FROM a${l - 1} GROUP BY 1),
         |a$l AS (SELECT j AS idx, ssum AS v FROM p$l)"""
        .stripMargin
    }.mkString(",\n")

  // ---------------------------------------------------------------
  // w_garch_filter — GARCH(1,1) conditional-variance filter
  // (Bollerslev 1986) on daily revenue simple returns, per year
  // (the w_holt_winters restart convention): ω = 0.000005,
  // α = 0.1, β = 0.85,
  //   r_t  = (x_t − x_{t−1}) / x_{t−1}
  //   σ²_t = ω + α r²_{t−1} + β σ²_{t−1},  σ²_init = 0.04
  // plus the standardized residual r_t/√σ²_t — the volatility-
  // clustering screen behind anomaly thresholds that adapt to
  // regime. Pure arithmetic + sqrt (correctly-rounded IEEE — no
  // libm divergence), so the (σ², r) recursion runs as ONE Spark
  // HOF fold and a DuckDB RECURSIVE CTE with the identical double
  // DAG; raw doubles hash-match un-rounded. Scale shape: the order
  // stream reduces through the exact-decimal daily aggregate; the
  // fold runs over ≤366 days per year partition.
  // ---------------------------------------------------------------
  val wGarchFilter: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))" +
        " AS DOUBLE) / 1000000.0 AS DOUBLE)").as("x"))
      .withColumn("yr", year(col("day")))
      .withColumn("t", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("day"))).cast("int"))
      .transform(Barrier.materialize) // consumed by the fold input and the join back
    val perYear = daily.groupBy(col("yr"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("days"))
    // r uses the PREVIOUS x carried in state; σ² uses the previous
    // r and σ² — textual duplication is pure arithmetic
    val R = "((x.x - st.xprev) / st.xprev)"
    val S2 = "(0.000005 + 0.1 * (st.r * st.r) + 0.85 * st.s2)"
    val fold =
      s"""aggregate(
         |  days,
         |  named_struct(
         |    'xprev', CAST(0.0 AS DOUBLE), 'r', CAST(0.0 AS DOUBLE),
         |    's2', CAST(0.0 AS DOUBLE), 't', 0,
         |    'out', CAST(array() AS
         |      ARRAY<STRUCT<t: INT, r: DOUBLE, s2: DOUBLE, z: DOUBLE>>)),
         |  (st, x) -> CASE
         |    WHEN st.t = 0 THEN named_struct(
         |      'xprev', x.x, 'r', CAST(0.0 AS DOUBLE),
         |      's2', CAST(0.04 AS DOUBLE), 't', 1,
         |      'out', st.out)
         |    ELSE named_struct(
         |      'xprev', x.x, 'r', $R, 's2', $S2, 't', st.t + 1,
         |      'out', concat(st.out, array(named_struct(
         |        't', x.t, 'r', $R, 's2', $S2,
         |        'z', $R / sqrt($S2))))) END)""".stripMargin
    perYear.select(col("yr").as("oyr"), explode(expr(s"($fold).out")).as("o"))
      .join(daily, col("oyr") === col("yr") && col("o.t") === col("t"))
      .select(col("day"), col("x").as("revenue_m"), col("o.r").as("ret"),
        col("o.s2").as("sigma2"), col("o.z").as("std_resid"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_pot_gpd — peaks-over-threshold tail fit of daily revenue
  // (EVT: exceedances over a high threshold are ~GPD; Pickands
  // 1975). Threshold u = the type-1 95th percentile of the daily
  // series (value at rank ⌈0.95·n⌉, day tiebreak — integer-exact,
  // no interpolation); the Hosking–Wallis (1987) moment estimators
  // on the exceedances y = x − u:
  //   k̂ = ½(ē²/v − 1),  σ̂ = ½ē(ē²/v + 1)   (k = −ξ)
  // — the disaster-sizing complement of the Hill index (a_tail_index
  // fits the power-law SLOPE; POT-GPD sizes the exceedance law
  // itself). Scale shape: the order stream reduces through one
  // exact-decimal daily aggregate; the rank window runs over the
  // bounded day series (documented low-cardinality family);
  // moments are exact (long Σy, DECIMAL(38,0) Σy²) into a fixed
  // double DAG.
  // ---------------------------------------------------------------
  val wPotGpd: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .transform(Barrier.materialize) // consumed by the rank scan AND the excess scan
    val n = daily.agg(count(lit(1)).as("n"))
    val u = daily
      .withColumn("rk", row_number().over(Grain.bounded(col("m"), col("day")))
        .cast("long"))
      .crossJoin(broadcast(n))
      .filter(col("rk") === ceil(lit(0.95) * d(col("n"))).cast("long"))
      .select(col("m").as("u"), col("n"))
    val ex = daily.crossJoin(broadcast(u))
      .filter(col("m") > col("u"))
      .select(col("u"), col("n"), (col("m") - col("u")).as("y"))
    ex.groupBy(col("u"), col("n"))
      .agg(count(lit(1)).as("n_exceed"),
        sum(col("y")).cast("long").as("s1"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("s2"))
      .withColumn("ne", d(col("n_exceed")))
      .withColumn("e", d(col("s1")) / col("ne"))
      .withColumn("v", (d(col("s2")) - d(col("s1")) * d(col("s1")) / col("ne"))
        / (col("ne") - 1.0))
      .select(col("n").as("n_days"),
        (d(col("u")) / 100.0).as("threshold"),
        col("n_exceed"),
        round(col("e") / 100.0, 6).as("mean_excess"),
        round((col("e") * col("e") / col("v") - 1.0) / 2.0, 6).as("k_hat"),
        round(col("e") * (col("e") * col("e") / col("v") + 1.0) / 2.0
          / 100.0, 6).as("sigma_hat"))
  }

  // ---------------------------------------------------------------
  // w_periodogram — Fourier periodogram of mean-centered daily
  // revenue at the Fourier frequencies k = 1..min(512, ⌊(n−1)/2⌋),
  // ranked by variance share (Fisher's g statistic = the top share:
  // the classical test for a hidden periodicity — the weekly line
  // should dominate a retail series). I_k = (C_k² + S_k²)/n with
  // C_k = Σ_t xc_t·cos(2πkt/n). Scale shape: the day series is
  // calendar-bounded (the documented low-cardinality family), so the
  // day×frequency term grid is bounded (≤ n·512 rows) at ANY corpus
  // scale — the only corpus-size work is the exact-decimal daily
  // aggregate. Float policy: cos/sin are libm (1-ulp class), so the
  // per-frequency sums fold in pinned day order (sorted fold ≡
  // DuckDB list_sum(list ORDER BY t)) and every output goes through
  // round(…, 6) — the bm25 rule; ranking is on the ROUNDED share
  // with the frequency index as tiebreak (the rounded-rank rule).
  // ---------------------------------------------------------------
  /** Shared Fourier power grid (k, n, p) over mean-centered daily
    * revenue, k = 1..min(512, ⌊(n−1)/2⌋) — consumed by w_periodogram
    * here and w_spectral_entropy (GraphQueries). The day series is
    * calendar-bounded, so it collapses to ONE array row and each
    * frequency folds over it in t order: identical terms in the
    * identical order to the former day×frequency exploded grid —
    * whose two sorted collect_list ObjectHashAggregates pushed ~2.5M
    * structs per run — with theta's multiplication chain preserved
    * (((2π)·k)·t)/n so every double matches bit-for-bit. */
  private[operators] def fourierPower(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
    val base = daily
      .withColumn("t", (row_number().over(Grain.bounded(col("day"))) - 1)
        .cast("long"))
      .agg(sort_array(collect_list(struct(col("t"), col("m")))).as("ser"),
        count(lit(1)).cast("long").as("n"),
        sum(col("m")).cast("long").as("sm"))
      .withColumn("mu", d(col("sm")) / d(col("n")))
    base.select(explode(sequence(lit(1L),
        least(lit(512L), ((col("n") - 1) / 2).cast("long")))).as("k"),
        col("n"), col("mu"), col("ser"))
      // the 1-row parent leaves all 512 folds in ONE task; spread the
      // frequency rows so the ~2.5M cos/sin evaluations parallelize
      .repartition(col("k"))
      .select(col("k"), col("n"),
        expr("aggregate(ser, 0D, (a, x) -> a +" +
          " (CAST(x.m AS DOUBLE) - mu) * cos(2.0D * pi()" +
          " * CAST(k AS DOUBLE) * CAST(x.t AS DOUBLE)" +
          " / CAST(n AS DOUBLE)))").as("cc"),
        expr("aggregate(ser, 0D, (a, x) -> a +" +
          " (CAST(x.m AS DOUBLE) - mu) * sin(2.0D * pi()" +
          " * CAST(k AS DOUBLE) * CAST(x.t AS DOUBLE)" +
          " / CAST(n AS DOUBLE)))").as("ss"))
      .select(col("k"), col("n"),
        ((col("cc") * col("cc") + col("ss") * col("ss")) / d(col("n"))).as("p"))
  }

  val wPeriodogram: Q = (s, dir) => {
    val pw = fourierPower(s, dir)
    val tot = pw.agg(expr("aggregate(sort_array(collect_list(struct(k, p)))," +
      " 0D, (a, x) -> a + x.p)").as("tp"))
    pw.crossJoin(broadcast(tot))
      .withColumn("share", round(col("p") / col("tp"), 6))
      .withColumn("rank", row_number().over(
        Grain.bounded(desc("share"), col("k"))).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("rank"), col("k"),
        round(d(col("n")) / d(col("k")), 3).as("period_days"),
        col("share").as("power_share"))
      .orderBy(col("rank"))
  }

  // ---------------------------------------------------------------
  // w_pacf — PACF of daily revenue at lags 1..7 via Durbin–Levinson:
  //   φ₁₁ = ρ₁;  φ_kk = (ρ_k − Σⱼ φ_{k−1,j} ρ_{k−j}) /
  //                     (1 − Σⱼ φ_{k−1,j} ρ_j);
  //   φ_kj = φ_{k−1,j} − φ_kk φ_{k−1,k−j}
  // The recursion is FIXED-DEPTH (k ≤ 7), so it unrolls at plan-
  // build time into one scalar expression DAG over the 8-value
  // autocovariance frame — no iteration, no driver data. The same
  // unroll (same j-ascending addition order) generates the oracle
  // SQL from one recurrence printer, so the two engines share the
  // arithmetic text exactly. Scale shape: the corpus reduces to the
  // calendar-bounded daily series; one 7-lag window pass over it
  // (documented low-cardinality family); γ_k fold in pinned day
  // order (null lags contribute +0.0); outputs round-6.
  // ---------------------------------------------------------------
  private val PacfLags = 7

  val wPacf: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
    val n = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("m")).cast("long").as("sm"))
      .withColumn("mu", d(col("sm")) / d(col("n")))
    val w = Grain.bounded(col("day"))
    val lagged = (1 to PacfLags).foldLeft(
      daily.crossJoin(broadcast(n.select(col("mu"), col("n"))))) {
      (df, k) => df.withColumn(s"l$k", lag(col("m"), k).over(w))
    }
    def gammaTerm(k: Int): Column =
      if (k == 0) (d(col("m")) - col("mu")) * (d(col("m")) - col("mu"))
      else when(col(s"l$k").isNotNull,
        (d(col("m")) - col("mu")) * (d(col(s"l$k")) - col("mu")))
        .otherwise(lit(0.0))
    val terms = lagged.select(col("day") +: col("n") +:
      (0 to PacfLags).map(k => gammaTerm(k).as(s"g$k")): _*)
    val gam = terms.groupBy(col("n"))
      .agg((0 to PacfLags).map(k =>
        expr(s"aggregate(sort_array(collect_list(struct(day, g$k))), 0D," +
          s" (a, x) -> a + x.g$k)").as(s"gam$k")).head,
        (0 to PacfLags).map(k =>
          expr(s"aggregate(sort_array(collect_list(struct(day, g$k))), 0D," +
            s" (a, x) -> a + x.g$k)").as(s"gam$k")).tail: _*)
    val withRho = (1 to PacfLags).foldLeft(gam) { (df, k) =>
      df.withColumn(s"rho$k", col(s"gam$k") / col("gam0"))
    }
    // unrolled Durbin–Levinson, one MATERIALIZED level per k: naive
    // Column substitution re-inlines φ_{k−1,·} into every reference
    // (CollapseProject undoes any column sharing), and the tree
    // grows ~4^k — at k=7 plan compilation alone measured 23 s. A
    // barrier per level (a ONE-ROW frame — microseconds)
    // freezes each level's doubles as scanned columns, so level k
    // references values, not expression trees; the arithmetic and
    // its order are unchanged, hence bit-identical to the oracle's
    // fully-expanded text.
    var cur = withRho.withColumn("p_1_1", col("rho1")).transform(Barrier.materialize)
    for (k <- 2 to PacfLags) {
      val num = (1 until k).foldLeft(col(s"rho$k")) { (acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"rho${k - j}")
      }
      val den = (1 until k).foldLeft(lit(1.0): Column) { (acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"rho$j")
      }
      cur = cur.withColumn(s"p_${k}_$k", num / den).transform(Barrier.materialize)
      cur = cur.select(col("*") +: (1 until k).map(j =>
        (col(s"p_${k - 1}_$j") - col(s"p_${k}_$k") * col(s"p_${k - 1}_${k - j}"))
          .as(s"p_${k}_$j")): _*)
        .transform(Barrier.materialize)
    }
    val out = cur.select(col("n") +:
      (1 to PacfLags).flatMap(k => Seq(
        round(col(s"rho$k"), 6).as(s"acf$k"),
        round(col(s"p_${k}_$k"), 6).as(s"pacf$k"))): _*)
    out.select(explode(array((1 to PacfLags).map(k =>
        struct(lit(k).cast("int").as("lag"), col(s"acf$k").as("acf"),
          col(s"pacf$k").as("pacf"))): _*)).as("r"))
      .select(col("r.lag"), col("r.acf"), col("r.pacf"))
      .orderBy(col("lag"))
  }

  /** The same Durbin–Levinson unroll as the engine, printed as SQL
    * text — one recurrence generator feeds both engines, so the
    * addition order is identical by construction. */
  private def pacfSqlExprs: Seq[(Int, String)] = {
    val phi = scala.collection.mutable.Map[(Int, Int), String]()
    phi((1, 1)) = "rho1"
    for (k <- 2 to PacfLags) {
      val num = (1 until k).foldLeft(s"rho$k") { (acc, j) =>
        s"($acc - ${phi((k - 1, j))} * rho${k - j})"
      }
      val den = (1 until k).foldLeft("1.0") { (acc, j) =>
        s"($acc - ${phi((k - 1, j))} * rho$j)"
      }
      phi((k, k)) = s"($num / $den)"
      for (j <- 1 until k)
        phi((k, j)) = s"(${phi((k - 1, j))} - ${phi((k, k))} * ${phi((k - 1, k - j))})"
    }
    (1 to PacfLags).map(k => k -> phi((k, k)))
  }

  // ---------------------------------------------------------------
  // w_ses_grid — simple-exponential-smoothing α grid {0.1 … 0.9}
  // scored by one-step-ahead RMSE on daily revenue: s_t = αx_t +
  // (1−α)s_{t−1} seeded s_1 = x_1, forecast error e_t = x_t − s_{t−1}.
  // The winning α is what w_ewma_revenue should run with — measured,
  // not guessed. Scale shape: the corpus reduces to the calendar-
  // bounded daily series; the per-row prefix fold is the proven
  // w_brown_trend order-pinned pattern (scalar fold seeded on the
  // first element — never a struct accumulator, see the brown note),
  // replicated per α by a 9-row explode; the SSE folds in pinned day
  // order. RMSE ranks on the 6-dp-rounded value with α as tiebreak
  // (the bm25 rounded-rank rule).
  // ---------------------------------------------------------------
  private val SesAlphas = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  val wSesGrid: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("x"))
    val w = Grain.bounded(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val errs = daily
      .withColumn("prefix", collect_list(col("x")).over(w))
      .filter(size(col("prefix")) >= 1)
      .select(col("day"), col("x"), col("prefix"),
        explode(array(SesAlphas.map(lit): _*)).as("alpha"))
      .withColumn("s_prev", expr("aggregate(slice(prefix, 2," +
        " size(prefix) - 1), element_at(prefix, 1)," +
        " (a, v) -> a * (1.0D - alpha) + alpha * v)"))
      .withColumn("e2", (col("x") - col("s_prev")) * (col("x") - col("s_prev")))
    val scored = errs.groupBy(col("alpha"))
      .agg(count(lit(1)).cast("long").as("n_forecasts"),
        expr("aggregate(sort_array(collect_list(struct(day, e2))), 0D," +
          " (a, q) -> a + q.e2)").as("sse"))
      .withColumn("rmse", round(sqrt(col("sse") / d(col("n_forecasts"))), 6))
    scored
      .withColumn("rank", row_number().over(
        Grain.bounded(col("rmse"), col("alpha"))).cast("int"))
      .select(col("alpha"), col("n_forecasts"), col("rmse"), col("rank"))
      .orderBy(col("alpha"))
  }

  // A McNemar paired comparison of two document
  // filters (do the C4 rules and the linear classifier disagree more
  // than chance? — the right test when both run on the SAME corpus),
  // lead–lag cross-correlation between order volume and revenue (does
  // volume lead revenue? — the bivariate extension of a_autocorr),
  // and a multimodal shard-balance audit (is each packed training
  // shard modality-mixed or accidentally single-modality?). All
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // w_cross_correlation — Pearson correlation between daily order
  // COUNT and daily revenue k days LATER, k = −7..7: a peak at
  // k > 0 means volume leads revenue (pipeline latency); k = 0 is
  // the contemporaneous check. Per lag, the a_corr_regr recipe:
  // exact integer/decimal moments over the aligned pairs into one
  // fixed double formula, round-6 (the >2^53 decimal double-rounding
  // note on a_autocorr applies). Scale shape: the corpus reduces to
  // the calendar-bounded daily series; ±7 shifted copies come from
  // one lag/lead window pass (documented low-cardinality family);
  // the 15-lag explode is constant fan-out.
  // ---------------------------------------------------------------
  private val XcorrMaxLag = 7

  val wCrossCorrelation: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("rev"))
    val w = Grain.bounded(col("day"))
    val shifted = (-XcorrMaxLag to XcorrMaxLag).foldLeft(daily) { (df, k) =>
      if (k == 0) df.withColumn("y_0", col("rev"))
      else if (k > 0) df.withColumn(s"y_$k", lead(col("rev"), k).over(w))
      else df.withColumn(s"y_m${-k}", lag(col("rev"), -k).over(w))
    }
    val pairs = shifted.select(col("x"),
      explode(array((-XcorrMaxLag to XcorrMaxLag).map { k =>
        val cn = if (k >= 0) s"y_$k" else s"y_m${-k}"
        struct(lit(k).cast("int").as("k"), col(cn).as("y"))
      }: _*)).as("p"))
      .select(col("x"), col("p.k").as("k"), col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val m = pairs.groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    m.select(col("k").as("lag"), col("n").as("n_pairs"),
        round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
          .as("xcorr"))
      .orderBy(col("lag"))
  }

  // ---------------------------------------------------------------
  // w_turning_points — Kendall's turning-point test on daily
  // revenue: T = # local extrema (x_{t−1} < x_t > x_{t+1} or the
  // mirror), E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 under
  // randomness; |z| large = smoother (trend) or choppier
  // (oscillation) than noise. Complements a_runs_test (which sees
  // regimes, not local shape). Scale shape: the corpus reduces to
  // the calendar-bounded daily series; one lag/lead window over it
  // (documented family); all counts exact into one double DAG.
  // ---------------------------------------------------------------
  val wTurningPoints: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
    val w = Grain.bounded(col("day"))
    val t = daily
      .withColumn("prev", lag(col("m"), 1).over(w))
      .withColumn("nxt", lead(col("m"), 1).over(w))
      .filter(col("prev").isNotNull && col("nxt").isNotNull)
      .agg(count(lit(1)).cast("long").as("n_interior"),
        sum(when((col("prev") < col("m") && col("m") > col("nxt")) ||
            (col("prev") > col("m") && col("m") < col("nxt")), 1L)
          .otherwise(0L)).cast("long").as("t"))
    val n = d(col("n_interior")) + lit(2.0)
    val mu = lit(2.0) * (n - lit(2.0)) / lit(3.0)
    val vr = (lit(16.0) * n - lit(29.0)) / lit(90.0)
    val z = (d(col("t")) - mu) / sqrt(vr)
    t.select((col("n_interior") + 2).cast("long").as("n_days"),
      col("t").as("n_turning_points"),
      round(mu, 6).as("expected"),
      round(z, 6).as("z"),
      when(z < -1.96, "trending").when(z > 1.96, "oscillating")
        .otherwise(lit("random")).as("verdict"))
  }

  // ---------------------------------------------------------------
  // w_hurst — rescaled-range (R/S) estimate of the Hurst exponent
  // on daily revenue: for block sizes s ∈ {16, 32, 64, 128}, each
  // full block's R (range of the cumulative deviation walk) over S
  // (population std, exact-moment form), averaged per size; H = the
  // log-log slope. Persistent series (H > ½) break i.i.d. bootstrap
  // and forecast assumptions. Scale shape: the series is
  // calendar-bounded; blocks are partition-local windows (the
  // per-block walk is sequential by definition, block-parallel
  // across the grid); the per-size means and the 4-point regression
  // are sorted folds; round-6 (libm ln/sqrt at the edges).
  // ---------------------------------------------------------------
  private val HurstSizes = Seq(16L, 32L, 64L, 128L)

  val wHurst: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .withColumn("rk", (row_number().over(Grain.bounded(col("day"))) - 1)
        .cast("long"))
      .transform(Barrier.materialize) // consumed once per block size
    val grid = daily
      .select(col("day"), col("m"), col("rk"),
        explode(array(HurstSizes.map(lit): _*)).as("s"))
      .withColumn("b", (col("rk") / col("s")).cast("long"))
    val stats = grid.groupBy(col("s"), col("b"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("m")).cast("long").as("sm"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("smm"))
      .filter(col("cnt") === col("s")) // full blocks only
      .withColumn("mu", d(col("sm")) / d(col("s")))
      .withColumn("sd", sqrt((d(col("smm")) -
        d(col("sm")) * d(col("sm")) / d(col("s"))) / d(col("s"))))
    val walk = grid.join(stats.select(col("s"), col("b"), col("mu"), col("sd")),
        Seq("s", "b"))
      .withColumn("rundev", sum(d(col("m")) - col("mu")).over(
        Window.partitionBy(col("s"), col("b")).orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("s"), col("b"), col("sd"))
      .agg((max(col("rundev")) - min(col("rundev"))).as("r"))
      .filter(col("sd") > 0.0)
      .withColumn("rs", col("r") / col("sd"))
    val perSize = walk.groupBy(col("s"))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        expr("aggregate(sort_array(collect_list(struct(b, rs))), 0D," +
          " (a, x) -> a + x.rs)").as("sum_rs"))
      .withColumn("mean_rs", col("sum_rs") / d(col("n_blocks")))
      .withColumn("lx", log(d(col("s"))))
      .withColumn("ly", log(col("mean_rs")))
      .transform(Barrier.materialize) // the 4-row regression AND the output rows
    def fold(v: String): Column =
      expr(s"aggregate(sort_array(collect_list(struct(s, $v))), 0D," +
        s" (a, q) -> a + q.$v)")
    val reg = perSize
      .select(col("s"), col("lx"), col("ly"), (col("lx") * col("ly")).as("lxy"),
        (col("lx") * col("lx")).as("lxx"))
      .agg(count(lit(1)).cast("long").as("k"),
        fold("lx").as("slx"), fold("ly").as("sly"),
        fold("lxy").as("slxy"), fold("lxx").as("slxx"))
      .select(((d(col("k")) * col("slxy") - col("slx") * col("sly")) /
        (d(col("k")) * col("slxx") - col("slx") * col("slx"))).as("hurst"))
    perSize.crossJoin(broadcast(reg))
      .select(col("s").as("block_size"), col("n_blocks"),
        round(col("mean_rs"), 6).as("mean_rs"),
        round(col("hurst"), 6).as("hurst"))
      .orderBy(col("block_size"))
  }

  // ---------------------------------------------------------------
  // w_season_strength — Hyndman's strength statistics over the
  // registered classical decomposition (w_seasonal_decompose's exact
  // trend/seasonal/residual construction, replicated expression for
  // expression): F_seasonal = max(0, 1 − Var(R)/Var(S+R)),
  // F_trend = max(0, 1 − Var(R)/Var(T+R)) — each in [0,1], the
  // one-number summary the decomposition's row stream doesn't give.
  // Scale shape: identical to the decomposition (calendar-bounded
  // windows + folds); the variances are day-ordered sorted folds of
  // the component series; round-6.
  // ---------------------------------------------------------------
  val wSeasonStrength: Q = (s, dir) => {
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
      .withColumn("yr", year(col("day")))
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7,
          expr("CAST(SUM(rev) OVER (PARTITION BY yr ORDER BY day" +
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)") / 7.0))
      .withColumn("detr", d(col("rev")) - col("trend"))
      .transform(Barrier.materialize) // dow means AND the strength pass
    val dowM = daily.filter(col("detr").isNotNull)
      .groupBy(dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n"),
        expr("aggregate(sort_array(collect_list(struct(day, detr))), 0D," +
          " (a, x) -> a + x.detr)").as("sd"))
      .withColumn("m", col("sd") / d(col("n")))
      .transform(Barrier.materialize)
    val grand = dowM.agg((expr(
      "aggregate(sort_array(collect_list(struct(dow, m))), 0D," +
        " (a, x) -> a + x.m)") / d(count(lit(1)))).as("gm"))
    val comp = daily.filter(col("detr").isNotNull)
      .join(broadcast(dowM.select(col("dow"), col("m"))),
        dayofweek(col("day")) === col("dow"), "left")
      .crossJoin(broadcast(grand))
      .select(col("day"),
        (col("m") - col("gm")).as("seas"),
        (col("detr") - (col("m") - col("gm"))).as("resid"),
        col("detr"),
        (d(col("rev")) - (col("m") - col("gm"))).as("deseas"))
    def varOf(v: String): Column = {
      val sv = expr(s"aggregate(sort_array(collect_list(struct(day, $v)))," +
        s" 0D, (a, q) -> a + q.$v)")
      val svv = expr(s"aggregate(sort_array(collect_list(struct(day," +
        s" $v * $v))), 0D, (a, q) -> a + q.col2)")
      (svv - sv * sv / d(count(lit(1)))) / d(count(lit(1)))
    }
    comp.agg(count(lit(1)).cast("long").as("n_days_used"),
        varOf("resid").as("var_r"), varOf("detr").as("var_sr"),
        varOf("deseas").as("var_tr"))
      .select(col("n_days_used"),
        round(greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_sr")), 6)
          .as("f_seasonal"),
        round(greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_tr")), 6)
          .as("f_trend"))
  }

  // ---------------------------------------------------------------
  // w_holt_grid — Holt's linear-trend (double exponential)
  // smoothing grid over daily revenue: level l_t = αx_t +
  // (1−α)(l_{t−1}+b_{t−1}), trend b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1},
  // one-step forecast f_t = l_{t−1}+b_{t−1}, init (l₂, b₂) =
  // (x₂, x₂−x₁), errors scored from t = 3. The (α, β) ∈ {0.2,0.5,0.8}²
  // grid ranks by RMSE — the trend-aware companion of w_ses_grid
  // (Holt 1957/2004). Scale shape: calendar-bounded like the SES
  // grid — each row folds its own day-prefix (Σ T² ≈ 2.9M fold steps
  // at 2.4k days, embarrassingly parallel over (row, α, β)); the
  // 2-double state rides an array accumulator; SSE via sorted fold.
  // ---------------------------------------------------------------
  private val HoltParams = Seq(0.2, 0.5, 0.8)

  val wHoltGrid: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("x"))
    val w = Grain.bounded(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = HoltParams.flatMap(a => HoltParams.map(b => (a, b)))
    val errs = daily
      .withColumn("prefix", collect_list(col("x")).over(w))
      .filter(size(col("prefix")) >= 2)
      .select(col("day"), col("x"), col("prefix"),
        explode(array(grid.map { case (a, b) =>
          struct(lit(a).as("alpha"), lit(b).as("beta"))
        }: _*)).as("ab"))
      .select(col("day"), col("x"), col("prefix"),
        col("ab.alpha").as("alpha"), col("ab.beta").as("beta"))
      // fold [l, b] through prefix elements 3..t−1 from the
      // (x₂, x₂−x₁) init; the forecast for THIS row is l + b
      .withColumn("st", expr(
        "aggregate(slice(prefix, 3, size(prefix) - 2)," +
          " array(element_at(prefix, 2)," +
          " element_at(prefix, 2) - element_at(prefix, 1))," +
          " (a, v) -> array(" +
          "   alpha * v + (1.0D - alpha) * (element_at(a, 1) + element_at(a, 2))," +
          "   beta * (alpha * v + (1.0D - alpha) * (element_at(a, 1)" +
          "     + element_at(a, 2)) - element_at(a, 1))" +
          "     + (1.0D - beta) * element_at(a, 2)))"))
      .withColumn("f", element_at(col("st"), 1) + element_at(col("st"), 2))
      .withColumn("e2", (col("x") - col("f")) * (col("x") - col("f")))
    val scored = errs.groupBy(col("alpha"), col("beta"))
      .agg(count(lit(1)).cast("long").as("n_forecasts"),
        expr("aggregate(sort_array(collect_list(struct(day, e2))), 0D," +
          " (a, q) -> a + q.e2)").as("sse"))
      .withColumn("rmse", round(sqrt(col("sse") / d(col("n_forecasts"))), 6))
    scored
      .withColumn("rank", row_number().over(
        Grain.bounded(col("rmse"), col("alpha"), col("beta"))).cast("int"))
      .select(col("alpha"), col("beta"), col("n_forecasts"), col("rmse"),
        col("rank"))
      .orderBy(col("alpha"), col("beta"))
  }

  // ---------------------------------------------------------------
  // w_mad_anomalies — robust anomaly days on daily revenue via the
  // modified z-score (Iglewicz & Hoaglin 1993): z = (x − med) /
  // (1.4826·MAD), |z| > 3.5 flags. Median and MAD both run through
  // Ranking.withGlobalRank (range partition + P carry rows — the
  // two-phase discipline, never a single-partition sort of the day
  // stream); revenue is exact integer cents until the final
  // divisions, and both medians are dyadic (sum of ≤2 middle values
  // over their count). The robust counterpart of w_cusum_drift's
  // mean-shift alarm: heavy-tailed order days can't drag the
  // threshold the way they drag a mean/stddev z-score.
  // ---------------------------------------------------------------
  val wMadAnomalies: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .transform(Barrier.materialize) // two rank passes + the output rows
    val bounds = daily.agg(count(lit(1)).cast("long").as("n"))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("(n + 2) div 2"))
    val med = Ranking.withGlobalRank(daily, "rk", col("m"), col("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("rk") >= col("lo") && col("rk") <= col("hi"))
      .agg((sum(d(col("m"))) / d(count(lit(1)))).as("med"))
    val devs = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(d(col("m")) - col("med")))
    val mad = Ranking.withGlobalRank(devs.select(col("day"), col("dev")),
        "rk", col("dev"), col("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("rk") >= col("lo") && col("rk") <= col("hi"))
      .agg((sum(col("dev")) / d(count(lit(1)))).as("mad"))
    val z = (d(col("m")) - col("med")) / (lit(1.4826) * col("mad"))
    devs.crossJoin(broadcast(mad))
      .select(col("day"), (d(col("m")) / lit(100.0)).as("revenue"),
        when(col("mad") > 0.0, round(z, 6)).as("robust_z"),
        when(col("mad") > 0.0, abs(z) > 3.5).as("is_anomaly"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_croston — intermittent-demand forecast per part brand:
  // demand = Σ l_quantity (exact long) per (brand, ship-day) on the
  // zero-filled calendar spine (25 brands × calendar days, ~39% of
  // cells zero at test SF — genuinely intermittent). Croston state
  // (z = demand level, p = inter-demand interval, both SES at
  // α=0.1) folds day-ascending as a DOUBLE[4] array state
  // [z, p, gap, started]; init pins z to the first demand and p to
  // its 1-based position. Forecast = z/p; SBA multiplies by
  // (1 − α/2) (Syntetos & Boylan 2005). Scale shape: the fact scan
  // reduces map-side to the (brand, day) grid; the spine is
  // calendar-bounded; each fold runs on ONE ≤calendar-length array
  // per brand — never a corpus-length window.
  // ---------------------------------------------------------------
  private val CrostonAlpha = 0.1

  val wCroston: Q = (s, dir) => {
    val a = CrostonAlpha
    val part = Tables.table(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val daily = Tables.table(s, dir, "lineitem")
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("day"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("day"))
      .agg(sum(col("qty")).cast("long").as("q"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    // ONE-ROW scalar cross (the allowlisted BNLJ class), THEN the
    // per-brand explode — never a spine-frame broadcast
    val spine = part.select(col("p_brand")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("p_brand"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .join(daily, Seq("p_brand", "day"), "left")
      .select(col("p_brand"), col("day"),
        d(coalesce(col("q"), lit(0L))).as("x"))
    spine.groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("x") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_demand_days"),
        expr("transform(sort_array(collect_list(struct(day, x)))," +
          " e -> e.x)").as("xs"))
      .withColumn("st", expr(
        s"""aggregate(xs,
           |  array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
           |        CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
           |  (a, x) -> CASE
           |    WHEN x > 0D AND element_at(a, 4) = 0D THEN
           |      array(x, element_at(a, 3) + 1.0D,
           |            CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
           |    WHEN x > 0D THEN
           |      array(element_at(a, 1)
           |              + ${a}D * (x - element_at(a, 1)),
           |            element_at(a, 2) + ${a}D
           |              * (element_at(a, 3) + 1.0D - element_at(a, 2)),
           |            CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
           |    ELSE array(element_at(a, 1), element_at(a, 2),
           |               element_at(a, 3) + 1.0D, element_at(a, 4))
           |  END)""".stripMargin))
      .select(col("p_brand"), col("n_days"), col("n_demand_days"),
        round(d(col("n_demand_days")) / d(col("n_days")), 6)
          .as("demand_rate"),
        round(element_at(col("st"), 1), 6).as("level"),
        round(element_at(col("st"), 2), 6).as("interval"),
        round(element_at(col("st"), 1) / element_at(col("st"), 2), 6)
          .as("croston_forecast"),
        round(lit(1.0 - a / 2) * element_at(col("st"), 1) /
          element_at(col("st"), 2), 6).as("sba_forecast"))
      .orderBy(col("p_brand"))
  }

  // ---------------------------------------------------------------
  // w_durbin_watson — residual lag-1 autocorrelation of the daily
  // revenue OLS time trend. The regressor is the day's rank in the
  // calendar (gap-robust), the fit comes from exact decimal
  // moments (the a_corr_regr recipe), and DW folds the
  // calendar-bounded residual series day-ascending: numerator
  // Σ(e_t − e_{t−1})² via ONE lag window on the daily frame
  // (documented low-cardinality single-partition family — one row
  // per day at any fact scale). ρ̂ ≈ 1 − DW/2.
  // ---------------------------------------------------------------
  val wDurbinWatson: Q = (s, dir) => {
    val w = Grain.bounded(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("y"))
      .withColumn("t", row_number().over(w).cast("long"))
      .transform(Barrier.materialize) // frozen (day, t, y) grid feeds fit + residuals
    val m = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("t")).cast("decimal(38,0)").as("st"),
      sum((col("t") * col("t")).cast("decimal(38,0)")).as("stt"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum((col("t") * col("y")).cast("decimal(38,0)")).as("sty"))
      .withColumn("slope",
        (d(col("n")) * d(col("sty")) - d(col("st")) * d(col("sy"))) /
          (d(col("n")) * d(col("stt")) - d(col("st")) * d(col("st"))))
      .withColumn("icept",
        (d(col("sy")) - col("slope") * d(col("st"))) / d(col("n")))
    val resid = daily.crossJoin(broadcast(m))
      .select(col("n"), col("day"), col("slope"), col("icept"),
        (d(col("y")) - col("icept") - col("slope") * d(col("t"))).as("e"))
      .withColumn("e_prev", lag(col("e"), 1).over(w))
      .withColumn("dnum",
        when(col("e_prev").isNotNull,
          (col("e") - col("e_prev")) * (col("e") - col("e_prev")))
          .otherwise(lit(0.0)))
      .withColumn("e2", col("e") * col("e"))
    resid.groupBy(col("n"), col("slope"))
      .agg(
        expr("aggregate(sort_array(collect_list(struct(day, dnum))), 0D," +
          " (a, q) -> a + q.dnum)").as("num"),
        expr("aggregate(sort_array(collect_list(struct(day, e2))), 0D," +
          " (a, q) -> a + q.e2)").as("den"))
      .select(col("n").as("n_days"),
        round(col("slope"), 6).as("trend_slope_cents_per_day"),
        round(col("num") / col("den"), 6).as("dw_stat"),
        round(lit(1.0) - col("num") / col("den") / 2.0, 6).as("rho_approx"),
        when(col("num") / col("den") < 1.5, "positive_autocorr")
          .when(col("num") / col("den") > 2.5, "negative_autocorr")
          .otherwise(lit("none")).as("verdict"))
  }

  // Lead–lag causality and influence diagnostics
  // on the daily series, and two curation audits that close gaps in
  // the dedup/decontamination families.
  //
  //  - w_granger_causality — 1-lag Granger test both directions
  //    between daily order volume and daily revenue: does yesterday's
  //    volume explain today's revenue beyond yesterday's revenue?
  //    (w_cross_correlation sees the lead–lag correlation; this asks
  //    whether it SURVIVES the autoregression.)
  //  - w_cooks_distance — Cook's influence of each day on the daily
  //    revenue OLS trend (the w_durbin_watson fit): which days singly
  //    steer the slope a monitoring dashboard trusts.
  //  - dedup_cohens_kappa — chance-corrected doc-level agreement
  //    between the lexical (MinHash-LSH) and semantic (cosine) dedup
  //    verdicts. dedup_method_agreement counts pair overlap; kappa
  //    asks whether doc-level flagging agreement beats chance.
  //  - t_semantic_leakage — embedding-space cross-split contamination:
  //    val/test docs whose cosine-0.4 near-dup neighbor sits in train (the
  //    semantic twin of the 13-gram t_split_contamination, same
  //    md5-nibble split rule).
  //
  // Float policy: exact decimal moments → fixed double formulas
  // (Cramer's rule for the 3×3 normal equations), order-free integral
  // residual-square sums (floored-cents residuals — a sequential
  // double fold proved DuckDB-version-sensitive at the round-11
  // driver gate). HASHED outputs are integer-exact or integer-compare
  // buckets: the r12 driver gate proved that even round(·,6) over an
  // exp()-derived p-value diverges by engine-libm ulps, so the χ²(1)
  // survival is now a bucket from fixed critical values, never an erf
  // evaluation (the PLANS.md "hashed-output discipline" rule).

  // ---------------------------------------------------------------
  // w_granger_causality — for each direction (x→y, y→x): fit
  //   restricted    y_t = a + b·y_{t-1}
  //   unrestricted  y_t = a + b·y_{t-1} + c·x_{t-1}
  // on the calendar-bounded daily (volume, revenue) series. All
  // nine cross-moments are exact decimal(38) sums; the 3×3 normal
  // equations solve by Cramer's rule as ONE fixed double formula
  // (no iterative solver, nothing order-sensitive); both RSS are
  // order-free integer sums of floored residual squares (see the
  // block comment at the fold). F = (RSS_r − RSS_u)/(RSS_u/(m−3)) with the
  // large-df2 χ²(1) survival p = 1 − erf(√(F/2)). Scale shape: the
  // corpus reduces to one daily aggregate; everything after is
  // day-count-bounded.
  // ---------------------------------------------------------------
  val wGrangerCausality: Q = (s, dir) => {
    val w = Grain.bounded(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast("long").as("vol"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("rev"))
      .withColumn("vol_l", lag(col("vol"), 1).over(w))
      .withColumn("rev_l", lag(col("rev"), 1).over(w))
      .filter(col("vol_l").isNotNull)
      .transform(Barrier.materialize) // both directions read the same lagged grid
    def granger(yc: String, ylc: String, xlc: String,
        label: String): DataFrame = {
      val y = col(yc); val yl = col(ylc); val xl = col(xlc)
      // widen the DAY-GRAIN factor to decimal BEFORE multiplying:
      // daily revenue cents square to ~1e22 at the 10× probe scale,
      // past Long (ANSI overflow error) — the per-row product must
      // never happen in Long
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      val m = daily.agg(count(lit(1)).cast("long").as("m"),
        sum(yl).cast("decimal(38,0)").as("s1"),
        sum(xl).cast("decimal(38,0)").as("s2"),
        sum(dec(yl) * yl).cast("decimal(38,0)").as("s11"),
        sum(dec(yl) * xl).cast("decimal(38,0)").as("s12"),
        sum(dec(xl) * xl).cast("decimal(38,0)").as("s22"),
        sum(y).cast("decimal(38,0)").as("t0"),
        sum(dec(y) * yl).cast("decimal(38,0)").as("t1"),
        sum(dec(y) * xl).cast("decimal(38,0)").as("t2"))
      // product moments reach ~1e19 cents² — far past 2^53, where a
      // raw dec38→double conversion rounds differently across
      // engines (the a_var_merge discipline / a_bootstrap_bca 10×
      // lesson). Each gets ONE exact integral division to a BIGINT
      // < 2^53 (headroom: good through ~9e21, i.e. 100× this SF),
      // then the scale factor re-applies as one exact double
      // multiply. Linear sums stay direct casts (< 2^53 until ~1e15
      // total cents).
      def q6(name: String): Column =
        expr(s"CAST($name div 1000000 AS BIGINT)").cast("double") *
          lit(1.0e6)
      val fit = m.select(col("m"),
        d(col("m")).as("n"), d(col("s1")).as("s1"), d(col("s2")).as("s2"),
        q6("s11").as("s11"), q6("s12").as("s12"),
        q6("s22").as("s22"), d(col("t0")).as("t0"),
        q6("t1").as("t1"), q6("t2").as("t2"))
        .withColumn("det",
          col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
            col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
            col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
        .withColumn("b0",
          (col("t0") * (col("s11") * col("s22") - col("s12") * col("s12")) -
            col("s1") * (col("t1") * col("s22") - col("s12") * col("t2")) +
            col("s2") * (col("t1") * col("s12") - col("s11") * col("t2"))) /
            col("det"))
        .withColumn("b1",
          (col("n") * (col("t1") * col("s22") - col("s12") * col("t2")) -
            col("t0") * (col("s1") * col("s22") - col("s12") * col("s2")) +
            col("s2") * (col("s1") * col("t2") - col("t1") * col("s2"))) /
            col("det"))
        .withColumn("b2",
          (col("n") * (col("s11") * col("t2") - col("t1") * col("s12")) -
            col("s1") * (col("s1") * col("t2") - col("t1") * col("s2")) +
            col("t0") * (col("s1") * col("s12") - col("s11") * col("s2"))) /
            col("det"))
        // restricted 2-parameter fit on the same exact moments
        .withColumn("rb",
          (col("n") * col("t1") - col("s1") * col("t0")) /
            (col("n") * col("s11") - col("s1") * col("s1")))
        .withColumn("ra",
          (col("t0") - col("rb") * col("s1")) / col("n"))
      // RSS must be ORDER-FREE across engines: round 11's driver
      // gate red-flagged this op while the builder's local DuckDB
      // agreed — a day-ascending double fold (aggregate/sort_array
      // here, list_sum there) is only reproducible if the other
      // engine's sum kernel is also a strict sequential fold, and
      // DuckDB's float sum is version-dependent. So the residuals —
      // which ARE bit-identical across engines (same IEEE expression
      // over identical doubles) — quantize to exact BIGINT
      // milli-units (floor(e·1000): ≤1e-3 absolute, which also keeps
      // the rev→vol direction's O(1)-scale residuals meaningful),
      // square and sum in decimal(38,0) (exact integers commute),
      // and the exact sum converts to double via the hi/lo split
      // (hi = s div 10¹², lo = s mod 10¹², both <2^53 ⇒ exact;
      // hi·1e12 + lo is two IEEE ops — deterministic in ANY engine,
      // unlike a raw dec38→double cast above 2^53). Headroom:
      // e·1000 ≤ 9e18 and Σ(e·1000)² div 10¹² ≤ 9e18 hold through
      // ~sf5 of daily-revenue residuals; beyond that raise the split.
      val folds = daily.crossJoin(broadcast(fit))
        .select(col("m"), col("b1"), col("b2"),
          floor((y - col("b0") - col("b1") * yl - col("b2") * xl) *
            1000.0).as("euq"),
          floor((y - col("ra") - col("rb") * yl) * 1000.0).as("erq"))
        .groupBy(col("m"), col("b1"), col("b2"))
        .agg(
          sum(expr("CAST(euq AS DECIMAL(38,0)) * euq"))
            .cast("decimal(38,0)").as("rssu_d"),
          sum(expr("CAST(erq AS DECIMAL(38,0)) * erq"))
            .cast("decimal(38,0)").as("rssr_d"))
        .withColumn("rss_u",
          (expr("CAST(rssu_d div 1000000000000 AS BIGINT)")
            .cast("double") * lit(1.0e12) +
            expr("CAST(rssu_d % 1000000000000 AS BIGINT)")
              .cast("double")) / lit(1.0e6))
        .withColumn("rss_r",
          (expr("CAST(rssr_d div 1000000000000 AS BIGINT)")
            .cast("double") * lit(1.0e12) +
            expr("CAST(rssr_d % 1000000000000 AS BIGINT)")
              .cast("double")) / lit(1.0e6))
      // the ÷10⁶ moment quantization means neither fit is the exact
      // minimizer of the raw series, so rss_u can exceed rss_r by
      // jitter — clamp F at 0 (both engines identically); a zero
      // quantized RSS_u (perfect sub-milli fit) defines F = 0 rather
      // than dividing by zero (ANSI doubles raise). Capped at 1e9 so
      // floor(F·10⁶) stays far inside BIGINT even if a near-perfect
      // unrestricted fit drives F huge.
      val f = when(col("rss_u") > 0.0,
        least(lit(1.0e9), greatest(lit(0.0),
          (col("rss_r") - col("rss_u")) /
            (col("rss_u") / d(col("m") - 3L)))))
        .otherwise(lit(0.0))
      // HASHED-OUTPUT DISCIPLINE (the 2-round r11/r12 driver-gate
      // lesson, now a PLANS.md rule): every hashed column is either
      // an exact integer or a bucket decided by an integer compare.
      // The old output shipped round(·,6) doubles and a p-value via
      // exp() — libm transcendentals are NOT correctly rounded and
      // differ by ulps across engines, and round/threshold flips on
      // exactly such an ulp (the op was green on local DuckDB yet red
      // at the driver twice). Now: coefficients floor to micro-units
      // (b1/b2 are pure rational functions of identical exact-moment
      // doubles — +,-,*,/ are IEEE-correctly-rounded in both engines,
      // so floor(x·1e6) is deterministic); the RSS ships as the exact
      // decimal integer ÷10⁶ (pure integer ops); F floors to
      // micro-units; p collapses to a bucket from fixed χ²(1)
      // critical values (3.841459 for 0.05 etc. — integer compares on
      // F·10⁶, no erf anywhere near the hash).
      val fMicro = floor(f * lit(1.0e6)).cast("long")
      folds.select(lit(label).as("direction"), col("m").as("n_obs"),
        floor(col("b1") * lit(1.0e6)).cast("long").as("ar_coef_micro"),
        floor(col("b2") * lit(1.0e6)).cast("long").as("cross_coef_micro"),
        // exact integral Σ(e·1000)² runs to ~1e25 (past BIGINT even
        // ÷10⁶) — ship the ÷10¹² quantization (units of 10⁶ cents²),
        // a pure integer op with headroom through ~sf500
        expr("CAST(rssr_d div 1000000000000 AS BIGINT)")
          .as("rss_restricted_q"),
        expr("CAST(rssu_d div 1000000000000 AS BIGINT)")
          .as("rss_unrestricted_q"),
        fMicro.as("f_stat_micro"),
        when(fMicro >= 10827566L, "p<0.001")
          .when(fMicro >= 6634897L, "p<0.01")
          .when(fMicro >= 3841459L, "p<0.05")
          .when(fMicro >= 2705543L, "p<0.10")
          .otherwise(lit("p>=0.10")).as("p_bucket"),
        when(fMicro >= 3841459L, "causal_signal")
          .otherwise(lit("no_signal")).as("verdict"))
    }
    granger("rev", "rev_l", "vol_l", "volume_to_revenue")
      .unionAll(granger("vol", "vol_l", "rev_l", "revenue_to_volume"))
      .orderBy(col("direction"))
  }

  // ---------------------------------------------------------------
  // w_cooks_distance — influence of each day on the daily-revenue
  // time trend: D_t = e_t²·h_t / (p·s²·(1−h_t)²) with p = 2,
  // h_t = 1/m + (t−t̄)²/Sₜₜ (simple-regression leverage, closed
  // form — no hat-matrix inverse). The fit replays w_durbin_watson's
  // exact-moment OLS; s² is an order-free integral residual-square
  // sum (the w_granger_causality discipline). Top-10 by (D desc,
  // day) — TakeOrderedAndProject, never a global sort.
  // ---------------------------------------------------------------
  val wCooksDistance: Q = (s, dir) => {
    val w = Grain.bounded(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("y"))
      .withColumn("t", row_number().over(w).cast("long"))
      .transform(Barrier.materialize)
    val m = daily.agg(count(lit(1)).cast("long").as("m"),
      sum(col("t")).cast("decimal(38,0)").as("st"),
      sum((col("t") * col("t")).cast("decimal(38,0)")).as("stt"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum((col("t") * col("y")).cast("decimal(38,0)")).as("sty"))
      .withColumn("slope",
        (d(col("m")) * d(col("sty")) - d(col("st")) * d(col("sy"))) /
          (d(col("m")) * d(col("stt")) - d(col("st")) * d(col("st"))))
      .withColumn("icept",
        (d(col("sy")) - col("slope") * d(col("st"))) / d(col("m")))
      // Sₜₜ (centered) and t̄ as exact-moment doubles
      .withColumn("tbar", d(col("st")) / d(col("m")))
      .withColumn("sxx", d(col("stt")) - d(col("st")) * d(col("st")) /
        d(col("m")))
    val resid = daily.crossJoin(broadcast(m))
      .select(col("m"), col("day"), col("t"), col("tbar"), col("sxx"),
        (d(col("y")) - col("icept") - col("slope") * d(col("t"))).as("e"))
      .withColumn("e2", col("e") * col("e"))
      .transform(Barrier.materialize) // s² fold + the per-day influence pass
    // order-free RSS (the w_granger_causality discipline): milli-
    // cent-floored residual squares summed exactly in decimal(38,0),
    // hi/lo-split back to double. A day-ascending double fold is
    // only cross-engine-stable if the oracle engine's sum kernel is
    // also a strict sequential fold, which DuckDB's float sum is not
    // guaranteed to be across versions.
    val s2 = resid
      .select(col("m"), floor(col("e") * 1000.0).as("eq"))
      .groupBy(col("m"))
      .agg(sum(expr("CAST(eq AS DECIMAL(38,0)) * eq"))
        .cast("decimal(38,0)").as("rss_d"))
      .withColumn("rss",
        (expr("CAST(rss_d div 1000000000000 AS BIGINT)")
          .cast("double") * lit(1.0e12) +
          expr("CAST(rss_d % 1000000000000 AS BIGINT)")
            .cast("double")) / lit(1.0e6))
      .select(col("m"), (col("rss") / d(col("m") - 2L)).as("s2"))
    resid.join(broadcast(s2), "m")
      .withColumn("h", lit(1.0) / d(col("m")) +
        (d(col("t")) - col("tbar")) * (d(col("t")) - col("tbar")) / col("sxx"))
      .withColumn("cook", col("e2") * col("h") /
        (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
          (lit(1.0) - col("h"))))
      // residual ships as the exact milli-cent integer: round-6 of a
      // ~1e9-magnitude double needs 15+ significant digits, where
      // Spark's BigDecimal rounding and DuckDB's multiply-round-
      // divide disagree by an ulp (seen at sf0.1)
      .select(col("day"),
        floor(col("e") * 1000.0).as("residual_millicents"),
        round(col("h"), 6).as("leverage"),
        round(col("cook"), 6).as("cooks_d"))
      .orderBy(desc("cooks_d"), col("day")).limit(10)
  }

  /** Moments CTE (named `$nm`) for one Granger direction. Product
    * moments run through HUGEINT (exact 128-bit — DuckDB promotes
    * wide-decimal products to DOUBLE) and the same ÷10⁶ integral
    * quantization as the engine side before their ONE double cast. */
  private def grangerMoments(nm: String, y: String, yl: String,
      xl: String): String = {
    def q6(e: String): String =
      s"CAST(($e) // 1000000 AS BIGINT) * 1.0e6"
    s"""$nm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |         CAST(count(*) AS DOUBLE) AS n,
       |         CAST(CAST(sum($yl) AS HUGEINT) AS DOUBLE) AS s1,
       |         CAST(CAST(sum($xl) AS HUGEINT) AS DOUBLE) AS s2,
       |         ${q6(s"sum(CAST($yl AS HUGEINT) * CAST($yl AS HUGEINT))")}
       |           AS s11,
       |         ${q6(s"sum(CAST($yl AS HUGEINT) * CAST($xl AS HUGEINT))")}
       |           AS s12,
       |         ${q6(s"sum(CAST($xl AS HUGEINT) * CAST($xl AS HUGEINT))")}
       |           AS s22,
       |         CAST(CAST(sum($y) AS HUGEINT) AS DOUBLE) AS t0,
       |         ${q6(s"sum(CAST($y AS HUGEINT) * CAST($yl AS HUGEINT))")}
       |           AS t1,
       |         ${q6(s"sum(CAST($y AS HUGEINT) * CAST($xl AS HUGEINT))")}
       |           AS t2
       |  FROM dl)""".stripMargin
  }

  /** Fit CTE (named `$nm`, reading moments `$mo`): Cramer solve. */
  private def grangerFit(nm: String, mo: String): String =
    s"""$nm AS (
       |  SELECT m, b0, b1, b2, rb, (t0 - rb * s1) / n AS ra
       |  FROM (
       |    SELECT m, n, s1, t0,
       |           (t0 * (s11 * s22 - s12 * s12)
       |             - s1 * (t1 * s22 - s12 * t2)
       |             + s2 * (t1 * s12 - s11 * t2)) / det AS b0,
       |           (n * (t1 * s22 - s12 * t2)
       |             - t0 * (s1 * s22 - s12 * s2)
       |             + s2 * (s1 * t2 - t1 * s2)) / det AS b1,
       |           (n * (s11 * t2 - t1 * s12)
       |             - s1 * (s1 * t2 - t1 * s2)
       |             + t0 * (s1 * s12 - s11 * s2)) / det AS b2,
       |           (n * t1 - s1 * t0) / (n * s11 - s1 * s1) AS rb
       |    FROM (
       |      SELECT m, n, s1, s2, s11, s12, s22, t0, t1, t2,
       |             n * (s11 * s22 - s12 * s12)
       |               - s1 * (s1 * s22 - s12 * s2)
       |               + s2 * (s1 * s12 - s11 * s2) AS det
       |      FROM $mo)))""".stripMargin

  /** Order-free quantized RSS in DuckDB SQL: floor(e·1000) squared,
    * summed exactly in HUGEINT, hi/lo-split back to double — the
    * engine fold's bit-identical twin (see wGrangerCausality). */
  private def rssSql(e: String): String =
    s"""((CAST(CAST(sum(CAST(floor(($e) * 1000.0) AS HUGEINT)
       |  * CAST(floor(($e) * 1000.0) AS HUGEINT)) // 1000000000000
       |  AS BIGINT) AS DOUBLE) * 1.0e12
       |  + CAST(CAST(sum(CAST(floor(($e) * 1000.0) AS HUGEINT)
       |  * CAST(floor(($e) * 1000.0) AS HUGEINT)) % 1000000000000
       |  AS BIGINT) AS DOUBLE)) / 1.0e6)""".stripMargin
      .replaceAll("\n", " ")

  /** Exact HUGEINT Σ floor(e·1000)² for one residual expression. */
  private def rssHuge(e: String): String =
    s"""sum(CAST(floor(($e) * 1000.0) AS HUGEINT)
       |  * CAST(floor(($e) * 1000.0) AS HUGEINT))""".stripMargin
      .replaceAll("\n", " ")

  /** hi/lo-split HUGEINT → double (the engine fold's twin). */
  private def hugeToDouble(h: String): String =
    s"""((CAST(CAST($h // 1000000000000 AS BIGINT) AS DOUBLE) * 1.0e12
       |  + CAST(CAST($h % 1000000000000 AS BIGINT) AS DOUBLE)) / 1.0e6)"""
      .stripMargin.replaceAll("\n", " ")

  /** Final SELECT for one direction off fit CTE `$fit`. Hashed
    * outputs are integer-exact or integer-compare buckets — no
    * transcendental, no round() (see wGrangerCausality). */
  private def grangerSelect(fit: String, y: String, yl: String,
      xl: String, label: String): String =
    s"""SELECT '$label' AS direction, m AS n_obs,
       |       CAST(floor(b1 * 1.0e6) AS BIGINT) AS ar_coef_micro,
       |       CAST(floor(b2 * 1.0e6) AS BIGINT) AS cross_coef_micro,
       |       CAST(rssr_h // 1000000000000 AS BIGINT) AS rss_restricted_q,
       |       CAST(rssu_h // 1000000000000 AS BIGINT) AS rss_unrestricted_q,
       |       CAST(floor(fv * 1.0e6) AS BIGINT) AS f_stat_micro,
       |       CASE WHEN CAST(floor(fv * 1.0e6) AS BIGINT) >= 10827566
       |              THEN 'p<0.001'
       |            WHEN CAST(floor(fv * 1.0e6) AS BIGINT) >= 6634897
       |              THEN 'p<0.01'
       |            WHEN CAST(floor(fv * 1.0e6) AS BIGINT) >= 3841459
       |              THEN 'p<0.05'
       |            WHEN CAST(floor(fv * 1.0e6) AS BIGINT) >= 2705543
       |              THEN 'p<0.10'
       |            ELSE 'p>=0.10' END AS p_bucket,
       |       CASE WHEN CAST(floor(fv * 1.0e6) AS BIGINT) >= 3841459
       |            THEN 'causal_signal' ELSE 'no_signal' END AS verdict
       |FROM (
       |  SELECT m, b1, b2, rssu_h, rssr_h,
       |         CASE WHEN rss_u > 0.0 THEN
       |           least(1.0e9, greatest(0.0, (rss_r - rss_u)
       |             / (rss_u / CAST(m - 3 AS DOUBLE))))
       |         ELSE 0.0 END AS fv
       |  FROM (
       |    SELECT m, b1, b2, rssu_h, rssr_h,
       |           ${hugeToDouble("rssu_h")} AS rss_u,
       |           ${hugeToDouble("rssr_h")} AS rss_r
       |    FROM (
       |      SELECT f.m, f.b1, f.b2,
       |             ${rssHuge(s"$y - f.b0 - f.b1 * $yl - f.b2 * $xl")}
       |               AS rssu_h,
       |             ${rssHuge(s"$y - f.ra - f.rb * $yl")} AS rssr_h
       |      FROM dl CROSS JOIN $fit f
       |      GROUP BY f.m, f.b1, f.b2)))""".stripMargin

  // ---------------------------------------------------------------
  // w_page_hinkley — per year: m_t = Σ_{i≤t}(x_i − x̄_i), with x̄_i
  // the running mean so far that year; PH_t = m_t − min_{i≤t} m_i;
  // alarm when PH exceeds λ = $50k. All sequential state is exact:
  // x̄ enters as the micro-cent integral division of the running
  // (exact long) sum, each per-day term is an exact long, and the
  // running m / min(m) are integer window aggregates — associative,
  // so the engine's window evaluation order cannot perturb them.
  // One summary row per year: the peak-PH day and the verdict.
  // ---------------------------------------------------------------
  private val PhLambdaMicroCents = BigDecimal(5e12).toLongExact // $50k

  val wPageHinkley: Q = (s, dir) => {
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy(col("yr")).orderBy(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .withColumn("yr", year(col("day")).cast("long"))
    val terms = daily
      .withColumn("cnt", count(lit(1)).over(wy).cast("long"))
      .withColumn("csum", sum(col("x")).over(wy).cast("long"))
      // term_q = 10⁶·(x − running mean), exact micro-cents. csum is
      // a running LONG of yearly cents: widen BOTH terms to
      // decimal(38,0) BEFORE the ×10⁶ (silent Long overflow past
      // ~$92B of daily/yearly cents, where DuckDB's BIGINT would
      // instead error — a divergence); `div` on the decimal product
      // still yields an exact BIGINT, and the decimal difference
      // casts back to long exactly while |term_q| < 2⁶³.
      .withColumn("term_q",
        (expr("CAST(x AS DECIMAL(38,0)) * 1000000") -
          expr("(CAST(csum AS DECIMAL(38,0)) * 1000000) div cnt"))
          .cast("long"))
      .withColumn("m_q", sum(col("term_q")).over(wy).cast("long"))
      .withColumn("mmin_q", min(col("m_q")).over(wy).cast("long"))
      .withColumn("ph_q", (col("m_q") - col("mmin_q")).cast("long"))
    terms.groupBy(col("yr"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        // peak day: max PH, earliest day on ties (max struct over
        // (ph, -epoch) would need a date negation — use min over
        // (-ph, day))
        min(struct((-col("ph_q")).as("neg"), col("day").as("day"))).as("top"))
      .select(col("yr").as("year"), col("n_days"),
        col("top.day").as("peak_day"),
        round(d(-col("top.neg")) / 1e6 / 100.0, 6).as("peak_ph_usd"),
        (-col("top.neg") > PhLambdaMicroCents).as("drift_alarm"))
      .orderBy(col("year"))
  }

  // ---------------------------------------------------------------
  // w_dtw_brand_demand — monthly quantity series for Brand#11 vs
  // Brand#12 on the union month spine (0-filled), then the full
  // n×n DP as ONE flattened row-major fold: the accumulator carries
  // (previous row, current row) as BIGINT arrays, cell k handles
  // (i, j) = (k div n, k mod n). All values are exact integers; the
  // L1 diagonal path bounds DTW from above (pinned in the spec).
  // Scale shape: the corpus reduces through one (brand, month)
  // aggregate; the DP is months²-bounded (calendar², never rows).
  // ---------------------------------------------------------------
  private val DtwBrandA = "Brand#11"

  private val DtwBrandB = "Brand#12"

  val wDtwBrandDemand: Q = (s, dir) => {
    val part = Tables.table(s, dir, "part")
      .filter(col("p_brand").isin(DtwBrandA, DtwBrandB))
      .select(col("p_partkey"), col("p_brand"))
    val bl = Tables.table(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        date_trunc("month", col("l_shipdate")).as("mon"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("brand"), col("mon"))
      .agg(sum(col("q")).cast("long").as("q"))
      .transform(Barrier.materialize) // spine + both series legs
    val spine = bl.select(col("mon")).distinct()
    def leg(brand: String, nm: String): DataFrame =
      spine.join(bl.filter(col("brand") === brand)
          .select(col("mon"), col("q")), Seq("mon"), "left")
        .select(col("mon"), coalesce(col("q"), lit(0L)).as(nm))
    val ser = leg(DtwBrandA, "qa").join(leg(DtwBrandB, "qb"), "mon")
      .agg(
        expr("transform(sort_array(collect_list(struct(mon, qa)))," +
          " x -> x.qa)").as("a"),
        expr("transform(sort_array(collect_list(struct(mon, qb)))," +
          " x -> x.qb)").as("b"),
        count(lit(1)).cast("int").as("n"))
    // element_at requires INT indices; `div` yields BIGINT
    val nv =
      """abs(element_at(a, CAST((k div n) + 1 AS INT))
        |     - element_at(b, CAST((k % n) + 1 AS INT))) +
        | CASE WHEN (k div n) + 1 = 1 AND (k % n) + 1 = 1
        |        THEN CAST(0 AS BIGINT)
        |      WHEN (k div n) + 1 = 1
        |        THEN element_at(st.c, CAST(k % n AS INT))
        |      WHEN (k % n) + 1 = 1 THEN element_at(st.p, 1)
        |      ELSE least(element_at(st.p, CAST((k % n) + 1 AS INT)),
        |                 element_at(st.c, CAST(k % n AS INT)),
        |                 element_at(st.p, CAST(k % n AS INT))) END"""
        .stripMargin.replaceAll("\n", " ")
    ser.select(col("n"),
        expr(s"""aggregate(
          | sequence(0, n * n - 1),
          | named_struct('p', CAST(array() AS ARRAY<BIGINT>),
          |              'c', CAST(array() AS ARRAY<BIGINT>)),
          | (st, k) -> named_struct(
          |   'p', IF((k % n) + 1 = n, concat(st.c, array($nv)), st.p),
          |   'c', IF((k % n) + 1 = n, CAST(array() AS ARRAY<BIGINT>),
          |           concat(st.c, array($nv)))),
          | st -> element_at(st.p, n))""".stripMargin.replaceAll("\n", " "))
          .as("dtw"),
        expr("aggregate(zip_with(a, b, (x, y) -> abs(x - y))," +
          " CAST(0 AS BIGINT), (s, v) -> s + v)").as("l1"))
      .select(col("n").cast("long").as("n_months"),
        col("dtw").as("dtw_distance"),
        col("l1").as("l1_distance"),
        round(d(col("dtw")) / d(col("n")), 6).as("dtw_per_month"),
        round(d(col("dtw")) / d(col("l1")), 6).as("dtw_l1_ratio"))
  }

  // Paired nonparametrics, trading-style series
  // monitors, a unit-root test, a corpus-shift audit, and a
  // late-interaction retrieval operator.
  //
  //  - a_wilcoxon_signrank — Wilcoxon signed-rank test of monthly
  //    revenue vs the same month one year earlier (the PAIRED
  //    companion of a_mann_whitney): exact half-unit midranks of
  //    |d|, tie-corrected normal z, A&S-erf p.
  //  - w_bollinger_bands — 20-day rolling mean ± 2σ breach days on
  //    daily revenue, all window moments exact integers (the
  //    monitoring-dashboard band rule).
  //  - w_rsi_wilder — Wilder's RSI(14) as a per-year day-ascending
  //    EWMA fold over exact gain/loss deltas; overbought/oversold
  //    day census (the w_croston/w_holt_grid array-fold family).
  //  - w_adf_test — Dickey–Fuller unit-root probe on the daily
  //    revenue AR(1): t-statistic of (b − 1) against the −2.86
  //    5% critical value (the granger exact-moment OLS machinery).
  //  - t_unigram_kl — per-source unigram KL(source ‖ corpus) in
  //    nats: token-shift audit before mixing sources into a
  //    training corpus; order-free quantized-contribution sum.
  //  - sim_maxsim_multivector — ColBERT-style late interaction over
  //    4×16-dim sub-vectors of the embedding: score = Σ_q max_d
  //    cos(sub_q, sub_d), top-3 per query (the multi-vector
  //    retrieval shape, exactly replayable).
  //
  // Float policy: exact integer/decimal moments; sequential state
  // folds only via aggregate(sort_array(...)) with a list_reduce
  // oracle twin (element-wise sequential in both engines); bulk
  // float sums quantized to integers BEFORE summation (order-free)
  // or hi/lo-split (WindowQueries's discipline); round-6 only on
  // O(1)-magnitude outputs.

  // ---------------------------------------------------------------
  // w_bollinger_bands — 20-day rolling window on daily revenue
  // cents: n·Σx² − (Σx)² stays an exact decimal(38,0) integer
  // (window sums of x and x² never touch floats), converts to
  // double via WindowQueries's hi/lo split, σ = √(nvar)/20; the
  // rolling mean is one exact ÷20 integral division to micro-cents.
  // Emitted rows: band-breach days only (|z| > 2 with a full
  // window), day-ascending. Scale shape: the corpus reduces to the
  // day grain in one aggregate; the window is a 20-row frame over
  // calendar-bounded rows (the documented benign unpartitioned-
  // window grain).
  // ---------------------------------------------------------------
  val wBollingerBands: Q = (s, dir) => {
    val w20 = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")).rowsBetween(-19, 0)
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
    daily
      .withColumn("cnt", count(lit(1)).over(w20).cast("long"))
      .withColumn("sx", sum(col("x")).over(w20).cast("decimal(38,0)"))
      .withColumn("sxx",
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).over(w20)
          .cast("decimal(38,0)"))
      .filter(col("cnt") === 20L)
      // nvar = 20·Σx² − (Σx)² — exact decimal(38,0) ≥ 0
      .withColumn("nvar",
        (lit(20) * col("sxx") - col("sx") * col("sx"))
          .cast("decimal(38,0)"))
      .withColumn("nvar_dbl",
        expr("CAST(nvar div 1000000000000 AS BIGINT)").cast("double") *
          lit(1.0e12) +
          expr("CAST(nvar % 1000000000000 AS BIGINT)").cast("double"))
      .withColumn("sigma", sqrt(col("nvar_dbl")) / lit(20.0))
      .withColumn("mean_mu",
        expr("CAST((sx * 1000000) div 20 AS BIGINT)"))
      .withColumn("z",
        (d(col("x")) - d(col("mean_mu")) / lit(1.0e6)) /
          when(col("sigma") > 0.0, col("sigma")).otherwise(lit(1.0)))
      .filter(abs(col("z")) > 2.0 && col("sigma") > 0.0)
      .select(col("day"), col("x").as("rev_cents"),
        col("mean_mu").as("mean_microcents"),
        round(col("z"), 6).as("z_score"),
        when(col("z") > 0.0, "above").otherwise(lit("below")).as("side"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // w_rsi_wilder — Wilder's RSI(14) per year: day-ascending EWMA
  // fold over exact gain/loss cents deltas, α = 1/14 from a zero
  // seed (the from-zero EWMA variant, documented; the classic
  // 14-day simple-average seed converges to the same trajectory
  // within a few τ). State [avgGain, avgLoss, overbought, oversold,
  // rsi] advances element-wise in BOTH engines (aggregate(...) here,
  // list_reduce there) — a sequential lambda fold is deterministic,
  // unlike a bulk float sum. Years are independent folds (documented
  // reset; keeps the fold length calendar-bounded and the years
  // parallel). Scale shape: corpus → day grain → ≤366-step fold.
  // ---------------------------------------------------------------
  val wRsiWilder: Q = (s, dir) => {
    val w = Grain.bounded(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .withColumn("xl", lag(col("x"), 1).over(w))
      .filter(col("xl").isNotNull)
      .withColumn("g", greatest(col("x") - col("xl"), lit(0L)))
      .withColumn("l", greatest(col("xl") - col("x"), lit(0L)))
      .withColumn("yr", year(col("day")).cast("long"))
    daily.groupBy(col("yr"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        expr(
          """aggregate(
            |  sort_array(collect_list(struct(day,
            |    CAST(g AS DOUBLE) AS g, CAST(l AS DOUBLE) AS l))),
            |  array(0.0D, 0.0D, 0.0D, 0.0D, 50.0D),
            |  (st, q) -> array(
            |    (13.0D * st[0] + q.g) / 14.0D,
            |    (13.0D * st[1] + q.l) / 14.0D,
            |    st[2] + IF((13.0D * st[1] + q.l) / 14.0D > 0.0D AND
            |      100.0D - 100.0D / (1.0D + ((13.0D * st[0] + q.g) / 14.0D)
            |        / ((13.0D * st[1] + q.l) / 14.0D)) > 70.0D
            |      OR (13.0D * st[1] + q.l) / 14.0D <= 0.0D, 1.0D, 0.0D),
            |    st[3] + IF((13.0D * st[1] + q.l) / 14.0D > 0.0D AND
            |      100.0D - 100.0D / (1.0D + ((13.0D * st[0] + q.g) / 14.0D)
            |        / ((13.0D * st[1] + q.l) / 14.0D)) < 30.0D, 1.0D, 0.0D),
            |    IF((13.0D * st[1] + q.l) / 14.0D > 0.0D,
            |      100.0D - 100.0D / (1.0D + ((13.0D * st[0] + q.g) / 14.0D)
            |        / ((13.0D * st[1] + q.l) / 14.0D)), 100.0D)))""".stripMargin
            .replaceAll("\n", " ")).as("st"))
      .select(col("yr").as("year"), col("n_days"),
        round(element_at(col("st"), 5), 6).as("rsi_final"),
        element_at(col("st"), 3).cast("long").as("overbought_days"),
        element_at(col("st"), 4).cast("long").as("oversold_days"))
      .orderBy(col("year"))
  }

  // ---------------------------------------------------------------
  // w_adf_test — Dickey–Fuller unit-root probe as the AR(1) fit
  // y_t = a + b·y_{t−1}: t = (b − 1)/se(b) against the −2.86 large-n
  // 5% DF critical value. Moments are exact cents sums with the
  // granger ÷10⁶ quantization on the two >2^53 products (all
  // positive — the div/floor divergence on negatives never arises);
  // RSS/se come from the order-free milli-floor integral scheme
  // (WindowQueries). Scale shape: one daily aggregate, one moment
  // row, one residual pass.
  // ---------------------------------------------------------------
  val wAdfTest: Q = (s, dir) => {
    val w = Grain.bounded(col("day"))
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("y"))
      .withColumn("yl", lag(col("y"), 1).over(w))
      .filter(col("yl").isNotNull)
      .transform(Barrier.materialize) // moment row + residual pass
    def q6(name: String): Column =
      expr(s"CAST($name div 1000000 AS BIGINT)").cast("double") *
        lit(1.0e6)
    // widen BEFORE multiplying: day-grain revenue cents square past
    // Long at the 10× probe scale (ANSI overflow)
    val m = daily.agg(count(lit(1)).cast("long").as("m"),
      sum(col("yl")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("yl").cast("decimal(38,0)") * col("yl"))
        .cast("decimal(38,0)").as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("yl"))
        .cast("decimal(38,0)").as("sxy"))
      .select(col("m"), d(col("m")).as("n"), d(col("sx")).as("sx"),
        d(col("sy")).as("sy"), q6("sxx").as("sxx"), q6("sxy").as("sxy"))
      .withColumn("b",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("a", (col("sy") - col("b") * col("sx")) / col("n"))
      .withColumn("sxx_c",
        col("sxx") - col("sx") * col("sx") / col("n"))
    val rss = daily.crossJoin(broadcast(m))
      .select(col("m"), col("b"), col("a"), col("sxx_c"),
        floor((d(col("y")) - col("a") - col("b") * d(col("yl"))) *
          1000.0).as("eq"))
      .groupBy(col("m"), col("b"), col("sxx_c"))
      .agg(sum(expr("CAST(eq AS DECIMAL(38,0)) * eq"))
        .cast("decimal(38,0)").as("rss_d"))
      .withColumn("rss",
        (expr("CAST(rss_d div 1000000000000 AS BIGINT)")
          .cast("double") * lit(1.0e12) +
          expr("CAST(rss_d % 1000000000000 AS BIGINT)")
            .cast("double")) / lit(1.0e6))
      .withColumn("s2", col("rss") / d(col("m") - 2L))
      // a zero quantized RSS (sub-milli perfect fit) defines t = 0
      // rather than dividing by zero (ANSI raises)
      .withColumn("t_df", when(col("rss") > 0.0,
        (col("b") - lit(1.0)) / sqrt(col("s2") / col("sxx_c")))
        .otherwise(lit(0.0)))
    rss.select(col("m").as("n_obs"),
      round(col("b"), 6).as("ar1_coef"),
      round(col("t_df"), 6).as("t_stat"),
      when(col("t_df") < -2.86, "stationary")
        .otherwise(lit("unit_root")).as("verdict"))
  }

  // ---------------------------------------------------------------
  // w_spectral_entropy — the w_periodogram power grid (identical
  // day-ordered cos/sin folds — that op's oracle-green float
  // discipline), then Shannon entropy of the normalized spectrum:
  // per-frequency contributions −p·ln p floor-quantized to NANO-nats
  // and summed exactly (≤512 terms, order-free). entropy_norm =
  // H/ln K ∈ [0,1]: ≪1 means a few dominant lines (strong
  // seasonality), ≈1 means broadband. Scale shape: day×frequency
  // grid is calendar-bounded at any corpus size.
  // ---------------------------------------------------------------
  val wSpectralEntropy: Q = (s, dir) => {
    // shared optimized grid (WindowQueries.fourierPower): the day
    // series folds as ONE array row per frequency — identical terms
    // in identical order to the former exploded day×frequency grid
    val pw = fourierPower(s, dir)
      .transform(Barrier.materialize) // total + share/entropy pass
    val tot = pw.agg(count(lit(1)).cast("long").as("kk"),
      expr("aggregate(sort_array(collect_list(struct(k, p))), 0D," +
        " (a, x) -> a + x.p)").as("tp"))
    pw.crossJoin(broadcast(tot))
      .select(col("kk"), col("tp"), col("k"),
        (col("p") / col("tp")).as("sh"))
      .select(col("kk"), col("tp"),
        // zero-power spectrum line: sh=0 makes -0·ln(0) a NaN whose
        // floor Spark folds to null while DuckDB raises on the CAST
        // — guard on both sides so it contributes exactly 0 nats
        when(col("sh") > 0.0,
          floor(-col("sh") * log(col("sh")) * lit(1.0e9)))
          .otherwise(lit(0L)).as("hq"),
        col("sh"))
      .groupBy(col("kk"))
      .agg(sum(col("hq")).cast("long").as("hqs"),
        max(col("sh")).as("top_share"))
      .select(col("kk").as("n_freqs"),
        round(d(col("hqs")) / lit(1.0e9), 6).as("spectral_entropy_nats"),
        round(d(col("hqs")) / lit(1.0e9) / log(d(col("kk"))), 6)
          .as("entropy_norm"),
        round(col("top_share"), 6).as("top_share"),
        when(d(col("hqs")) / lit(1.0e9) / log(d(col("kk"))) < 0.5,
          "concentrated")
          .when(d(col("hqs")) / lit(1.0e9) / log(d(col("kk"))) < 0.9,
            "mixed")
          .otherwise(lit("broadband")).as("verdict"))
  }

  // ---------------------------------------------------------------
  // w_ewma_control — z_t = λ·x_t + (1−λ)·z_{t−1} from z_0 = μ, with
  // μ the exact micro-cent mean and σ the hi/lo-split sample sd of
  // the daily series; the chart flags |z_t − μ| >
  // 3σ√(λ/(2−λ)·(1−(1−λ)^{2t})) (start-up-corrected limits). The
  // fold state [z, (1−λ)^{2t}, n_ooc, first_ooc_t, t] advances
  // element-wise in BOTH engines; chart-scale outputs ship as
  // floor(·1000) exact integers. Scale shape: one daily aggregate,
  // one moment row, one calendar-bounded fold.
  // ---------------------------------------------------------------
  val wEwmaControl: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .transform(Barrier.materialize) // moment row + the fold
    val mo = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("x").cast("decimal(38,0)") * col("x"))
        .cast("decimal(38,0)").as("sxx"))
      .withColumn("mu_mu", expr("CAST((sx * 1000000) div n AS BIGINT)"))
      .withColumn("mu", d(col("mu_mu")) / lit(1.0e6))
      .withColumn("nvar",
        (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("decimal(38,0)"))
      .withColumn("nvd",
        expr("CAST(nvar div 1000000000000 AS BIGINT)").cast("double") *
          lit(1.0e12) +
          expr("CAST(nvar % 1000000000000 AS BIGINT)").cast("double"))
      .withColumn("sigma",
        sqrt(col("nvd") / (d(col("n")) * d(col("n") - 1L))))
    val folded = daily.crossJoin(broadcast(mo))
      .groupBy(col("n"), col("mu_mu"), col("mu"), col("sigma"))
      .agg(expr(
        """aggregate(
          |  sort_array(collect_list(struct(day, CAST(x AS DOUBLE) AS x))),
          |  array(mu, 1.0D, 0.0D, -1.0D, 0.0D),
          |  (st, q) -> array(
          |    0.2D * q.x + 0.8D * st[0],
          |    st[1] * 0.64D,
          |    st[2] + IF(abs(0.2D * q.x + 0.8D * st[0] - mu)
          |      > 3.0D * sigma * sqrt(0.2D / 1.8D
          |        * (1.0D - st[1] * 0.64D)), 1.0D, 0.0D),
          |    IF(st[3] < 0.0D AND abs(0.2D * q.x + 0.8D * st[0] - mu)
          |      > 3.0D * sigma * sqrt(0.2D / 1.8D
          |        * (1.0D - st[1] * 0.64D)), st[4] + 1.0D, st[3]),
          |    st[4] + 1.0D))""".stripMargin.replaceAll("\n", " "))
        .as("st"))
    folded.select(col("n").as("n_days"),
      col("mu_mu").as("mean_microcents"),
      floor(col("sigma") * 1000.0).cast("long").as("sigma_millicents"),
      element_at(col("st"), 3).cast("long").as("n_ooc_days"),
      element_at(col("st"), 4).cast("long").as("first_ooc_t"),
      floor(element_at(col("st"), 1) * 1000.0).cast("long")
        .as("ewma_final_millicents"))
  }

  val queries: Map[String, Q] = Map(
    "w_revenue_streaks" -> wRevenueStreaks,
    "w_moving_revenue" -> wMovingRevenue,
    "w_rank_orders_per_priority" -> wRankOrdersPerPriority,
    "w_running_daily_revenue" -> wRunningDailyRevenue,
    "w_above_avg_orders" -> wAboveAvgOrders,
    "w_dist_suite" -> wDistSuite,
    "w_month_over_month" -> wMonthOverMonth,
    "w_scd2_intervals" -> wScd2Intervals,
    "w_sessionize_users" -> wSessionizeUsers,
    "w_fill_forward" -> wFillForward,
    "w_rolling_median" -> wRollingMedian,
    "w_ewma_revenue" -> wEwmaRevenue,
    "w_cdc_apply" -> wCdcApply,
    "w_cusum_drift" -> wCusumDrift,
    "w_brown_trend" -> wBrownTrend,
    "w_dow_seasonality" -> wDowSeasonality,
    "w_holt_winters" -> wHoltWinters,
    "w_seasonal_decompose" -> wSeasonalDecompose,
    "w_theil_sen" -> wTheilSen,
    "w_viterbi_burst" -> wViterbiBurst,
    "w_ljung_box" -> wLjungBox,
    "w_changepoint_binseg" -> wChangepointBinseg,
    "w_interpolate_linear" -> wInterpolateLinear,
    "w_ivm_delta" -> wIvmDelta,
    "w_max_drawdown" -> wMaxDrawdown,
    "w_twap" -> wTwap,
    "w_backtest_mase" -> wBacktestMase,
    "w_kalman_1d" -> wKalman1d,
    "w_anomaly_esd" -> wAnomalyEsd,
    "w_haar_decompose" -> wHaarDecompose,
    "w_garch_filter" -> wGarchFilter,
    "w_pot_gpd" -> wPotGpd,
    "w_periodogram" -> wPeriodogram,
    "w_pacf" -> wPacf,
    "w_ses_grid" -> wSesGrid,
    "w_cross_correlation" -> wCrossCorrelation,
    "w_turning_points" -> wTurningPoints,
    "w_hurst" -> wHurst,
    "w_season_strength" -> wSeasonStrength,
    "w_holt_grid" -> wHoltGrid,
    "w_mad_anomalies" -> wMadAnomalies,
    "w_croston" -> wCroston,
    "w_durbin_watson" -> wDurbinWatson,
    "w_granger_causality" -> wGrangerCausality,
    "w_cooks_distance" -> wCooksDistance,
    "w_page_hinkley" -> wPageHinkley,
    "w_dtw_brand_demand" -> wDtwBrandDemand,
    "w_bollinger_bands" -> wBollingerBands,
    "w_rsi_wilder" -> wRsiWilder,
    "w_adf_test" -> wAdfTest,
    "w_spectral_entropy" -> wSpectralEntropy,
    "w_ewma_control" -> wEwmaControl)

  val oracles: Map[String, String] = Map(
    "w_revenue_streaks" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dayn
        |  FROM orders GROUP BY 1, 3),
        |flagged AS (
        |  SELECT day, dayn FROM (
        |    SELECT day, dayn, rev,
        |           CAST(SUM(rev) OVER () AS DOUBLE) / COUNT(*) OVER () AS thr
        |    FROM daily)
        |  WHERE CAST(rev AS DOUBLE) > thr),
        |grp AS (
        |  SELECT day, dayn - row_number() OVER (ORDER BY dayn) AS grp
        |  FROM flagged)
        |SELECT count(*) AS streak_len, min(day) AS start_day, max(day) AS end_day
        |FROM grp GROUP BY grp
        |ORDER BY streak_len DESC, start_day LIMIT 5""".stripMargin,
    "w_moving_revenue" ->
      """SELECT day, CAST(rev_dec AS DOUBLE) AS daily_revenue,
        |       CAST(SUM(rev_dec) OVER (ORDER BY dayn
        |         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov3_revenue
        |FROM (SELECT CAST(o_orderdate AS DATE) AS day,
        |             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dayn,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_dec
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY day""".stripMargin,
    "w_dist_suite" ->
      """SELECT o_orderpriority, o_orderkey, pr, cd, third_key FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         percent_rank() OVER w AS pr,
        |         cume_dist() OVER w AS cd,
        |         nth_value(o_orderkey, 3) OVER w AS third_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |) WHERE o_orderkey % 997 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "w_rank_orders_per_priority" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "w_running_daily_revenue" ->
      """SELECT day, CAST(rev_dec AS DOUBLE) AS daily_revenue,
        |       CAST(SUM(rev_dec) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
        |FROM (SELECT CAST(o_orderdate AS DATE) AS day,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev_dec
        |      FROM orders GROUP BY 1)
        |ORDER BY day""".stripMargin,
    "w_above_avg_orders" ->
      """SELECT o_orderpriority, count(*) AS n_above
        |FROM (SELECT o_orderpriority, o_totalprice,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |                    OVER (PARTITION BY o_orderpriority) AS DOUBLE)
        |               / COUNT(*) OVER (PARTITION BY o_orderpriority) AS avg_p
        |      FROM orders)
        |WHERE o_totalprice > avg_p
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_month_over_month" ->
      """SELECT mo, CAST(rev AS DOUBLE) AS revenue,
        |       (CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
        |         / CAST(prev AS DOUBLE) * 100.0 AS pct_change
        |FROM (SELECT mo, rev, lag(rev) OVER (ORDER BY mo) AS prev
        |      FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        |            FROM orders GROUP BY 1))
        |ORDER BY mo""".stripMargin,
    "w_scd2_intervals" ->
      """SELECT event_type, count(*) AS n_versions,
        |       count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_current,
        |       CAST(SUM(epoch_us(valid_to) - epoch_us(ts)) AS BIGINT) AS total_dur_us
        |FROM (SELECT event_type, ts,
        |             lead(ts) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS valid_to
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_sessionize_users" ->
      """SELECT CAST(sessions AS BIGINT) AS sessions, count(*) AS n_users FROM (
        |  SELECT user_id, SUM(new_session) AS sessions FROM (
        |    SELECT user_id,
        |           CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM (SELECT user_id, ts,
        |                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |          FROM events))
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_fill_forward" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT CAST(unnest(generate_series((SELECT min(day) FROM daily),
        |                                     (SELECT max(day) FROM daily),
        |                                     INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT s.day,
        |       last_value(d.rev IGNORE NULLS) OVER (ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_filled,
        |       d.rev IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d USING (day)
        |ORDER BY s.day""".stripMargin,
    "w_rolling_median" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day, revenue,
        |         list_sort(list(revenue) OVER (ORDER BY day
        |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM daily)
        |SELECT day, revenue,
        |       CASE WHEN len(arr) % 2 = 1 THEN arr[CAST((len(arr) + 1) / 2 AS INTEGER)]
        |            ELSE (arr[CAST(len(arr) / 2 AS INTEGER)]
        |                  + arr[CAST(len(arr) / 2 + 1 AS INTEGER)]) / 2.0 END
        |         AS rolling_median
        |FROM c ORDER BY day""".stripMargin,
    "w_ewma_revenue" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day, revenue,
        |         list(revenue) OVER (PARTITION BY year(day) ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS arr
        |  FROM daily)
        |SELECT day, revenue,
        |       list_reduce(arr, (a, x) -> a * 0.7 + 0.3 * x) AS ewma
        |FROM c ORDER BY day""".stripMargin,
    "w_cdc_apply" ->
      """WITH last AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |           row_number() OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |    FROM orders)
        |  WHERE rk = 1)
        |SELECT c_mktsegment, count(*) AS n_live,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS live_value,
        |       max(o_orderdate) AS latest_change
        |FROM last JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "w_cusum_drift" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, revenue, year(day) AS yr FROM daily),
        |st AS (
        |  SELECT yr, CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mu
        |  FROM d2 GROUP BY 1),
        |c AS (
        |  SELECT d2.day, d2.revenue, st.mu,
        |         list(d2.revenue) OVER (PARTITION BY d2.yr ORDER BY d2.day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS arr
        |  FROM d2 JOIN st USING (yr)),
        |f AS (
        |  SELECT day, revenue, mu,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE), arr),
        |           (s, x) -> greatest(CAST(0 AS DOUBLE),
        |                              s + x - mu - 0.05 * mu)) AS cusum
        |  FROM c)
        |SELECT day, revenue, cusum, cusum > 0.5 * mu AS alarm
        |FROM f ORDER BY day""".stripMargin,
    "w_brown_trend" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |c1 AS (
        |  SELECT day, revenue,
        |         list(revenue) OVER (PARTITION BY year(day) ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS arr
        |  FROM daily),
        |c2 AS (
        |  SELECT day, revenue,
        |         list_reduce(arr, (a, x) -> a * 0.7 + 0.3 * x) AS s1
        |  FROM c1),
        |c3 AS (
        |  SELECT day, revenue, s1,
        |         list(s1) OVER (PARTITION BY year(day) ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1arr
        |  FROM c2),
        |c4 AS (
        |  SELECT day, revenue, s1,
        |         list_reduce(s1arr, (a, x) -> a * 0.7 + 0.3 * x) AS s2
        |  FROM c3)
        |SELECT day, revenue,
        |       2 * s1 - s2 AS level,
        |       (s1 - s2) * 3.0 / 7.0 AS trend,
        |       (2 * s1 - s2) + (s1 - s2) * 3.0 / 7.0 AS forecast_next
        |FROM c4 ORDER BY day""".stripMargin,
    "w_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |bd AS (
        |  SELECT dayofweek(day) + 1 AS dow, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(SUM(rev) AS DOUBLE) AS sum_rev
        |  FROM daily GROUP BY 1),
        |ov AS (
        |  SELECT CAST(count(*) AS BIGINT) AS all_days,
        |         CAST(SUM(rev) AS DOUBLE) AS all_rev
        |  FROM daily)
        |SELECT CAST(dow AS INTEGER) AS dow, n_days,
        |       sum_rev / CAST(n_days AS DOUBLE) AS avg_revenue,
        |       (sum_rev / CAST(n_days AS DOUBLE))
        |         / (all_rev / CAST(all_days AS DOUBLE)) AS seasonal_index
        |FROM bd CROSS JOIN ov ORDER BY dow""".stripMargin,
    // The recursive CTE steps the coupled (l, b, s[7]) state one day
    // at a time with the SAME arithmetic DAG as the Spark fold —
    // list_reduce is deliberately avoided (DuckDB 1.0 mutates
    // multi-field struct accumulators field by field, so a coupled
    // state silently diverges; the repo memory pins this)
    "w_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT day, rev, year(day) AS yr,
        |         CAST(row_number() OVER (PARTITION BY year(day) ORDER BY day)
        |           AS INTEGER) AS t
        |  FROM daily),
        |hw(yr, t, l, b, s, shat, fc) AS (
        |  SELECT yr, t, l, b, s, shat, l + b + s[(t % 7) + 1] AS fc FROM (
        |    SELECT yr, t, l,
        |           0.1 * (l - lprev) + 0.9 * 0.0 AS b,
        |           list_transform(range(1, 8), j -> CASE WHEN j = 1
        |             THEN 0.2 * (rev - l) + 0.8 * 0.0
        |             ELSE CAST(0.0 AS DOUBLE) END) AS s,
        |           -- explicit DOUBLE: the recursive CTE's column types
        |           -- come from the base arm, and a bare 0.0 is
        |           -- DECIMAL(1,1) — the recursive arm's double shat
        |           -- would then fail to cast
        |           CAST(0.0 AS DOUBLE) AS shat
        |    FROM (SELECT yr, t, rev, rev AS lprev,
        |                 0.3 * (rev - 0.0) + 0.7 * (rev + 0.0) AS l
        |          FROM d2 WHERE t = 1))
        |  UNION ALL
        |  SELECT yr, t, l, b, s, shat, l + b + s[(t % 7) + 1] AS fc FROM (
        |    SELECT yr, t, l,
        |           0.1 * (l - lprev) + 0.9 * bprev AS b,
        |           list_transform(range(1, 8), j -> CASE WHEN j = phase
        |             THEN 0.2 * (rev - l) + 0.8 * shat ELSE s0[j] END) AS s,
        |           shat
        |    FROM (SELECT d.yr, d.t, d.rev,
        |                 hw.l AS lprev, hw.b AS bprev, hw.s AS s0,
        |                 ((d.t - 1) % 7) + 1 AS phase,
        |                 hw.s[((d.t - 1) % 7) + 1] AS shat,
        |                 0.3 * (d.rev - hw.s[((d.t - 1) % 7) + 1])
        |                   + 0.7 * (hw.l + hw.b) AS l
        |          FROM hw JOIN d2 d ON d.yr = hw.yr AND d.t = hw.t + 1)))
        |SELECT d2.day, d2.rev AS revenue, hw.l AS level, hw.b AS trend,
        |       hw.shat AS seasonal, hw.fc AS forecast_next
        |FROM hw JOIN d2 ON hw.yr = d2.yr AND hw.t = d2.t
        |ORDER BY d2.day""".stripMargin,
    "w_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |         year(o_orderdate) AS yr
        |  FROM orders GROUP BY 1),
        |tr AS (
        |  SELECT day, rev, yr,
        |         CASE WHEN count(*) OVER w = 7
        |           THEN CAST(SUM(rev) OVER w AS DOUBLE) / 7.0 END AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY yr ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT *, CAST(rev AS DOUBLE) - trend AS detr FROM tr),
        |dm AS (
        |  SELECT dayofweek(day) + 1 AS dow, CAST(count(*) AS BIGINT) AS n,
        |         list_sum(list(detr ORDER BY day)) AS sd
        |  FROM dt WHERE detr IS NOT NULL GROUP BY 1),
        |dmm AS (SELECT dow, sd / CAST(n AS DOUBLE) AS m FROM dm),
        |gm AS (SELECT list_sum(list(m ORDER BY dow))
        |         / CAST(count(*) AS DOUBLE) AS gm FROM dmm)
        |SELECT dt.day, CAST(dt.rev AS DOUBLE) AS revenue,
        |       round(dt.trend, 6) AS trend,
        |       round(dmm.m - gm.gm, 6) AS seasonal,
        |       round(dt.detr - (dmm.m - gm.gm), 6) AS residual
        |FROM dt LEFT JOIN dmm ON dayofweek(dt.day) + 1 = dmm.dow
        |CROSS JOIN gm
        |ORDER BY dt.day""".stripMargin,
    "w_theil_sen" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |         date_diff('day', DATE '1970-01-01',
        |           CAST(o_orderdate AS DATE)) AS dayn
        |  FROM orders GROUP BY 1),
        |sl AS (
        |  SELECT (CAST(b.rev AS DOUBLE) - CAST(a.rev AS DOUBLE))
        |           / CAST(b.dayn - a.dayn AS DOUBLE) AS slope,
        |         a.dayn AS da, b.dayn AS db
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sl),
        |rk AS (
        |  SELECT slope,
        |         row_number() OVER (ORDER BY slope, da, db) AS rk
        |  FROM sl),
        |med AS (
        |  SELECT sum(slope) / count(*) AS med_slope
        |  FROM rk CROSS JOIN np
        |  WHERE rk = (np.n + 1) // 2 OR rk = (np.n + 2) // 2),
        |ic AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |         list(CAST(rev AS DOUBLE) - med.med_slope
        |           * CAST(dayn AS DOUBLE) ORDER BY
        |             CAST(rev AS DOUBLE) - med.med_slope
        |               * CAST(dayn AS DOUBLE), day) AS ics,
        |         any_value(med.med_slope) AS med_slope
        |  FROM daily CROSS JOIN med)
        |SELECT n_days, np.n AS n_pairs, round(med_slope, 6) AS slope_per_day,
        |       round((ics[CAST((n_days + 1) // 2 AS INTEGER)]
        |         + ics[CAST((n_days + 2) // 2 AS INTEGER)]) / 2.0, 6)
        |         AS intercept
        |FROM ic CROSS JOIN np""".stripMargin,
    "w_viterbi_burst" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |ys AS (
        |  SELECT year(day) AS yr,
        |         list(x ORDER BY day) AS xs,
        |         list(day ORDER BY day) AS days,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM daily GROUP BY 1),
        |m AS (
        |  SELECT yr, xs, days, n,
        |         CAST(list_sort(xs)[CAST((n + 1) // 2 AS INT)]
        |            + list_sort(xs)[CAST((n + 2) // 2 AS INT)] AS BIGINT)
        |           AS med2
        |  FROM ys),
        |step AS (
        |  SELECT yr, 0 AS t, CAST(0 AS BIGINT) AS c0,
        |         CAST(med2 AS BIGINT) AS c1,
        |         CAST([] AS INT[]) AS s0, CAST([] AS INT[]) AS s1,
        |         xs, days, n, med2
        |  FROM m
        |  UNION ALL
        |  SELECT yr, t + 1,
        |         least(c0, c1 + med2) + abs(2 * xs[t + 1] - med2),
        |         least(c1, c0 + med2) + abs(2 * xs[t + 1] - 2 * med2),
        |         list_append(CASE WHEN c0 <= c1 + med2 THEN s0 ELSE s1 END,
        |           0),
        |         list_append(CASE WHEN c1 <= c0 + med2 THEN s1 ELSE s0 END,
        |           1),
        |         xs, days, n, med2
        |  FROM step WHERE t < n),
        |fin AS (
        |  SELECT yr, days, xs, med2,
        |         CASE WHEN c0 <= c1 THEN c0 ELSE c1 END AS path_cost,
        |         CASE WHEN c0 <= c1 THEN s0 ELSE s1 END AS seq
        |  FROM step WHERE t = n),
        |rows_ AS (
        |  SELECT unnest(days) AS day, unnest(xs) AS n_orders,
        |         unnest(seq) AS burst, med2, path_cost
        |  FROM fin)
        |SELECT day, n_orders, CAST(burst AS INTEGER) AS burst,
        |       round(CAST(med2 AS DOUBLE) / 2.0, 6) AS base_rate,
        |       path_cost
        |FROM rows_ ORDER BY day""".stripMargin,
    "w_ljung_box" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |ser AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(SUM(rev) AS DOUBLE) AS tot,
        |         list(CAST(rev AS DOUBLE) ORDER BY day) AS xs
        |  FROM daily),
        |base AS (SELECT *, tot / CAST(n AS DOUBLE) AS m FROM ser),
        |s0 AS (
        |  SELECT *, list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(range(1, CAST(n AS INT) + 1),
        |             i -> (xs[i] - m) * (xs[i] - m))), (a, b) -> a + b) AS s0
        |  FROM base),
        |rho AS (
        |  SELECT *,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 1 + 1),
        |        i -> (xs[i] - m) * (xs[i + 1] - m))), (a, b) -> a + b) / s0
        |      AS rho1,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 2 + 1),
        |        i -> (xs[i] - m) * (xs[i + 2] - m))), (a, b) -> a + b) / s0
        |      AS rho2,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 3 + 1),
        |        i -> (xs[i] - m) * (xs[i + 3] - m))), (a, b) -> a + b) / s0
        |      AS rho3,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 4 + 1),
        |        i -> (xs[i] - m) * (xs[i + 4] - m))), (a, b) -> a + b) / s0
        |      AS rho4,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 5 + 1),
        |        i -> (xs[i] - m) * (xs[i + 5] - m))), (a, b) -> a + b) / s0
        |      AS rho5,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 6 + 1),
        |        i -> (xs[i] - m) * (xs[i + 6] - m))), (a, b) -> a + b) / s0
        |      AS rho6,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, CAST(n AS INT) - 7 + 1),
        |        i -> (xs[i] - m) * (xs[i + 7] - m))), (a, b) -> a + b) / s0
        |      AS rho7
        |  FROM s0)
        |SELECT n AS n_days,
        |       round(rho1, 6) AS rho1, round(rho2, 6) AS rho2,
        |       round(rho3, 6) AS rho3, round(rho4, 6) AS rho4,
        |       round(rho5, 6) AS rho5, round(rho6, 6) AS rho6,
        |       round(rho7, 6) AS rho7,
        |       round((rho1 * rho1 / (CAST(n AS DOUBLE) - 1.0)
        |         + rho2 * rho2 / (CAST(n AS DOUBLE) - 2.0)
        |         + rho3 * rho3 / (CAST(n AS DOUBLE) - 3.0)
        |         + rho4 * rho4 / (CAST(n AS DOUBLE) - 4.0)
        |         + rho5 * rho5 / (CAST(n AS DOUBLE) - 5.0)
        |         + rho6 * rho6 / (CAST(n AS DOUBLE) - 6.0)
        |         + rho7 * rho7 / (CAST(n AS DOUBLE) - 7.0))
        |         * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)), 6)
        |         AS q_stat,
        |       CAST(7 AS BIGINT) AS dof
        |FROM rho""".stripMargin,
    "w_changepoint_binseg" ->
      """WITH daily AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |         CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |cum AS (
        |  SELECT yr, day,
        |         CAST(row_number() OVER w AS BIGINT) AS k,
        |         sum(rev) OVER w AS s_l,
        |         CAST(count(*) OVER (PARTITION BY yr) AS BIGINT) AS n,
        |         sum(rev) OVER (PARTITION BY yr) AS s,
        |         lead(day, 1) OVER w AS next_day
        |  FROM daily
        |  WINDOW w AS (PARTITION BY yr ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT yr, n, next_day, k, s_l, s - s_l AS s_r, n - k AS n_r, s,
        |         CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE)
        |           + CAST(s - s_l AS DOUBLE) * CAST(s - s_l AS DOUBLE)
        |             / CAST(n - k AS DOUBLE) AS score
        |  FROM cum WHERE k < n)
        |SELECT yr, n AS n_days, next_day AS changepoint_day,
        |       k AS n_days_before,
        |       CAST((s_l * 10000) // k AS BIGINT) / 1000000.0 AS mean_before,
        |       CAST((s_r * 10000) // n_r AS BIGINT) / 1000000.0 AS mean_after,
        |       round((score - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |         / CAST(n AS DOUBLE)) / 10000.0, 6) AS gain
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY yr ORDER BY score DESC, k) = 1
        |ORDER BY yr""".stripMargin,
    "w_interpolate_linear" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(
        |           (SELECT min(day) FROM daily),
        |           (SELECT max(day) FROM daily),
        |           INTERVAL 1 DAY)) AS DATE) AS day),
        |carried AS (
        |  SELECT s.day, d.rev,
        |         last_value(CASE WHEN d.rev IS NOT NULL
        |             THEN {'d': s.day, 'r': d.rev} END IGNORE NULLS)
        |           OVER (ORDER BY s.day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS p,
        |         first_value(CASE WHEN d.rev IS NOT NULL
        |             THEN {'d': s.day, 'r': d.rev} END IGNORE NULLS)
        |           OVER (ORDER BY s.day
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS nx
        |  FROM spine s LEFT JOIN daily d USING (day))
        |SELECT day, rev AS rev_cents,
        |       (CASE WHEN rev IS NOT NULL THEN rev * 10000
        |             WHEN p IS NOT NULL AND nx IS NOT NULL THEN
        |               CAST(((p.r * (nx.d - day) + nx.r * (day - p.d))
        |                 * 10000) // (nx.d - p.d) AS BIGINT)
        |             WHEN p IS NOT NULL THEN p.r * 10000
        |             ELSE nx.r * 10000 END) / 1000000.0 AS filled,
        |       rev IS NULL AS is_interpolated
        |FROM carried ORDER BY day""".stripMargin,
    "w_ivm_delta" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderkey % 10 < 8 AS is_base,
        |         o_orderkey % 10 < 8 AND substr(md5(CAST(o_orderkey
        |           AS VARCHAR)), 1, 1) = '0' AS is_del
        |  FROM orders),
        |view_old AS (
        |  SELECT month, CAST(count(*) AS BIGINT) AS n0,
        |         CAST(sum(cents) AS BIGINT) AS s0
        |  FROM o WHERE is_base GROUP BY 1),
        |delta AS (
        |  SELECT month, CAST(sum(w) AS BIGINT) AS dn,
        |         CAST(sum(w * cents) AS BIGINT) AS ds
        |  FROM (SELECT month, cents,
        |          CASE WHEN NOT is_base THEN 1
        |               WHEN is_del THEN -1 ELSE 0 END AS w
        |        FROM o) t
        |  WHERE w <> 0 GROUP BY 1),
        |maintained AS (
        |  SELECT coalesce(v.month, d.month) AS month,
        |         coalesce(v.n0, 0) + coalesce(d.dn, 0) AS n_orders,
        |         coalesce(v.s0, 0) + coalesce(d.ds, 0) AS s
        |  FROM view_old v FULL OUTER JOIN delta d ON v.month = d.month),
        |kept AS (SELECT * FROM maintained WHERE n_orders > 0),
        |direct AS (
        |  SELECT month, CAST(count(*) AS BIGINT) AS n_direct,
        |         CAST(sum(cents) AS BIGINT) AS s_direct
        |  FROM o WHERE (is_base AND NOT is_del) OR NOT is_base
        |  GROUP BY 1)
        |SELECT coalesce(k.month, dr.month) AS month, k.n_orders,
        |       CAST((k.s * 10000) // k.n_orders AS BIGINT) / 1000000.0
        |         AS avg_price,
        |       (k.n_orders = dr.n_direct AND k.s = dr.s_direct)
        |         AS ivm_matches_direct
        |FROM kept k FULL OUTER JOIN direct dr ON k.month = dr.month
        |ORDER BY month""".stripMargin,
    "w_max_drawdown" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |dev AS (
        |  SELECT day,
        |         CAST(count(*) OVER () AS BIGINT) AS n_days,
        |         rev * CAST(count(*) OVER () AS BIGINT)
        |           - CAST(sum(rev) OVER () AS BIGINT) AS surplus
        |  FROM daily),
        |cum AS (
        |  SELECT day, n_days,
        |         sum(surplus) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dev),
        |pk AS (
        |  SELECT day, n_days, cum,
        |         max(cum) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM cum)
        |SELECT day AS trough_day, n_days,
        |       CAST(((peak - cum) // n_days) * 10000 AS BIGINT)
        |         / 1000000.0 AS max_drawdown,
        |       CAST((greatest(peak, 0) // n_days) * 10000 AS BIGINT)
        |         / 1000000.0 AS peak_dev
        |FROM pk
        |QUALIFY row_number() OVER (ORDER BY peak - cum DESC, day) = 1"""
        .stripMargin,
    "w_twap" ->
      """WITH terms AS (
        |  SELECT user_id, ts, event_id,
        |         epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us,
        |         value * (epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id)) - epoch_us(ts)) AS term
        |  FROM events QUALIFY dur_us IS NOT NULL)
        |SELECT user_id, CAST(count(*) + 1 AS BIGINT) AS n_events,
        |       CAST(sum(dur_us) AS BIGINT) AS span_us,
        |       round(list_sum(list(term ORDER BY ts, event_id))
        |         / CAST(sum(dur_us) AS DOUBLE), 6) AS twap
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w_backtest_mase" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day,
        |         d1
        |  FROM span),
        |dense AS (
        |  SELECT t.event_type, s.day, s.d1, coalesce(dd.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN spine s
        |  LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.day = s.day),
        |scored AS (
        |  SELECT event_type,
        |         abs(c - lag(c, 7) OVER (PARTITION BY event_type ORDER BY day))
        |           AS abs_err,
        |         day > d1 - 14 AS is_test
        |  FROM dense
        |  QUALIFY lag(c, 7) OVER (PARTITION BY event_type ORDER BY day)
        |    IS NOT NULL)
        |SELECT event_type,
        |       CAST(sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_train,
        |       CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_test,
        |       round(CAST(sum(CASE WHEN NOT is_test THEN abs_err END) AS DOUBLE)
        |         / sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END), 6) AS mae_train,
        |       round(CAST(sum(CASE WHEN is_test THEN abs_err END) AS DOUBLE)
        |         / sum(CASE WHEN is_test THEN 1 ELSE 0 END), 6) AS mae_test,
        |       round(CAST(sum(CASE WHEN is_test THEN abs_err END)
        |           * sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS DOUBLE)
        |         / (sum(CASE WHEN NOT is_test THEN abs_err END)
        |           * sum(CASE WHEN is_test THEN 1 ELSE 0 END)), 6) AS mase
        |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w_kalman_1d" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           / 1000000.0 AS DOUBLE) AS z
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT day, z, year(day) AS yr,
        |         CAST(row_number() OVER (PARTITION BY year(day) ORDER BY day)
        |           AS INTEGER) AS t
        |  FROM daily),
        |kf(yr, t, x, p, k) AS (
        |  SELECT yr, t, z AS x, CAST(10.0 AS DOUBLE) AS p,
        |         CAST(1.0 AS DOUBLE) AS k
        |  FROM d2 WHERE t = 1
        |  UNION ALL
        |  SELECT yr, t, xprev + kk * (z - xprev) AS x,
        |         (1.0 - kk) * pp AS p, kk AS k
        |  FROM (SELECT yr, t, z, xprev, pp, pp / (pp + 10.0) AS kk
        |        FROM (SELECT d.yr, d.t, d.z, kf.x AS xprev,
        |                     kf.p + 2.0 AS pp
        |              FROM kf JOIN d2 d ON d.yr = kf.yr AND d.t = kf.t + 1)))
        |SELECT d2.day, d2.z AS revenue_m, kf.x AS estimate,
        |       kf.p AS variance, kf.k AS gain
        |FROM kf JOIN d2 ON kf.yr = d2.yr AND kf.t = d2.t
        |ORDER BY d2.day""".stripMargin,
    "w_anomaly_esd" ->
      s"""WITH rem0 AS MATERIALIZED (
         |  SELECT o_orderdate AS day,
         |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |           AS BIGINT)) AS BIGINT) AS m
         |  FROM orders GROUP BY 1),
         |${esdRounds(5)}
         |SELECT CAST(iteration AS BIGINT) AS iteration, day, revenue,
         |       r_stat, flagged
         |FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2
         |      UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
         |      UNION ALL SELECT * FROM w5)
         |ORDER BY iteration""".stripMargin,
    "w_haar_decompose" ->
      s"""WITH a0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx, v
         |  FROM (SELECT o_orderdate AS day,
         |               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |                 * 100 AS BIGINT)) AS BIGINT) AS v
         |        FROM orders GROUP BY 1)),
         |${haarLevels(3)}
         |SELECT level, coef, idx, value FROM (
         |  SELECT CAST(1 AS BIGINT) AS level, 'd' AS coef, j AS idx,
         |         sdiff AS value FROM p1 WHERE cnt = 2
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'd', j, sdiff FROM p2 WHERE cnt = 2
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'd', j, sdiff FROM p3 WHERE cnt = 2
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 's', idx, v FROM a3)
         |ORDER BY level, coef, idx""".stripMargin,
    "w_garch_filter" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           / 1000000.0 AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT day, x, year(day) AS yr,
        |         CAST(row_number() OVER (PARTITION BY year(day) ORDER BY day)
        |           AS INTEGER) AS t
        |  FROM daily),
        |gf(yr, t, xprev, r, s2) AS (
        |  SELECT yr, t, x AS xprev, CAST(0.0 AS DOUBLE) AS r,
        |         CAST(0.04 AS DOUBLE) AS s2
        |  FROM d2 WHERE t = 1
        |  UNION ALL
        |  SELECT yr, t, x AS xprev,
        |         (x - xprev) / xprev AS r,
        |         0.000005 + 0.1 * (rprev * rprev) + 0.85 * s2prev AS s2
        |  FROM (SELECT d.yr, d.t, d.x, gf.xprev, gf.r AS rprev,
        |               gf.s2 AS s2prev
        |        FROM gf JOIN d2 d ON d.yr = gf.yr AND d.t = gf.t + 1))
        |SELECT d2.day, d2.x AS revenue_m, gf.r AS ret, gf.s2 AS sigma2,
        |       gf.r / sqrt(gf.s2) AS std_resid
        |FROM gf JOIN d2 ON gf.yr = d2.yr AND gf.t = d2.t
        |WHERE gf.t > 1
        |ORDER BY d2.day""".stripMargin,
    "w_pot_gpd" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |u AS (
        |  SELECT m AS u, n FROM (
        |    SELECT m, CAST(row_number() OVER (ORDER BY m, day) AS BIGINT)
        |      AS rk
        |    FROM daily) CROSS JOIN n
        |  WHERE rk = CAST(ceil(0.95 * n::DOUBLE) AS BIGINT)),
        |ex AS (
        |  SELECT u.u, u.n, d.m - u.u AS y
        |  FROM daily d CROSS JOIN u WHERE d.m > u.u),
        |mo AS (
        |  SELECT u, n, CAST(count(*) AS BIGINT) AS n_exceed,
        |         CAST(sum(y) AS BIGINT) AS s1,
        |         sum(CAST(y AS DECIMAL(38,0)) * y) AS s2
        |  FROM ex GROUP BY 1, 2),
        |mv AS (
        |  SELECT n, u, n_exceed,
        |         s1::DOUBLE / n_exceed::DOUBLE AS e,
        |         (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_exceed::DOUBLE)
        |           / (n_exceed::DOUBLE - 1.0) AS v
        |  FROM mo)
        |SELECT n AS n_days, u::DOUBLE / 100.0 AS threshold, n_exceed,
        |       round(e / 100.0, 6) AS mean_excess,
        |       round((e * e / v - 1.0) / 2.0, 6) AS k_hat,
        |       round(e * (e * e / v + 1.0) / 2.0 / 100.0, 6) AS sigma_hat
        |FROM mv""".stripMargin,
    "w_periodogram" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT m, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t
        |  FROM daily),
        |n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS sm
        |  FROM daily),
        |mu AS (SELECT n, sm::DOUBLE / n::DOUBLE AS mu FROM n),
        |freq AS (
        |  SELECT unnest(generate_series(1, CAST(least(512, (n - 1) // 2)
        |           AS BIGINT))) AS k, n, mu
        |  FROM mu),
        |terms AS (
        |  SELECT f.k, f.n, i.t,
        |         (i.m::DOUBLE - f.mu)
        |           * cos(2.0 * pi() * f.k::DOUBLE * i.t::DOUBLE / f.n::DOUBLE) AS c,
        |         (i.m::DOUBLE - f.mu)
        |           * sin(2.0 * pi() * f.k::DOUBLE * i.t::DOUBLE / f.n::DOUBLE) AS s2
        |  FROM idx i CROSS JOIN freq f),
        |pw AS (
        |  SELECT k, n,
        |         (list_sum(list(c ORDER BY t)) * list_sum(list(c ORDER BY t))
        |          + list_sum(list(s2 ORDER BY t)) * list_sum(list(s2 ORDER BY t)))
        |           / n::DOUBLE AS p
        |  FROM terms GROUP BY k, n),
        |tot AS (SELECT list_sum(list(p ORDER BY k)) AS tp FROM pw),
        |shares AS (
        |  SELECT k, n, round(p / tp, 6) AS share
        |  FROM pw CROSS JOIN tot)
        |SELECT CAST(rank AS INTEGER) AS rank, k,
        |       round(n::DOUBLE / k::DOUBLE, 3) AS period_days,
        |       share AS power_share
        |FROM (SELECT k, n, share,
        |             row_number() OVER (ORDER BY share DESC, k) AS rank
        |      FROM shares)
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "w_pacf" -> {
      val gammaCols = (0 to PacfLags).map { k =>
        val term =
          if (k == 0) "(m::DOUBLE - mu) * (m::DOUBLE - mu)"
          else s"CASE WHEN l$k IS NOT NULL THEN (m::DOUBLE - mu)" +
            s" * (l$k::DOUBLE - mu) ELSE 0.0 END"
        s"list_sum(list($term ORDER BY day)) AS gam$k"
      }.mkString(",\n         ")
      val lagCols = (1 to PacfLags)
        .map(k => s"lag(m, $k) OVER (ORDER BY day) AS l$k").mkString(",\n         ")
      val rhoCols = (1 to PacfLags)
        .map(k => s"gam$k / gam0 AS rho$k").mkString(", ")
      val pacfRows = pacfSqlExprs.map { case (k, e) =>
        s"  SELECT CAST($k AS INTEGER) AS lag, round(rho$k, 6) AS acf," +
          s" round($e, 6) AS pacf FROM rho"
      }.mkString("\n  UNION ALL\n")
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day,
         |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |           AS BIGINT)) AS BIGINT) AS m
         |  FROM orders GROUP BY 1),
         |nn AS (
         |  SELECT CAST(sum(m) AS BIGINT)::DOUBLE
         |           / CAST(count(*) AS BIGINT)::DOUBLE AS mu
         |  FROM daily),
         |lagged AS (
         |  SELECT day, m, mu,
         |         $lagCols
         |  FROM daily CROSS JOIN nn),
         |gam AS (
         |  SELECT $gammaCols
         |  FROM lagged),
         |rho AS (SELECT $rhoCols FROM gam)
         |SELECT lag, acf, pacf FROM (
         |$pacfRows)
         |ORDER BY lag""".stripMargin
    },
    "w_ses_grid" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day,
         |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
         |  FROM orders GROUP BY 1),
         |pre AS (
         |  SELECT day, x,
         |         list(x) OVER (ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
         |  FROM daily),
         |errs AS (
         |  SELECT day, x, alpha,
         |         list_reduce(prefix,
         |           (a, v) -> a * (1.0 - alpha) + alpha * v) AS s_prev
         |  FROM pre CROSS JOIN (
         |    SELECT unnest(CAST([${SesAlphas.mkString(", ")}] AS DOUBLE[]))
         |      AS alpha)
         |  WHERE len(prefix) >= 1),
         |scored AS (
         |  SELECT alpha, CAST(count(*) AS BIGINT) AS n_forecasts,
         |         round(sqrt(list_sum(list((x - s_prev) * (x - s_prev)
         |             ORDER BY day)) / CAST(count(*) AS DOUBLE)), 6) AS rmse
         |  FROM errs GROUP BY 1)
         |SELECT alpha, n_forecasts, rmse,
         |       CAST(row_number() OVER (ORDER BY rmse, alpha) AS INTEGER)
         |         AS rank
         |FROM scored ORDER BY alpha""".stripMargin,
    "w_cross_correlation" -> {
      val shifts = (-XcorrMaxLag to XcorrMaxLag).map { k =>
        val y =
          if (k == 0) "rev"
          else if (k > 0) s"lead(rev, $k) OVER (ORDER BY day)"
          else s"lag(rev, ${-k}) OVER (ORDER BY day)"
        s"SELECT x, CAST($k AS INTEGER) AS k, $y AS y FROM daily"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x,
         |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |           AS BIGINT)) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |pairs AS (
         |  SELECT x, k, y FROM (
         |  $shifts)
         |  WHERE y IS NOT NULL),
         |m AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         |         sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         |         sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
         |  FROM pairs GROUP BY 1)
         |SELECT k AS lag, n AS n_pairs,
         |       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         |         / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |            * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
         |         6) AS xcorr
         |FROM m ORDER BY lag""".stripMargin
    },
    "w_turning_points" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |tp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_interior,
        |         CAST(sum(CASE WHEN (prev < m AND m > nxt)
        |               OR (prev > m AND m < nxt) THEN 1 ELSE 0 END)
        |           AS BIGINT) AS t
        |  FROM (SELECT m, lag(m, 1) OVER (ORDER BY day) AS prev,
        |               lead(m, 1) OVER (ORDER BY day) AS nxt
        |        FROM daily)
        |  WHERE prev IS NOT NULL AND nxt IS NOT NULL),
        |f AS (
        |  SELECT n_interior, t,
        |         n_interior::DOUBLE + 2.0 AS n,
        |         2.0 * (n_interior::DOUBLE + 2.0 - 2.0) / 3.0 AS mu,
        |         (16.0 * (n_interior::DOUBLE + 2.0) - 29.0) / 90.0 AS vr
        |  FROM tp)
        |SELECT n_interior + 2 AS n_days, t AS n_turning_points,
        |       round(mu, 6) AS expected,
        |       round((t::DOUBLE - mu) / sqrt(vr), 6) AS z,
        |       CASE WHEN (t::DOUBLE - mu) / sqrt(vr) < -1.96 THEN 'trending'
        |            WHEN (t::DOUBLE - mu) / sqrt(vr) > 1.96 THEN 'oscillating'
        |            ELSE 'random' END AS verdict
        |FROM f""".stripMargin,
    "w_hurst" -> {
      val sizes = HurstSizes.mkString(", ")
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day,
         |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |           AS BIGINT)) AS BIGINT) AS m
         |  FROM orders GROUP BY 1),
         |idx AS (
         |  SELECT day, m,
         |         CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS rk
         |  FROM daily),
         |grid AS (
         |  SELECT day, m, rk, s, rk // s AS b
         |  FROM idx CROSS JOIN (SELECT unnest([$sizes]) AS s)),
         |stats AS (
         |  SELECT s, b, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(sum(m) AS BIGINT) AS sm,
         |         sum(CAST(m AS DECIMAL(38,0)) * m) AS smm
         |  FROM grid GROUP BY 1, 2),
         |fs AS (
         |  SELECT s, b, sm::DOUBLE / s::DOUBLE AS mu,
         |         sqrt((smm::DOUBLE - sm::DOUBLE * sm::DOUBLE / s::DOUBLE)
         |           / s::DOUBLE) AS sd
         |  FROM stats WHERE cnt = s),
         |walk AS (
         |  SELECT g.s, g.b, f.sd,
         |         sum(g.m::DOUBLE - f.mu) OVER (PARTITION BY g.s, g.b
         |           ORDER BY g.rk
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS rundev
         |  FROM grid g JOIN fs f ON f.s = g.s AND f.b = g.b),
         |blocks AS (
         |  SELECT s, b, sd, max(rundev) - min(rundev) AS r
         |  FROM walk GROUP BY 1, 2, 3),
         |rs AS (
         |  SELECT s, b, r / sd AS rs FROM blocks WHERE sd > 0.0),
         |persize AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
         |         list_sum(list(rs ORDER BY b))
         |           / CAST(count(*) AS BIGINT)::DOUBLE AS mean_rs
         |  FROM rs GROUP BY 1),
         |pts AS (
         |  SELECT s, n_blocks, mean_rs,
         |         ln(s::DOUBLE) AS lx, ln(mean_rs) AS ly
         |  FROM persize),
         |reg AS (
         |  SELECT (CAST(count(*) AS BIGINT)::DOUBLE
         |             * list_sum(list(lx * ly ORDER BY s))
         |           - list_sum(list(lx ORDER BY s))
         |             * list_sum(list(ly ORDER BY s)))
         |         / (CAST(count(*) AS BIGINT)::DOUBLE
         |             * list_sum(list(lx * lx ORDER BY s))
         |           - list_sum(list(lx ORDER BY s))
         |             * list_sum(list(lx ORDER BY s))) AS hurst
         |  FROM pts)
         |SELECT CAST(s AS BIGINT) AS block_size, n_blocks,
         |       round(mean_rs, 6) AS mean_rs, round(hurst, 6) AS hurst
         |FROM pts CROSS JOIN reg
         |ORDER BY block_size""".stripMargin
    },
    "w_season_strength" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |         year(o_orderdate) AS yr
        |  FROM orders GROUP BY 1, 3),
        |tr AS (
        |  SELECT day, rev, yr,
        |         CASE WHEN count(*) OVER w7 = 7 THEN
        |           CAST(SUM(rev) OVER w7 AS DOUBLE) / 7.0 END AS trend
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY yr ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |de AS (
        |  SELECT day, rev, CAST(rev AS DOUBLE) - trend AS detr
        |  FROM tr WHERE trend IS NOT NULL),
        |dowm AS (
        |  SELECT dayofweek(day) + 1 AS dow, count(*) AS n,
        |         list_sum(list(detr ORDER BY day)) AS sd
        |  FROM de GROUP BY 1),
        |dm AS (SELECT dow, sd / n AS m FROM dowm),
        |grand AS (
        |  SELECT list_sum(list(m ORDER BY dow)) / count(*) AS gm FROM dm),
        |comp AS (
        |  SELECT d.day, d.detr,
        |         d.detr - (m.m - g.gm) AS resid,
        |         CAST(d.rev AS DOUBLE) - (m.m - g.gm) AS deseas
        |  FROM de d
        |  LEFT JOIN dm m ON m.dow = dayofweek(d.day) + 1
        |  CROSS JOIN grand g),
        |v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days_used,
        |         (list_sum(list(resid * resid ORDER BY day))
        |           - list_sum(list(resid ORDER BY day))
        |             * list_sum(list(resid ORDER BY day))
        |             / CAST(count(*) AS DOUBLE))
        |           / CAST(count(*) AS DOUBLE) AS var_r,
        |         (list_sum(list(detr * detr ORDER BY day))
        |           - list_sum(list(detr ORDER BY day))
        |             * list_sum(list(detr ORDER BY day))
        |             / CAST(count(*) AS DOUBLE))
        |           / CAST(count(*) AS DOUBLE) AS var_sr,
        |         (list_sum(list(deseas * deseas ORDER BY day))
        |           - list_sum(list(deseas ORDER BY day))
        |             * list_sum(list(deseas ORDER BY day))
        |             / CAST(count(*) AS DOUBLE))
        |           / CAST(count(*) AS DOUBLE) AS var_tr
        |  FROM comp)
        |SELECT n_days_used,
        |       round(greatest(0.0, 1.0 - var_r / var_sr), 6) AS f_seasonal,
        |       round(greatest(0.0, 1.0 - var_r / var_tr), 6) AS f_trend
        |FROM v""".stripMargin,
    "w_holt_grid" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day,
         |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
         |  FROM orders GROUP BY 1),
         |pre AS (
         |  SELECT day, x,
         |         list(x) OVER (ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
         |  FROM daily),
         |errs AS (
         |  SELECT day, x, alpha, beta,
         |         list_reduce(
         |           list_concat(
         |             [[prefix[2], prefix[2] - prefix[1]]],
         |             list_transform(prefix[3:], v -> [v, 0.0])),
         |           (a, e) -> [
         |             alpha * e[1] + (1.0 - alpha) * (a[1] + a[2]),
         |             beta * (alpha * e[1] + (1.0 - alpha) * (a[1] + a[2])
         |               - a[1]) + (1.0 - beta) * a[2]]) AS st
         |  FROM pre CROSS JOIN (
         |    SELECT a.alpha, b.beta
         |    FROM (SELECT unnest(CAST([${HoltParams.mkString(", ")}]
         |            AS DOUBLE[])) AS alpha) a
         |    CROSS JOIN (SELECT unnest(CAST([${HoltParams.mkString(", ")}]
         |            AS DOUBLE[])) AS beta) b)
         |  WHERE len(prefix) >= 2),
         |scored AS (
         |  SELECT alpha, beta, CAST(count(*) AS BIGINT) AS n_forecasts,
         |         round(sqrt(list_sum(list(
         |             (x - (st[1] + st[2])) * (x - (st[1] + st[2]))
         |             ORDER BY day)) / CAST(count(*) AS DOUBLE)), 6) AS rmse
         |  FROM errs GROUP BY 1, 2)
         |SELECT alpha, beta, n_forecasts, rmse,
         |       CAST(row_number() OVER (ORDER BY rmse, alpha, beta)
         |         AS INTEGER) AS rank
         |FROM scored ORDER BY alpha, beta""".stripMargin,
    "w_mad_anomalies" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS n, (count(*) + 1) // 2 AS lo,
        |         (count(*) + 2) // 2 AS hi
        |  FROM daily),
        |r1 AS (
        |  SELECT m, row_number() OVER (ORDER BY m, day) AS rk FROM daily),
        |med AS (
        |  SELECT sum(m::DOUBLE) / CAST(count(*) AS DOUBLE) AS med
        |  FROM r1 CROSS JOIN st WHERE rk >= lo AND rk <= hi),
        |dv AS (
        |  SELECT day, m, med, abs(m::DOUBLE - med) AS dev
        |  FROM daily CROSS JOIN med),
        |r2 AS (
        |  SELECT dev, row_number() OVER (ORDER BY dev, day) AS rk FROM dv),
        |mad AS (
        |  SELECT sum(dev) / CAST(count(*) AS DOUBLE) AS mad
        |  FROM r2 CROSS JOIN st WHERE rk >= lo AND rk <= hi)
        |SELECT day, m::DOUBLE / 100.0 AS revenue,
        |       CASE WHEN mad > 0.0 THEN
        |         round((m::DOUBLE - med) / (1.4826 * mad), 6) END AS robust_z,
        |       CASE WHEN mad > 0.0 THEN
        |         abs((m::DOUBLE - med) / (1.4826 * mad)) > 3.5 END
        |         AS is_anomaly
        |FROM dv CROSS JOIN mad
        |ORDER BY day""".stripMargin,
    "w_croston" -> {
      val a = CrostonAlpha
      s"""WITH daily AS (
         |  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
         |         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |  GROUP BY 1, 2),
         |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |spine AS (
         |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
         |    AS day
         |  FROM span),
         |dense AS (
         |  SELECT b.p_brand, s.day,
         |         CAST(coalesce(d.q, 0) AS DOUBLE) AS x
         |  FROM (SELECT DISTINCT p_brand FROM part) b
         |  CROSS JOIN spine s
         |  LEFT JOIN daily d ON d.p_brand = b.p_brand AND d.day = s.day),
         |folded AS (
         |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_demand_days,
         |         list_reduce(
         |           list_concat([[0.0, 0.0, 0.0, 0.0]],
         |             list_transform(list(x ORDER BY day),
         |               v -> [v, 0.0, 0.0, 0.0])),
         |           (a, e) -> CASE
         |             WHEN e[1] > 0 AND a[4] = 0 THEN
         |               [e[1], a[3] + 1.0, 0.0, 1.0]
         |             WHEN e[1] > 0 THEN
         |               [a[1] + $a * (e[1] - a[1]),
         |                a[2] + $a * (a[3] + 1.0 - a[2]), 0.0, 1.0]
         |             ELSE [a[1], a[2], a[3] + 1.0, a[4]] END) AS st
         |  FROM dense GROUP BY 1)
         |SELECT p_brand, n_days, n_demand_days,
         |       round(CAST(n_demand_days AS DOUBLE)
         |         / CAST(n_days AS DOUBLE), 6) AS demand_rate,
         |       round(st[1], 6) AS level,
         |       round(st[2], 6) AS "interval",
         |       round(st[1] / st[2], 6) AS croston_forecast,
         |       round(${1.0 - a / 2} * st[1] / st[2], 6) AS sba_forecast
         |FROM folded ORDER BY p_brand""".stripMargin
    },
    "w_durbin_watson" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS y,
         |         CAST(row_number() OVER (ORDER BY o_orderdate) AS BIGINT)
         |           AS t
         |  FROM orders GROUP BY 1),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(t) AS DECIMAL(38,0)) AS st,
         |         CAST(sum(CAST(t * t AS DECIMAL(38,0))) AS DECIMAL(38,0))
         |           AS stt,
         |         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |         CAST(sum(CAST(t * y AS DECIMAL(38,0))) AS DECIMAL(38,0))
         |           AS sty
         |  FROM daily),
         |fit AS (
         |  SELECT n,
         |         (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
         |           - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
         |         (CAST(sy AS DOUBLE)
         |           - (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
         |              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         |             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
         |               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
         |             * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS icept
         |  FROM m),
         |resid AS (
         |  SELECT f.n, f.slope, d.day,
         |         CAST(d.y AS DOUBLE) - f.icept
         |           - f.slope * CAST(d.t AS DOUBLE) AS e
         |  FROM daily d CROSS JOIN fit f),
         |lagd AS (
         |  SELECT n, slope, day, e,
         |         lag(e) OVER (ORDER BY day) AS e_prev
         |  FROM resid),
         |folds AS (
         |  SELECT n, slope,
         |         list_sum(list(CASE WHEN e_prev IS NOT NULL
         |           THEN (e - e_prev) * (e - e_prev) ELSE 0.0 END
         |           ORDER BY day)) AS num,
         |         list_sum(list(e * e ORDER BY day)) AS den
         |  FROM lagd GROUP BY n, slope)
         |SELECT n AS n_days,
         |       round(slope, 6) AS trend_slope_cents_per_day,
         |       round(num / den, 6) AS dw_stat,
         |       round(1.0 - num / den / 2.0, 6) AS rho_approx,
         |       CASE WHEN num / den < 1.5 THEN 'positive_autocorr'
         |            WHEN num / den > 2.5 THEN 'negative_autocorr'
         |            ELSE 'none' END AS verdict
         |FROM folds""".stripMargin,
    "w_granger_causality" ->
      s"""WITH d0 AS (
         |  SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS vol,
         |         CAST(sum($centsX) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |dl AS (
         |  SELECT day, vol, rev,
         |         lag(vol) OVER (ORDER BY day) AS vol_l,
         |         lag(rev) OVER (ORDER BY day) AS rev_l
         |  FROM d0 QUALIFY vol_l IS NOT NULL),
         |${grangerMoments("mo_a", "rev", "rev_l", "vol_l")},
         |${grangerMoments("mo_b", "vol", "vol_l", "rev_l")},
         |${grangerFit("fit_a", "mo_a")},
         |${grangerFit("fit_b", "mo_b")}
         |${grangerSelect("fit_a", "dl.rev", "dl.rev_l", "dl.vol_l",
        "volume_to_revenue")}
         |UNION ALL
         |${grangerSelect("fit_b", "dl.vol", "dl.vol_l", "dl.rev_l",
        "revenue_to_volume")}
         |ORDER BY direction""".stripMargin,
    "w_cooks_distance" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS y,
         |         CAST(row_number() OVER (ORDER BY o_orderdate) AS BIGINT)
         |           AS t
         |  FROM orders GROUP BY 1),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(CAST(sum(t) AS DECIMAL(38,0)) AS DOUBLE) AS st,
         |         CAST(CAST(sum(CAST(t * t AS DECIMAL(38,0)))
         |           AS DECIMAL(38,0)) AS DOUBLE) AS stt,
         |         CAST(CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
         |         CAST(CAST(sum(CAST(t * y AS DECIMAL(38,0)))
         |           AS DECIMAL(38,0)) AS DOUBLE) AS sty
         |  FROM daily),
         |fit AS (
         |  SELECT m,
         |         (CAST(m AS DOUBLE) * sty - st * sy)
         |           / (CAST(m AS DOUBLE) * stt - st * st) AS slope,
         |         (sy - (CAST(m AS DOUBLE) * sty - st * sy)
         |           / (CAST(m AS DOUBLE) * stt - st * st) * st)
         |           / CAST(m AS DOUBLE) AS icept,
         |         st / CAST(m AS DOUBLE) AS tbar,
         |         stt - st * st / CAST(m AS DOUBLE) AS sxx
         |  FROM mo),
         |resid AS (
         |  SELECT f.m, d.day, d.t, f.tbar, f.sxx,
         |         CAST(d.y AS DOUBLE) - f.icept
         |           - f.slope * CAST(d.t AS DOUBLE) AS e
         |  FROM daily d CROSS JOIN fit f),
         |s2_ AS (
         |  SELECT m, ${rssSql("e")} / CAST(m - 2 AS DOUBLE) AS s2
         |  FROM resid GROUP BY m),
         |infl AS (
         |  SELECT r.day, r.e,
         |         1.0 / CAST(r.m AS DOUBLE)
         |           + (CAST(r.t AS DOUBLE) - r.tbar)
         |             * (CAST(r.t AS DOUBLE) - r.tbar) / r.sxx AS h,
         |         s.s2
         |  FROM resid r CROSS JOIN s2_ s)
         |SELECT day, CAST(floor(e * 1000.0) AS BIGINT)
         |         AS residual_millicents,
         |       round(h, 6) AS leverage,
         |       round(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
         |         AS cooks_d
         |FROM infl
         |ORDER BY cooks_d DESC, day LIMIT 10""".stripMargin,
    "w_page_hinkley" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x,
         |         CAST(year(o_orderdate) AS BIGINT) AS yr
         |  FROM orders GROUP BY 1),
         |terms AS (
         |  SELECT yr, day, x,
         |         CAST(CAST(x AS HUGEINT) * 1000000
         |             - (CAST(sum(x) OVER w AS HUGEINT) * 1000000)
         |           // CAST(count(*) OVER w AS HUGEINT) AS BIGINT) AS term_q
         |  FROM daily
         |  WINDOW w AS (PARTITION BY yr ORDER BY day)),
         |mrun AS (
         |  SELECT yr, day,
         |         CAST(sum(term_q) OVER (PARTITION BY yr ORDER BY day)
         |           AS BIGINT) AS m_q
         |  FROM terms),
         |ph AS (
         |  SELECT yr, day,
         |         m_q - CAST(min(m_q) OVER (PARTITION BY yr ORDER BY day)
         |           AS BIGINT) AS ph_q
         |  FROM mrun),
         |ranked AS (
         |  SELECT yr, day, ph_q,
         |         row_number() OVER (PARTITION BY yr
         |           ORDER BY ph_q DESC, day) AS rk,
         |         CAST(count(*) OVER (PARTITION BY yr) AS BIGINT) AS nd
         |  FROM ph)
         |SELECT yr AS year, nd AS n_days, day AS peak_day,
         |       round(CAST(ph_q AS DOUBLE) / 1e6 / 100.0, 6)
         |         AS peak_ph_usd,
         |       ph_q > 5000000000000 AS drift_alarm
         |FROM ranked WHERE rk = 1 ORDER BY year""".stripMargin,
    "w_dtw_brand_demand" ->
      s"""WITH RECURSIVE bl AS (
         |  SELECT p.p_brand AS brand,
         |         date_trunc('month', l.l_shipdate) AS mon,
         |         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |  WHERE p.p_brand IN ('$DtwBrandA', '$DtwBrandB')
         |  GROUP BY 1, 2),
         |spine AS (SELECT DISTINCT mon FROM bl),
         |ser AS (
         |  SELECT list(coalesce(a.q, 0) ORDER BY s.mon) AS a,
         |         list(coalesce(b.q, 0) ORDER BY s.mon) AS b,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM spine s
         |  LEFT JOIN bl a ON a.mon = s.mon AND a.brand = '$DtwBrandA'
         |  LEFT JOIN bl b ON b.mon = s.mon AND b.brand = '$DtwBrandB'),
         |dp AS (
         |  SELECT CAST(0 AS BIGINT) AS k,
         |         CAST([] AS BIGINT[]) AS pr, CAST([] AS BIGINT[]) AS cr,
         |         a, b, n
         |  FROM ser
         |  UNION ALL
         |  SELECT k + 1,
         |         CASE WHEN (k % n) + 1 = n THEN list_append(cr, nv)
         |              ELSE pr END,
         |         CASE WHEN (k % n) + 1 = n THEN CAST([] AS BIGINT[])
         |              ELSE list_append(cr, nv) END,
         |         a, b, n
         |  FROM (
         |    SELECT dp.*,
         |           abs(a[CAST(k // n AS INT) + 1]
         |               - b[CAST(k % n AS INT) + 1]) +
         |           CASE WHEN k // n + 1 = 1 AND (k % n) + 1 = 1
         |                  THEN CAST(0 AS BIGINT)
         |                WHEN k // n + 1 = 1
         |                  THEN cr[CAST(k % n AS INT)]
         |                WHEN (k % n) + 1 = 1 THEN pr[1]
         |                ELSE least(pr[CAST(k % n AS INT) + 1],
         |                           cr[CAST(k % n AS INT)],
         |                           pr[CAST(k % n AS INT)]) END AS nv
         |    FROM dp WHERE k < n * n)),
         |fin AS (
         |  SELECT n, pr[CAST(n AS INT)] AS dtw FROM dp WHERE k = n * n),
         |l1_ AS (
         |  SELECT CAST(list_sum(list_transform(range(1, CAST(n AS INT) + 1),
         |    i -> abs(a[i] - b[i]))) AS BIGINT) AS l1
         |  FROM ser)
         |SELECT f.n AS n_months, CAST(f.dtw AS BIGINT) AS dtw_distance,
         |       l.l1 AS l1_distance,
         |       round(CAST(f.dtw AS DOUBLE) / CAST(f.n AS DOUBLE), 6)
         |         AS dtw_per_month,
         |       round(CAST(f.dtw AS DOUBLE) / CAST(l.l1 AS DOUBLE), 6)
         |         AS dtw_l1_ratio
         |FROM fin f CROSS JOIN l1_ l""".stripMargin,
    "w_bollinger_bands" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |win AS (
         |  SELECT day, x,
         |         CAST(count(*) OVER w AS BIGINT) AS cnt,
         |         CAST(sum(x) OVER w AS HUGEINT) AS sx,
         |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w
         |           AS sxx
         |  FROM daily
         |  WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING
         |               AND CURRENT ROW)),
         |bands AS (
         |  SELECT day, x,
         |         CAST((20 * sxx - sx * sx) // 1000000000000 AS BIGINT)
         |           AS nv_hi,
         |         CAST((20 * sxx - sx * sx) % 1000000000000 AS BIGINT)
         |           AS nv_lo,
         |         CAST((sx * 1000000) // 20 AS BIGINT) AS mean_mu
         |  FROM win WHERE cnt = 20),
         |z_ AS (
         |  SELECT day, x, mean_mu,
         |         sqrt(CAST(nv_hi AS DOUBLE) * 1.0e12
         |           + CAST(nv_lo AS DOUBLE)) / 20.0 AS sigma
         |  FROM bands),
         |zz AS (
         |  SELECT day, x, mean_mu, sigma,
         |         (CAST(x AS DOUBLE) - CAST(mean_mu AS DOUBLE) / 1.0e6)
         |           / CASE WHEN sigma > 0.0 THEN sigma ELSE 1.0 END AS z
         |  FROM z_)
         |SELECT day, x AS rev_cents, mean_mu AS mean_microcents,
         |       round(z, 6) AS z_score,
         |       CASE WHEN z > 0.0 THEN 'above' ELSE 'below' END AS side
         |FROM zz WHERE abs(z) > 2.0 AND sigma > 0.0
         |ORDER BY day""".stripMargin,
    "w_rsi_wilder" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |dl AS (
         |  SELECT day, x, lag(x) OVER (ORDER BY day) AS xl
         |  FROM daily QUALIFY xl IS NOT NULL),
         |gl AS (
         |  SELECT CAST(year(day) AS BIGINT) AS yr, day,
         |         CAST(greatest(x - xl, 0) AS DOUBLE) AS g,
         |         CAST(greatest(xl - x, 0) AS DOUBLE) AS l
         |  FROM dl),
         |folded AS (
         |  SELECT yr, CAST(count(*) AS BIGINT) AS n_days,
         |         list_reduce(
         |           list_prepend([0.0, 0.0, 0.0, 0.0, 50.0],
         |             list([g, l, 0.0, 0.0, 0.0] ORDER BY day)),
         |           (st, q) -> [
         |             (13.0 * st[1] + q[1]) / 14.0,
         |             (13.0 * st[2] + q[2]) / 14.0,
         |             st[3] + CASE WHEN (13.0 * st[2] + q[2]) / 14.0 > 0.0
         |               AND 100.0 - 100.0 / (1.0
         |                 + ((13.0 * st[1] + q[1]) / 14.0)
         |                 / ((13.0 * st[2] + q[2]) / 14.0)) > 70.0
         |               OR (13.0 * st[2] + q[2]) / 14.0 <= 0.0
         |               THEN 1.0 ELSE 0.0 END,
         |             st[4] + CASE WHEN (13.0 * st[2] + q[2]) / 14.0 > 0.0
         |               AND 100.0 - 100.0 / (1.0
         |                 + ((13.0 * st[1] + q[1]) / 14.0)
         |                 / ((13.0 * st[2] + q[2]) / 14.0)) < 30.0
         |               THEN 1.0 ELSE 0.0 END,
         |             CASE WHEN (13.0 * st[2] + q[2]) / 14.0 > 0.0
         |               THEN 100.0 - 100.0 / (1.0
         |                 + ((13.0 * st[1] + q[1]) / 14.0)
         |                 / ((13.0 * st[2] + q[2]) / 14.0))
         |               ELSE 100.0 END]) AS st
         |  FROM gl GROUP BY yr)
         |SELECT yr AS year, n_days,
         |       round(st[5], 6) AS rsi_final,
         |       CAST(st[3] AS BIGINT) AS overbought_days,
         |       CAST(st[4] AS BIGINT) AS oversold_days
         |FROM folded ORDER BY year""".stripMargin,
    "w_adf_test" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |dl AS (
         |  SELECT day, y, lag(y) OVER (ORDER BY day) AS yl
         |  FROM daily QUALIFY yl IS NOT NULL),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |         CAST(count(*) AS DOUBLE) AS n,
         |         CAST(CAST(sum(yl) AS HUGEINT) AS DOUBLE) AS sx,
         |         CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
         |         CAST(sum(CAST(yl AS HUGEINT) * CAST(yl AS HUGEINT))
         |           // 1000000 AS BIGINT) * 1.0e6 AS sxx,
         |         CAST(sum(CAST(y AS HUGEINT) * CAST(yl AS HUGEINT))
         |           // 1000000 AS BIGINT) * 1.0e6 AS sxy
         |  FROM dl),
         |fit AS (
         |  SELECT m, n, sx,
         |         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         |         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
         |           / n AS a,
         |         sxx - sx * sx / n AS sxx_c
         |  FROM mo),
         |rss_ AS (
         |  SELECT f.m, f.b, f.sxx_c,
         |         (CAST(CAST(sum(CAST(floor((CAST(dl.y AS DOUBLE) - f.a
         |             - f.b * CAST(dl.yl AS DOUBLE)) * 1000.0) AS HUGEINT)
         |           * CAST(floor((CAST(dl.y AS DOUBLE) - f.a
         |             - f.b * CAST(dl.yl AS DOUBLE)) * 1000.0) AS HUGEINT))
         |           // 1000000000000 AS BIGINT) AS DOUBLE) * 1.0e12
         |           + CAST(CAST(sum(CAST(floor((CAST(dl.y AS DOUBLE) - f.a
         |             - f.b * CAST(dl.yl AS DOUBLE)) * 1000.0) AS HUGEINT)
         |           * CAST(floor((CAST(dl.y AS DOUBLE) - f.a
         |             - f.b * CAST(dl.yl AS DOUBLE)) * 1000.0) AS HUGEINT))
         |           % 1000000000000 AS BIGINT) AS DOUBLE)) / 1.0e6 AS rss
         |  FROM dl CROSS JOIN fit f
         |  GROUP BY f.m, f.b, f.sxx_c),
         |t_ AS (
         |  SELECT m, b,
         |         CASE WHEN rss > 0.0 THEN (b - 1.0)
         |           / sqrt((rss / CAST(m - 2 AS DOUBLE)) / sxx_c)
         |         ELSE 0.0 END AS t_df
         |  FROM rss_)
         |SELECT m AS n_obs, round(b, 6) AS ar1_coef,
         |       round(t_df, 6) AS t_stat,
         |       CASE WHEN t_df < -2.86 THEN 'stationary'
         |            ELSE 'unit_root' END AS verdict
         |FROM t_""".stripMargin,
    "w_spectral_entropy" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS m
         |  FROM orders GROUP BY 1),
         |idx AS (
         |  SELECT m, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT)
         |           AS t
         |  FROM daily),
         |n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(m) AS BIGINT) AS sm
         |  FROM daily),
         |mu AS (SELECT n, sm::DOUBLE / n::DOUBLE AS mu FROM n),
         |freq AS (
         |  SELECT unnest(generate_series(1, CAST(least(512, (n - 1) // 2)
         |           AS BIGINT))) AS k, n, mu
         |  FROM mu),
         |terms AS (
         |  SELECT f.k, f.n, i.t,
         |         (i.m::DOUBLE - f.mu)
         |           * cos(2.0 * pi() * f.k::DOUBLE * i.t::DOUBLE
         |               / f.n::DOUBLE) AS c,
         |         (i.m::DOUBLE - f.mu)
         |           * sin(2.0 * pi() * f.k::DOUBLE * i.t::DOUBLE
         |               / f.n::DOUBLE) AS s2
         |  FROM idx i CROSS JOIN freq f),
         |pw AS (
         |  SELECT k, n,
         |         (list_sum(list(c ORDER BY t)) * list_sum(list(c ORDER BY t))
         |          + list_sum(list(s2 ORDER BY t))
         |            * list_sum(list(s2 ORDER BY t))) / n::DOUBLE AS p
         |  FROM terms GROUP BY k, n),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS kk,
         |         list_sum(list(p ORDER BY k)) AS tp
         |  FROM pw),
         |hq AS (
         |  SELECT t.kk,
         |         CASE WHEN p / t.tp > 0.0
         |              THEN CAST(floor(-(p / t.tp) * ln(p / t.tp) * 1.0e9)
         |                AS BIGINT)
         |              ELSE 0 END AS hq,
         |         p / t.tp AS sh
         |  FROM pw CROSS JOIN tot t),
         |agg AS (
         |  SELECT kk, CAST(sum(hq) AS BIGINT) AS hqs,
         |         max(sh) AS top_share
         |  FROM hq GROUP BY kk)
         |SELECT kk AS n_freqs,
         |       round(CAST(hqs AS DOUBLE) / 1.0e9, 6)
         |         AS spectral_entropy_nats,
         |       round(CAST(hqs AS DOUBLE) / 1.0e9
         |         / ln(CAST(kk AS DOUBLE)), 6) AS entropy_norm,
         |       round(top_share, 6) AS top_share,
         |       CASE WHEN CAST(hqs AS DOUBLE) / 1.0e9
         |              / ln(CAST(kk AS DOUBLE)) < 0.5 THEN 'concentrated'
         |            WHEN CAST(hqs AS DOUBLE) / 1.0e9
         |              / ln(CAST(kk AS DOUBLE)) < 0.9 THEN 'mixed'
         |            ELSE 'broadband' END AS verdict
         |FROM agg""".stripMargin,
    "w_ewma_control" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST((CAST(sum(x) AS HUGEINT) * 1000000) // count(*)
         |           AS BIGINT) AS mu_mu,
         |         CAST((CAST(count(*) AS HUGEINT)
         |             * sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
         |             - CAST(sum(x) AS HUGEINT) * CAST(sum(x) AS HUGEINT))
         |           // 1000000000000 AS BIGINT) AS nv_hi,
         |         CAST((CAST(count(*) AS HUGEINT)
         |             * sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
         |             - CAST(sum(x) AS HUGEINT) * CAST(sum(x) AS HUGEINT))
         |           % 1000000000000 AS BIGINT) AS nv_lo
         |  FROM daily),
         |st AS (
         |  SELECT n, mu_mu,
         |         CAST(mu_mu AS DOUBLE) / 1.0e6 AS mu,
         |         sqrt((CAST(nv_hi AS DOUBLE) * 1.0e12
         |             + CAST(nv_lo AS DOUBLE))
         |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
         |           AS sigma
         |  FROM mo),
         |folded AS (
         |  SELECT s.n, s.mu_mu, s.sigma,
         |         list_reduce(
         |           list_prepend([s.mu, 1.0, 0.0, -1.0, 0.0],
         |             list([CAST(d.x AS DOUBLE), 0.0, 0.0, 0.0, 0.0]
         |               ORDER BY d.day)),
         |           (st, q) -> [
         |             0.2 * q[1] + 0.8 * st[1],
         |             st[2] * 0.64,
         |             st[3] + CASE WHEN abs(0.2 * q[1] + 0.8 * st[1] - s.mu)
         |               > 3.0 * s.sigma * sqrt(0.2 / 1.8
         |                 * (1.0 - st[2] * 0.64)) THEN 1.0 ELSE 0.0 END,
         |             CASE WHEN st[4] < 0.0
         |               AND abs(0.2 * q[1] + 0.8 * st[1] - s.mu)
         |               > 3.0 * s.sigma * sqrt(0.2 / 1.8
         |                 * (1.0 - st[2] * 0.64))
         |               THEN st[5] + 1.0 ELSE st[4] END,
         |             st[5] + 1.0]) AS fs
         |  FROM st s CROSS JOIN daily d
         |  GROUP BY s.n, s.mu_mu, s.sigma, s.mu)
         |SELECT n AS n_days, mu_mu AS mean_microcents,
         |       CAST(floor(sigma * 1000.0) AS BIGINT) AS sigma_millicents,
         |       CAST(fs[3] AS BIGINT) AS n_ooc_days,
         |       CAST(fs[4] AS BIGINT) AS first_ooc_t,
         |       CAST(floor(fs[1] * 1000.0) AS BIGINT)
         |         AS ewma_final_millicents
         |FROM folded""".stripMargin)
}
