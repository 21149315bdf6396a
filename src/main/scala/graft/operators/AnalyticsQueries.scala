package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Barrier, Grain, QueryModule}
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Statistics, sketches and hypothesis tests: rank correlations,
  * distribution and paired tests, heavy hitters and frequency
  * sketches (count-min, HLL, Misra-Gries), resampling inference,
  * monitoring and sequential tests.
  */
object AnalyticsQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("a_")

  // AnalyticsQueries operator corpus over the TPC-H-ish testdata — the
  // engine surface beyond the reference's own shapes (SURVEY §2.3
  // note: expose Spark's full join/agg/window/set-op surface).
  //
  // Scale design notes (100 TB):
  //  - money sums go through DECIMAL(18,2): exact, order-independent
  //    → safe under any shuffle/AQE re-partitioning AND oracle-stable;
  //  - small dims (region/nation/part at fact-relative scale) are
  //    `broadcast()` so fact tables never shuffle for those joins;
  //  - aggregations are partial (map-side combine) by construction of
  //    groupBy.agg; windows partition by bounded keys.

  // Approximate median (quantile sketch) with the same contract as
  // a_approx_distinct: sketches differ per engine, so the
  // cross-engine-checkable columns are the EXACT median plus a
  // tolerance boolean on each engine's own sketch. Prices are
  // converted to integer cents first — linear interpolation between
  // ints lands on .0/.5 exactly, so the exact median is bit-stable
  // across engines.
  val aApproxPercentile: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(cents, 0.5D)").as("exact_median_cents"),
        expr("approx_percentile(cents, 0.5D, 1000)").as("am"))
      .select(col("l_returnflag"),
        col("exact_median_cents"),
        (abs(col("am") - col("exact_median_cents")).cast("double") /
          col("exact_median_cents") <= lit(0.05)).as("median_within_5pct"))
      .orderBy(col("l_returnflag"))

  // GROUPING SETS — the explicit-combination sibling of CUBE/ROLLUP
  // (both elsewhere in the surface), with a grouping() flag so
  // subtotal rows are distinguishable from genuine NULL keys.
  val aGroupingSets: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        grouping(col("o_orderstatus")).cast("long").as("is_status_total"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  // Salted two-phase aggregation exposed in the checked surface:
  // result must equal the plain groupBy sum (the oracle is the
  // UNSALTED SQL), proving the skew-mitigation path is exact. Sum
  // runs in DECIMAL(18,2), so the three-phase reduction (partial →
  // salt-group → final) is order-independent and hash-stable.
  val aSaltedRevenue: Q = (s, dir) =>
    Skew.saltedSum(
      t(s, dir, "lineitem").withColumn("__dec", dec(col("l_extendedprice"))),
      Seq("l_returnflag"), col("__dec"), n = 8, saltSrc = col("l_orderkey"),
      as = "revenue")
      .select(col("l_returnflag"), col("revenue").cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))

  // HAVING shape: post-aggregation predicate (heavy customers by
  // order count), re-aggregated per segment — filter-on-agg is its
  // own plan form (no pushdown past the aggregate is possible).
  val aHavingHeavyCustomers: Q = (s, dir) => {
    val heavy = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 30)
    t(s, dir, "customer")
      .join(heavy, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_heavy"),
        sum(col("n_orders")).as("total_orders"))
      .orderBy(col("c_mktsegment"))
  }

  // min_by / max_by argmin-argmax aggregates, made deterministic by
  // ordering on a UNIQUE composite (value, key) struct — bare
  // min_by/max_by tie-breaking is unspecified in both engines, so
  // the composite is the only hash-stable form.
  val aMinmaxBy: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_order"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("o_orderpriority"))

  // Weighted statistics from exact decimal sums (weights=quantity,
  // x=discount): weighted mean and weighted variance with the
  // identical double formula on both engines — same determinism
  // pattern as a_corr_regr.
  val aWeightedStats: Q = (s, dir) => {
    val wq = dec(col("l_quantity")); val x = dec(col("l_discount"))
    val sw = d(col("sw")); val swx = d(col("swx")); val swx2 = d(col("swx2"))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(wq).as("sw"), sum(wq * x).as("swx"),
        // narrow the first product so the triple stays inside both
        // engines' 38-digit decimal cap (w·x ≤ 5000.0000 — exact at
        // scale 4)
        sum((wq * x).cast(DecimalType(18, 4)) * x).as("swx2"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        (swx / sw).as("w_mean_disc"),
        (swx2 / sw - (swx / sw) * (swx / sw)).as("w_var_disc"))
      .orderBy(col("l_returnflag"))
  }

  // Bloom-filter semi-join pruning — the sketch behind runtime filter
  // pushdown at 100 TB: build a bloom over the orders' customer keys
  // (driver-built, broadcast — exactly what AQE's InjectRuntimeFilter
  // ships to the fact scan), probe every customer plus a shifted
  // guaranteed-non-member key set. Contract columns (like the HLL and
  // MinHash entries): zero false negatives (a bloom guarantee) and a
  // shifted-probe false-positive rate within 5× the configured 1% fpp.
  val aBloomPrune: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
    val expected = math.max(orders.count(), 1000L)
    // n bits for the 1% target fpp: m = -n·ln(p)/ln(2)² (the same
    // sizing BloomFilter.create(n, fpp) uses)
    val numBits = math.ceil(
      -expected * math.log(0.01) / (math.log(2) * math.log(2))).toLong
    // native BloomFilterAggregate / BloomFilterMightContain expressions
    // (executor-built two-phase aggregate + codegen'd probe) — the
    // exact pair AQE's runtime-filter injection plans at 100 TB;
    // replaces a per-row Scala UDF probing a driver-built sketch.
    // They are not in the public FunctionRegistry, so they go through
    // the ColumnBridge like the repo's own custom expressions.
    // might_contain requires a CONSTANT bloom input, so the sketch
    // (bounded: numBits/8 bytes, ~18 KB here) is collected once and
    // inlined as a binary literal — exactly what the runtime-filter
    // rule does when it broadcasts the build-side sketch to the scan.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloomBytes = orders.agg(
      ColumnBridge.column(new BloomFilterAggregate(
        ColumnBridge.expression(col("o_custkey")),
        Literal(expected), Literal(numBits)).toAggregateExpression())
        .as("bloom")).head().getAs[Array[Byte]](0)
    def mightContain(v: Column): Column =
      ColumnBridge.column(BloomFilterMightContain(
        Literal(bloomBytes), ColumnBridge.expression(v)))
    val actual = orders.select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("has_orders", lit(true))
    t(s, dir, "customer")
      .join(actual, Seq("c_custkey"), "left_outer")
      .withColumn("has_orders", coalesce(col("has_orders"), lit(false)))
      .withColumn("pos", mightContain(col("c_custkey")))
      .withColumn("shifted_pos", mightContain(col("c_custkey") + 10000000L))
      .agg(count(lit(1)).as("n_customers"),
        count(when(col("has_orders"), 1)).as("n_with_orders"),
        count(when(col("has_orders") && !col("pos"), 1)).as("fn"),
        count(when(col("shifted_pos"), 1)).as("shifted_fp"))
      .select(col("n_customers"), col("n_with_orders"),
        (col("fn") === 0).as("no_false_negatives"),
        (col("shifted_fp").cast("double") <=
          col("n_customers").cast("double") * 0.05).as("fp_rate_ok"))
  }

  // Approximate aggregates (HLL++): the 100 TB answer to exact
  // countDistinct's full shuffle; the HLL++ estimate itself is
  // engine-specific, so the oracle-checked columns are the exact
  // counts plus within-5%-tolerance booleans (both engines' HLLs at
  // rsd=0.01 sit far inside 5%); absolute error additionally
  // tolerance-tested in ApproxSpec
  val aApproxDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"))
      // sketch values are engine-specific; the cross-engine-checkable
      // contract is the tolerance: |approx - exact| / exact <= 5%
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders")
          <= 0.05).as("orders_within_5pct"),
        (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts")
          <= 0.05).as("parts_within_5pct"))
      .orderBy(col("l_returnflag"))

  // Correlation / linear-regression aggregates computed from EXACT
  // decimal moment sums (n, Σx, Σy, Σxy, Σx², Σy²) — the built-in
  // corr/regr_* accumulate doubles in partition order and would not
  // hash-match any oracle; moments in DECIMAL are order-independent
  // under any shuffle, and the final formulas are single double
  // expressions of exact inputs (bit-identical across engines given
  // the same parenthesization). Same two-phase shape a 1000-executor
  // agg takes: partial moments map-side, one reduce.
  val aCorrRegr: Q = (s, dir) => {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_discount"))
    val n = d(col("n")); val sx = d(col("sx")); val sy = d(col("sy"))
    val sxy = d(col("sxy")); val sxx = d(col("sxx")); val syy = d(col("syy"))
    val cov = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        (cov / (sqrt(varx) * sqrt(vary))).as("corr_qty_disc"),
        (cov / varx).as("slope"),
        ((sy - (cov / varx) * sx) / n).as("intercept"),
        ((cov * cov) / (varx * vary)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  // Ordered string aggregation (listagg shape) — collect_set +
  // sort_array + concat_ws keeps the result order-independent under
  // any partitioning (a bare listagg would be shuffle-order-dependent)
  val aListaggStatuses: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_statuses"))
      .orderBy(col("o_orderpriority"))

  // Bitwise + boolean aggregate family (bit_and/or/xor, bool_and/or,
  // count_if) — all order-independent reductions
  val aBoolBitSuite: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("bit_and(user_id)").as("uid_and"),
        expr("bit_or(user_id)").as("uid_or"),
        expr("bit_xor(user_id)").as("uid_xor"),
        expr("bool_and(value >= 0)").as("all_nonneg"),
        expr("bool_or(value > 400)").as("any_large"),
        expr("count_if(value < 1)").as("n_small"))
      .orderBy(col("event_type"))

  // Shannon entropy of the priority mix per order status —
  // deterministic float reduction: per-group counts are exact longs,
  // sorted into a list, and the -Σ p·ln p fold runs over that sorted
  // list with a fixed evaluation order (aggregate HOF), so the double
  // result is bit-stable under any shuffle/partitioning — the pattern
  // for ANY order-sensitive float aggregate at scale (a plain
  // sum(p*ln(p)) would hash differently run to run).
  val aEntropyPriority: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_groups"),
        sort_array(collect_list(col("c"))).as("cs"))
      .withColumn("entropy",
        expr("aggregate(cs, 0D, (a, x) -> a - (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))"))
      .select(col("o_orderstatus"), col("n"), col("n_groups"), col("entropy"))
      .orderBy(col("o_orderstatus"))

  // Histogram via width_bucket over a fixed [0, 500k)×25 grid —
  // exact-integer bucket keys (the double division lands on exact
  // 20000-steps, identical IEEE both engines), counts + per-bucket
  // decimal revenue
  val aWidthBucket: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumn("bkt", expr("width_bucket(o_totalprice, 0D, 500000D, 25)"))
      .groupBy(col("bkt"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("bucket_revenue"))
      .orderBy(col("bkt"))

  /** The custom [[graft.functions.SimHashAgg]] typed Aggregator in
    * the checked surface: per-language corpus-level simhash over the
    * portable md5 token hashes. reduce/merge are associative and
    * commutative (64 signed bit counters), so Spark runs it
    * partial-aggregated — the shuffle carries one 64-int buffer per
    * partition-group, never the token stream. The oracle replays the
    * per-bit majority in SQL.
    */
  val aSimhashAgg: Q = (s, dir) => {
    val agg = udaf(graft.functions.SimHashAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    docs(s, dir)
      .select(col("lang"), explode(TF.md5TokenHashes(col("text"))).as("h"))
      .groupBy(col("lang"))
      .agg(agg(col("h")).as("corpus_simhash"), count(lit(1)).as("n_hashes"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // a_heavy_hitters — Misra-Gries frequent-tokens sketch (k=32) with
  // its exactness CONTRACT as the oracle surface: the sketch content
  // is merge-order-dependent, but the MG theorem guarantees — every
  // token with count > N/(k+1) is present, estimates never exceed
  // truth, and the error is ≤ N/(k+1) — hold under ANY merge order,
  // so the booleans are deterministic (the a_approx_distinct
  // pattern). The shuffle carries one ≤32-entry map per partition.
  // ---------------------------------------------------------------
  val aHeavyHitters: Q = (s, dir) => {
    val k = 32
    val mg = udaf(new graft.functions.MisraGries(k))
    val tok = docs(s, dir).select(explode(TF.tokens(col("text"))).as("token"))
    val sketch = tok.agg(mg(col("token")).as("sketch"), count(lit(1)).as("n"))
    val est = coalesce(element_at(col("sketch"), col("token")), lit(0L))
    tok.groupBy(col("token")).agg(count(lit(1)).as("exact_c"))
      .crossJoin(broadcast(sketch))
      .filter(col("exact_c") * (k + 1) > col("n"))
      .select(col("token"), col("exact_c"),
        map_contains_key(col("sketch"), col("token")).as("in_sketch"),
        (est <= col("exact_c")).as("est_le_exact"),
        ((col("exact_c") - est) * (k + 1) <= col("n")).as("err_bound_ok"))
      .orderBy(col("token"))
  }

  // Rank statistics, frequency sketches, collocation
  // mining, and data-layout clustering — the remaining pieces of the
  // large-corpus analytics surface. Same contract as every other
  // operator file: each query has a full-replay DuckDB oracle, exact
  // integer/decimal arithmetic everywhere a reduction is
  // order-sensitive, and transcendental outputs round to 6 dp (repo
  // float policy, COVERAGE.md).
  //
  // Reference behavior basis: the reference's dashboard computes only
  // plain aggregates (streamlit_app/dashboard.py:60-160); these are
  // the standard corpus-statistics supersets a training-data pipeline
  // layers on the same tables.
  //
  // Scale note on unpartitioned windows: every `Window.orderBy(day)`
  // in this file runs over a DAILY (or monthly) pre-aggregate — one
  // row per calendar unit, bounded at any fact scale — so the
  // single-partition WindowExec is over thousands of rows, never the
  // fact table. Per-row global orderings (ranks/cumsums over docs or
  // orders) go through `Ranking` two-phase instead.

  // ---------------------------------------------------------------
  // a_spearman — Spearman rank correlation (quantity vs price per
  // return flag) with average-rank tie handling, computed from EXACT
  // integer moments: the average rank of a tie group spanning
  // [a, a+c-1] is a+(c-1)/2, so DOUBLED ranks 2a+c-1 are integers and
  // Pearson is scale-invariant — every sum up to the final
  // sqrt/divide is exact (decimal(38,0) for the cross products,
  // HUGEINT in the oracle), making the correlation bit-stable under
  // any partitioning. Scale: one rank-window sort per variable per
  // flag partition, then a 3-row aggregate.
  // ---------------------------------------------------------------
  val aSpearman: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    def dblRank(v: String): Column =
      // rank() is IntegerType: widen to long BEFORE the arithmetic
      // (2·rank overflows int past ~1e9 rows per partition)
      (rank().over(Window.partitionBy(col("flag")).orderBy(col(v)))
        .cast("long") * 2 +
        count(lit(1)).over(Window.partitionBy(col("flag"), col(v))) - 1)
    val ranked = li.select(col("flag"), dblRank("x").as("rx"), dblRank("y").as("ry"))
    def dec38(c: Column): Column = c.cast("decimal(38,0)")
    // decimal BEFORE multiply+sum: rx·ry ≈ 4n² fits a long, but the
    // SUM is ~4n³ — overflows long past ~1.3M rows per flag (the sf1
    // probe caught exactly this; DuckDB's sum(BIGINT) auto-promotes
    // to HUGEINT, Spark's sum(long) stays long)
    val g = ranked.groupBy(col("flag")).agg(
      dec38(count(lit(1))).as("n"),
      sum(dec38(col("rx"))).cast("decimal(38,0)").as("sx"),
      sum(dec38(col("ry"))).cast("decimal(38,0)").as("sy"),
      sum(dec38(col("rx")) * dec38(col("ry"))).cast("decimal(38,0)").as("sxy"),
      sum(dec38(col("rx")) * dec38(col("rx"))).cast("decimal(38,0)").as("sxx"),
      sum(dec38(col("ry")) * dec38(col("ry"))).cast("decimal(38,0)").as("syy"))
    g.select(col("flag"), col("n").cast("long").as("n"),
        round(d(col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(d(col("n") * col("sxx") - col("sx") * col("sx"))) *
           sqrt(d(col("n") * col("syy") - col("sy") * col("sy")))), 6)
          .as("spearman_rho"))
      .orderBy(col("flag"))
  }

  // ---------------------------------------------------------------
  // a_countmin — count-min sketch (depth 4 × width 64, md5-derived
  // row hashes) over the corpus token stream, checked on the top-10
  // exact terms. The sketch build is one groupBy over (row, bucket)
  // — 256 cells regardless of corpus size, perfect map-side combine;
  // probes broadcast. est ≥ exact is a hard CMS property (hashes
  // only ever ADD collisions), so the oracle pins the contract
  // column TRUE as well as replaying the estimates exactly.
  // ---------------------------------------------------------------
  private val cmDepth = 4

  private val cmWidth = 64L

  private def cmBucket(j: Int, term: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"$j:"), term)), 1, 15), 16, 10)
      .cast("long"), lit(cmWidth))

  val aCountMin: Q = (s, dir) => {
    // aggregate the token stream to the (distinct-term, count) vocab
    // FIRST, then hash each distinct term once and add its count to
    // the sketch cells — the resulting sketch is identical (cell
    // value = Σ counts of terms hashing there) but the 4× md5 work
    // drops from every token occurrence to every vocab entry
    // (~50× fewer hashes on natural-language token distributions)
    val vocab = docs(s, dir).select(explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("exact_c"))
      .transform(Barrier.materialize) // consumed by the sketch, top-k and probe
    val sketch = vocab
      .select(col("exact_c"),
        posexplode(array((0 until cmDepth).map(j => cmBucket(j, col("term"))): _*)))
      .groupBy(col("pos").as("j"), col("col").as("bucket"))
      .agg(sum(col("exact_c")).as("c"))
    val top = vocab.orderBy(desc("exact_c"), col("term")).limit(10)
    top
      .select(col("term"), col("exact_c"),
        posexplode(array((0 until cmDepth).map(j => cmBucket(j, col("term"))): _*)))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "bucket")
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("term"), col("exact_c"))
      .agg(min(col("c")).as("cm_est"))
      .select(col("term"), col("exact_c"), col("cm_est"),
        (col("cm_est") >= col("exact_c")).as("est_ge_exact"))
      .orderBy(desc("exact_c"), col("term"))
  }

  // ---------------------------------------------------------------
  // a_ks_drift — two-sample Kolmogorov-Smirnov statistic between
  // the 1996 and 1999 order-value distributions (the standard
  // distribution-drift monitor). Per distinct value the two ECDFs
  // are cumulative EXACT integer counts; D = max |c1/n1 - c2/n2| is
  // a max over per-row double ratios — order-free, so deterministic
  // under any partitioning. One sort-window over distinct values.
  // ---------------------------------------------------------------
  val aKsDrift: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_totalprice").as("v"))
      .filter(col("yr").isin(1996, 1999))
    val perV = o.groupBy(col("v")).agg(
      sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("d1"),
      sum(when(col("yr") === 1999, 1L).otherwise(0L)).as("d2"))
    // ECDFs via two-phase distributed running sums ([[Ranking]]):
    // distinct order values ≈ #orders, so the former global
    // Window.orderBy(v) funneled the whole table through ONE sorted
    // reducer — range partition + per-partition carries keep every
    // task at ~1/P of the data
    Ranking.withGlobalCumSums(perV, Seq("d1" -> "c1", "d2" -> "c2"), col("v"))
      .crossJoin(broadcast(o.agg(
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n1"),
        sum(when(col("yr") === 1999, 1L).otherwise(0L)).as("n2"))))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(d(col("c1")) / d(col("n1")) - d(col("c2")) / d(col("n2"))))
          .as("ks_stat"))
  }

  // ---------------------------------------------------------------
  // a_gini_revenue — Gini concentration of per-customer revenue:
  // G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over value-ranked
  // customers. Σ i·xᵢ is permutation-invariant within equal-value
  // ties (the i's sum to the same total), so the row_number ranking
  // is deterministic where it matters; every sum is exact decimal
  // and only the final quotient is floating.
  // ---------------------------------------------------------------
  val aGiniRevenue: Q = (s, dir) => {
    val per = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("x"))
    // value rank via two-phase distributed ranking ([[Ranking]]):
    // the former partition-less row_number window sorted every
    // per-customer aggregate on ONE task
    val ranked = Ranking.withGlobalRank(per, "i", col("x"), col("o_custkey"))
    // 6-dp rounding on the ratio: numerator/denominator are exact
    // SCALE-2 decimals that pass 2^53 around sf0.1 — same
    // two-roundings-vs-one decimal→double hazard as a_autocorr
    // (scale-0 casts like a_spearman's are safe; scaled ones are
    // not once the unscaled value exceeds 2^53)
    ranked.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n").cast("long").as("n_customers"),
        col("sx").cast("double").as("total_revenue"),
        round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
  }

  // ---------------------------------------------------------------
  // a_benford — first-significant-digit profile of order values vs
  // Benford's law (a standard data-quality / fraud screen): exact
  // per-digit counts, the observed share as one int-ratio double,
  // and the expected log10(1+1/d) share through the 6-dp
  // transcendental rounding policy.
  // ---------------------------------------------------------------
  val aBenford: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(t(s, dir, "orders").agg(count(lit(1)).as("n_tot"))))
      .select(col("digit"), col("n"),
        (d(col("n")) / d(col("n_tot"))).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / d(col("digit"))), 6).as("benford_share"),
        round(abs(d(col("n")) / d(col("n_tot")) -
          log10(lit(1.0) + lit(1.0) / d(col("digit")))), 6).as("abs_dev"))
      .orderBy(col("digit"))

  // ---------------------------------------------------------------
  // a_mode_status — exact mode (most frequent value, ties to the
  // smallest) of order priority per status: two-level count then a
  // 1-row-per-group ranked cut. The deterministic replacement for
  // an approximate heavy-hitter when the domain is small.
  // ---------------------------------------------------------------
  val aModeStatus: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("o_orderstatus"))
        .orderBy(desc("n"), col("o_orderpriority"))))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"))
      .orderBy(col("o_orderstatus"))

  // ---------------------------------------------------------------
  // a_autocorr — lag-1 autocorrelation of daily revenue: the
  // a_corr_regr recipe (exact decimal moments → named double
  // intermediates → one shared formula text) applied to the
  // (xₜ, xₜ₋₁) pairs a lag window produces. Detects day-to-day
  // momentum/mean-reversion; everything up to the final formula is
  // exact, the formula itself is fixed-order IEEE.
  // ---------------------------------------------------------------
  val aAutocorr: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("x"))
    val paired = daily
      .withColumn("y", lag(col("x"), 1).over(Grain.bounded(col("day"))))
      .filter(col("y").isNotNull)
    val m = paired.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // 6-dp rounding: the ΣXY-scale moments exceed 2^53, and a
    // >2^53 decimal converts to double with one rounding in the JVM
    // (BigDecimal.doubleValue, correctly rounded) but two in DuckDB
    // (int128→double, then /10^scale) — observed 1-ulp divergence at
    // sf0.01. Same policy bucket as the transcendental outputs.
    m.select(col("n").cast("long").as("n_pairs"),
      round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
        (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
         sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
        .as("autocorr_lag1"))
  }

  // ---------------------------------------------------------------
  // a_skew_metrics — join-key skew diagnostic (the number you check
  // BEFORE picking salting / AQE skew-join): per-key row counts of
  // the would-be join key, min/max, and max-over-average skew
  // factor. Two exact aggregates; the per-key count map-side
  // combines so the shuffle is one row per key.
  // ---------------------------------------------------------------
  val aSkewMetrics: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).cast("long").as("n_rows"),
        min(col("c")).as("min_rows"), max(col("c")).as("max_rows"))
      .select(col("n_keys"), col("n_rows"), col("min_rows"), col("max_rows"),
        (d(col("max_rows")) * d(col("n_keys")) / d(col("n_rows")))
          .as("skew_factor"))

  // ---------------------------------------------------------------
  // a_iqr_outliers — Tukey-fence outlier counts per order status,
  // made float-proof by working in integer CENTS: quartile positions
  // (n-1)·{¼,¾} have quarter fractions, so interpolating between
  // integer neighbors yields values exactly representable in a
  // double — ANY correctly-implemented interpolation formula (Spark
  // percentile vs DuckDB quantile_cont) produces the identical bits,
  // and the fences (±1.5·IQR = eighth-integers) compare exactly.
  // One grouped sketch-free percentile + one broadcast-back pass.
  // ---------------------------------------------------------------
  val aIqrOutliers: Q = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_orderstatus").as("st"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val q = o.groupBy(col("st")).agg(
      expr("percentile(cents, 0.25)").as("q1"),
      expr("percentile(cents, 0.75)").as("q3"),
      count(lit(1)).as("n"))
    o.join(broadcast(q), Seq("st"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      .groupBy(col("st"))
      .agg(max(col("n")).as("n"),
        (max(col("q1")) / 100.0).as("q1_price"),
        (max(col("q3")) / 100.0).as("q3_price"),
        sum(when(col("cents") < col("lo") || col("cents") > col("hi"), 1L)
          .otherwise(0L)).cast("long").as("n_outliers"))
      .orderBy(col("st"))
  }

  private val md5Hash60 = (e: String) =>
    s"list_reduce(list_transform(string_split(substr(md5($e), 1, 15), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"

  // ---------------------------------------------------------------
  // a_chi_square — Pearson chi-square independence test of the
  // (lang × source) contingency table, with Cramér's V effect size:
  // the corpus-composition audit ("is language balance uniform
  // across domains, or does some source skew monolingual"). Observed
  // counts and margins are exact integers; each expected count is
  // one fixed-order expression (row·col/N); the χ² statistic folds
  // cell contributions in (lang, source) order — the sorted-fold
  // float policy, ≤ langs·sources values. Scale shape: one count
  // aggregate on the (tiny) pair key, margins re-aggregate from it,
  // everything after is broadcast-scalar arithmetic.
  // ---------------------------------------------------------------
  val aChiSquare: Q = (s, dir) => {
    val cells = docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
      .transform(Barrier.materialize) // consumed by both margins and the fold
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
    cells.join(broadcast(rowT), "lang").join(broadcast(colT), "source")
      .crossJoin(broadcast(n))
      .withColumn("e", d(col("rt")) * d(col("ct")) / d(col("n")))
      .withColumn("contrib",
        (d(col("o")) - col("e")) * (d(col("o")) - col("e")) / col("e"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(expr("aggregate(sort_array(collect_list(struct(lang, source," +
        " contrib))), 0D, (a, x) -> a + x.contrib)").as("chi2"))
      .select(col("n").cast("long").as("n_docs"),
        col("r").cast("long").as("n_langs"),
        col("c").cast("long").as("n_sources"),
        ((col("r") - 1) * (col("c") - 1)).cast("long").as("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") / (d(col("n")) *
          d(least(col("r") - 1, col("c") - 1)))), 6).as("cramers_v"))
  }

  // ---------------------------------------------------------------
  // a_kmv_distinct — bottom-k (KMV / k-minimum-values) distinct
  // sketch per source (Bar-Yossef et al. 2002): keep the k = 8
  // smallest 48-bit md5 token-hashes; the k-th smallest h_k estimates
  // distinct count as (k−1)·2⁴⁸/h_k (exact count when fewer than k
  // survive). The OTHER sketch family next to HLL++
  // (a_approx_distinct) — and unlike HLL, the DuckDB oracle replays
  // it EXACTLY (min-k is order-free), so the estimate hash-matches
  // rather than being boolean-tolerance-checked. 48-bit hashes are
  // deliberate: they embed exactly in the Aggregator's double score
  // (< 2⁵³), so map-side top-k keeps the identical set on any
  // partitioning. Scale shape: the corpus pre-trims map-side to
  // k rows per source (TopKAggBy — never a per-source sort); the
  // exact count rides the same shuffle for the audit columns.
  // ---------------------------------------------------------------
  val aKmvDistinct: Q = (s, dir) => {
    val k = 8
    val toks = docs(s, dir)
      .select(col("source"), explode(array_distinct(TF.tokens(col("text"))))
        .as("tok"))
      .distinct() // one row per (source, token): hash each value once
      .withColumn("h", conv(substring(md5(col("tok")), 1, 12), 16, 10)
        .cast("long"))
    val mink = udaf(new graft.functions.TopKAgg(k))
    toks
      .groupBy(col("source"))
      // smallest k ⇔ top-k of the negated hash (exact: 48-bit < 2⁵³)
      .agg(countDistinct(col("tok")).as("n_distinct_exact"),
        mink((-col("h")).cast("double"), col("h")).as("mins"))
      .select(col("source"), col("n_distinct_exact"),
        size(col("mins")).as("kmv_k"),
        element_at(col("mins"), size(col("mins"))).getField("_2").as("hk"))
      .withColumn("kmv_est",
        when(col("kmv_k") < k, d(col("n_distinct_exact")))
          .otherwise(lit((k - 1).toDouble * math.pow(2.0, 48)) / d(col("hk"))))
      .select(col("source"), col("n_distinct_exact"), col("kmv_k"),
        round(col("kmv_est"), 6).as("kmv_est"),
        round(abs(col("kmv_est") - d(col("n_distinct_exact"))) /
          d(col("n_distinct_exact")), 6).as("rel_err"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // a_psi_drift — population stability index between the first and
  // second half of the event stream (the model-monitoring companion
  // to a_ks_drift: KS tests the max gap, PSI weighs the whole
  // distribution shift the way credit-risk/ML-ops dashboards do).
  // Reference deciles come from EXACT order statistics of the
  // reference period — ranked by the TWO-PHASE global rank (range
  // partition + carries, never a single-partition window), edges =
  // values at ranks floor(i·n/10); both periods then bucket by
  // "count of edges strictly below v" (pure comparisons — no
  // interpolation arithmetic to disagree on). Counts are exact;
  // Laplace-smoothed shares (c+0.5)/(n+5) keep empty buckets
  // finite; per-bucket contribution (p_cur−p_ref)·ln(p_cur/p_ref)
  // rounds to 6 (the ln libm rule). PSI = Σ contrib.
  // ---------------------------------------------------------------
  val aPsiDrift: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) / 2 AS INT))").as("mid"))
    val tagged = ev.crossJoin(broadcast(span))
      .withColumn("period", when(col("day") <= col("mid"), "ref")
        .otherwise(lit("cur")))
      .transform(Barrier.materialize) // consumed by the rank pass and the bucketing
    val ref = tagged.filter(col("period") === "ref")
    val n = ref.count()
    val ranked = Ranking.withGlobalRank(ref, "rk", col("value"), col("event_id"))
    val edges = ranked
      .filter(col("rk").isin((1 to 9).map(i => i.toLong * n / 10): _*))
      .agg(sort_array(collect_set(col("value"))).as("edges"))
    tagged.crossJoin(broadcast(edges))
      .withColumn("bucket",
        (lit(1) + size(filter(col("edges"), e => e < col("value"))))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("period") === "ref", 1L).otherwise(0L)).cast("long")
          .as("n_ref"),
        sum(when(col("period") === "cur", 1L).otherwise(0L)).cast("long")
          .as("n_cur"))
      .crossJoin(broadcast(tagged.groupBy()
        .agg(sum(when(col("period") === "ref", 1L).otherwise(0L)).as("t_ref"),
          sum(when(col("period") === "cur", 1L).otherwise(0L)).as("t_cur"))))
      .withColumn("p_ref", (d(col("n_ref")) + lit(0.5)) / (d(col("t_ref")) + lit(5.0)))
      .withColumn("p_cur", (d(col("n_cur")) + lit(0.5)) / (d(col("t_cur")) + lit(5.0)))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("p_ref"), 6).as("p_ref"), round(col("p_cur"), 6).as("p_cur"),
        round((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")), 6)
          .as("psi_contrib"))
      .orderBy(col("bucket"))
  }

  // Statistical monitoring and curation extensions —
  // Mann–Kendall trend test (Mann 1945; Kendall 1975), Gopher-style
  // document quality rules (Rae et al. 2021 §A1.1), first/last-touch
  // marketing attribution, k-core decomposition (Seidman 1983),
  // deterministic Poisson bootstrap (Chamandy et al. 2012 — the
  // streaming/distributed bootstrap), and MMR diversified retrieval
  // (Carbonell & Goldstein 1998) — all public algorithms re-expressed
  // Spark-first with full-replay DuckDB oracles.
  //
  // Reference behavior basis: the reference's serve tier stops at
  // dashboard scans; these extend the engine's training-data surface
  // (SURVEY extension families) like TrainingData1-5.

  // ---------------------------------------------------------------
  // a_mann_kendall — Mann–Kendall monotone-trend test on daily
  // revenue (the standard nonparametric "is this KPI drifting" test
  // in monitoring stacks): S = Σ_{i<j} sign(x_j − x_i) over the daily
  // series, tie-corrected variance
  //   var S = (n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5)) / 18,
  // z = (S∓1)/√var S (continuity-corrected), trend called at |z| >
  // 1.96. Scale shape: the corpus reduces through the exact-decimal
  // daily aggregate FIRST; the pairwise sign join is days² — bounded
  // by the CALENDAR (2.4k days → 2.9M pairs at every sf), never
  // rows². Signs compare exact decimals; S and both variance terms
  // are exact integers; the only floats are one division, one sqrt.
  // ---------------------------------------------------------------
  val aMannKendall: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").as("rev"))
      .transform(Barrier.materialize) // consumed by both pair sides + ties + n
    val sSt = daily.alias("a")
      .join(daily.alias("b"), col("a.day") < col("b.day")) // calendar²-bounded
      .agg(coalesce(sum(when(col("b.rev") > col("a.rev"), 1L)
        .when(col("b.rev") < col("a.rev"), -1L).otherwise(0L)), lit(0L))
        .cast("long").as("s_stat"))
    val ties = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
        lit(0L)).cast("long").as("tie_term"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    val z = when(col("s_stat") > 0, d(col("s_stat") - 1) / sqrt(col("var_s")))
      .when(col("s_stat") < 0, d(col("s_stat") + 1) / sqrt(col("var_s")))
      .otherwise(lit(0.0))
    n.crossJoin(broadcast(sSt)).crossJoin(broadcast(ties))
      .withColumn("var_s",
        d(col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie_term")) / lit(18.0))
      .select(col("n_days"), col("s_stat"), round(col("var_s"), 6).as("var_s"),
        round(z, 6).as("z"),
        when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
          .otherwise(lit("no_trend")).as("trend"))
  }

  /** Poisson(1) inverse-CDF thresholds, pre-scaled to the 48-bit
    * hash grid: weight w = #{k : T(k) ≤ h} for the 48-bit md5 hash h
    * — pure INTEGER comparisons, so the resample is bit-portable to
    * any engine with md5 (no float CDF to disagree on). T(k) =
    * floor(2⁴⁸ · e⁻¹ Σ_{j≤k} 1/j!), k = 0..7 (P(w>8) < 2⁻⁴⁰). */
  val poissonT: Seq[Long] = Seq(
    103548857136060L, 207097714272121L, 258872142840152L, 276130285696162L,
    280444821410164L, 281307728552965L, 281451546410098L, 281472091818260L)

  // ---------------------------------------------------------------
  // a_poisson_bootstrap — distributed bootstrap CI for the mean
  // event value via Poisson(1) resampling (Chamandy et al. 2012,
  // the production-scale bootstrap: independent per-row weights
  // need no global resample): B = 64 replicates; row r's weight in
  // replicate b is the Poisson(1) inverse-CDF of the 48-bit
  // md5(event_id#b) — deterministic, integer-compared (poissonT).
  // Replicate means divide exact integer sums (micro-quantized
  // decimal money); the CI is the (2nd, 63rd) order statistic of
  // the 64 means (≈ 2.5/97.5%), the SE the sample std via two
  // chained b-ordered folds (the DuckDB struct-accumulator quirk
  // forbids one two-field fold). Scale shape: the ×64 explode
  // map-combines straight to 64 groups — no shuffle growth, no
  // row² anywhere; sums are exact longs (micro-units × Σw ≲ 2⁶³
  // through ~10¹² rows; beyond that the dec38 sum family applies).
  // ---------------------------------------------------------------
  val aPoissonBootstrap: Q = (s, dir) => {
    val bN = 64
    val base = Tables.table(s, dir, "events")
      .select(col("event_id"),
        floor(dec(col("value")) * 1000000).cast("long").as("m"))
      .transform(Barrier.materialize) // consumed by the explode and the point agg
    val tArr = array(poissonT.map(lit): _*)
    val rep = base
      .withColumn("b", explode(sequence(lit(0), lit(bN - 1))))
      .withColumn("h", conv(substring(md5(concat(
        col("event_id").cast("string"), lit("#"), col("b").cast("string"))),
        1, 12), 16, 10).cast("long"))
      .withColumn("w", size(filter(tArr, t => t <= col("h"))).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w")).cast("long").as("nb"),
        sum(col("w") * col("m")).cast("long").as("sb"))
      .withColumn("mean_b", d(col("sb")) / d(col("nb")) / lit(1000000.0))
    val folded = rep.agg(
      count(lit(1)).as("b_reps"),
      sort_array(collect_list(struct(col("mean_b"), col("b")))).as("byv"),
      expr("aggregate(sort_array(collect_list(struct(b, mean_b))), 0D," +
        " (a, x) -> a + x.mean_b)").as("sx"),
      expr("aggregate(sort_array(collect_list(struct(b, mean_b))), 0D," +
        " (a, x) -> a + x.mean_b * x.mean_b)").as("sxx"))
    val point = base.agg(count(lit(1)).as("n_events"),
      sum(col("m")).cast("long").as("sm"))
    folded.crossJoin(broadcast(point))
      .select(col("n_events"), col("b_reps"),
        round(d(col("sm")) / d(col("n_events")) / lit(1000000.0), 6)
          .as("point_mean"),
        round(element_at(col("byv"), 2).getField("mean_b"), 6).as("boot_lo"),
        round(element_at(col("byv"), bN - 1).getField("mean_b"), 6)
          .as("boot_hi"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / lit(bN.toDouble))
          / lit((bN - 1).toDouble)), 6).as("boot_se"))
  }

  // ---------------------------------------------------------------
  // a_kmv_jaccard — pairwise source-vocabulary similarity from KMV
  // bottom-k sketches (Beyer et al. 2007: J ≈ |K(A∪B) ∩ MinK(A) ∩
  // MinK(B)| / |K(A∪B)|, K = the k smallest union hashes), audited
  // against the EXACT token Jaccard — the "which domains share a
  // vocabulary" dedup-adjacent diagnostic, and the demonstration
  // that the sketch union/intersection algebra (what a 100 TB run
  // would ship instead of the exact join) tracks truth. Scale shape:
  // sketches pre-trim map-side to k = 16 rows per source (TopKAgg);
  // the exact side is a posting-list self-join on tok (equi,
  // token-cardinality-bounded) that exists only as the audit; the
  // pair frame joins the 20-row sketch table by key — no cross.
  // 48-bit hashes make min-k exact on any engine.
  // ---------------------------------------------------------------
  val aKmvJaccard: Q = (s, dir) => {
    val k = 16
    val toks = docs(s, dir)
      .select(col("source"), explode(array_distinct(TF.tokens(col("text"))))
        .as("tok"))
      .distinct()
      .withColumn("h", conv(substring(md5(col("tok")), 1, 12), 16, 10)
        .cast("long"))
      .transform(Barrier.materialize) // consumed by the sketch and both pair sides
    val mink = udaf(new graft.functions.TopKAgg(k))
    val sk = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tok"),
        mink((-col("h")).cast("double"), col("h")).as("mins"))
      .select(col("source"), col("n_tok"),
        expr("transform(mins, m -> m._2)").as("harr"))
      .transform(Barrier.materialize) // joined twice (both pair endpoints)
    val pairs = toks.alias("x")
      .join(toks.alias("y"), col("x.tok") === col("y.tok") &&
        col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sk.select(col("source").as("s1"), col("n_tok").as("n_a"),
        col("harr").as("ha")), "s1")
      .join(sk.select(col("source").as("s2"), col("n_tok").as("n_b"),
        col("harr").as("hb")), "s2")
      .withColumn("ku",
        slice(array_sort(array_distinct(concat(col("ha"), col("hb")))), 1, k))
      .withColumn("i3", size(filter(col("ku"),
        x => array_contains(col("ha"), x) && array_contains(col("hb"), x))))
      .select(col("s1"), col("s2"), col("n_a"), col("n_b"), col("inter"),
        round(d(col("inter")) / d(col("n_a") + col("n_b") - col("inter")), 6)
          .as("j_exact"),
        round(d(col("i3")) / d(least(lit(k), size(col("ku")))), 6).as("j_est"))
      .withColumn("abs_err", round(abs(col("j_est") - col("j_exact")), 6))
      .orderBy(col("s1"), col("s2"))
  }

  // Inference and weighting extensions — Welch's
  // unequal-variance t-test (Welch 1947), the Kaplan–Meier survival
  // estimator with right-censoring (Kaplan & Meier 1958), iterative
  // proportional fitting / raking of the (lang, source) grid to
  // uniform marginals (Deming & Stephan 1940 — the dataset-balancing
  // weighting classic), and per-dimension embedding standardization
  // stats — public algorithms re-expressed Spark-first with
  // full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // a_welch_ttest — Welch's unequal-variance t-test comparing mean
  // purchase vs view event value (the A/B-readout staple; Welch
  // 1947 with the Welch–Satterthwaite dof). Sums are EXACT: values
  // are 2-dp money, so centi-units m = 100·value are integers;
  // Σm rides a long, Σm² a DECIMAL(38,0) (m² ≤ 2.4·10⁹ keeps the
  // decimal sum exact past 10¹² rows). Mean/variance/t/dof are a
  // fixed double DAG over those exact sums — one shuffle on the
  // 2-key group, broadcast-scalar tail. Significance is called on
  // the raw t against 1.96 (identical doubles both engines).
  // ---------------------------------------------------------------
  val aWelchTtest: Q = (s, dir) => {
    val g = Tables.table(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("m")).cast("long").as("s1"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean_c", d(col("s1")) / d(col("n")))
      .withColumn("var_c",
        (d(col("s2")) - d(col("s1")) * d(col("s1")) / d(col("n")))
          / d(col("n") - 1))
    val x = g.filter(col("event_type") === "purchase")
      .select(col("n").as("n_x"), col("mean_c").as("mx"), col("var_c").as("vx"))
    val y = g.filter(col("event_type") === "view")
      .select(col("n").as("n_y"), col("mean_c").as("my"), col("var_c").as("vy"))
    val se2 = col("vx") / d(col("n_x")) + col("vy") / d(col("n_y"))
    val t = (col("mx") - col("my")) / sqrt(se2)
    val dof = (se2 * se2) /
      ((col("vx") / d(col("n_x"))) * (col("vx") / d(col("n_x"))) /
        d(col("n_x") - 1) +
        (col("vy") / d(col("n_y"))) * (col("vy") / d(col("n_y"))) /
          d(col("n_y") - 1))
    x.crossJoin(broadcast(y))
      .select(col("n_x"), col("n_y"),
        round(col("mx") / lit(100.0), 6).as("mean_x"),
        round(col("my") / lit(100.0), 6).as("mean_y"),
        round(t, 6).as("t_stat"), round(dof, 6).as("dof"),
        (abs(t) > 1.96).as("significant"))
  }

  // ---------------------------------------------------------------
  // a_ipf_raking — iterative proportional fitting of the (lang,
  // source) cell counts to UNIFORM row/column marginals (Deming &
  // Stephan 1940; the raking every survey-weighting and
  // dataset-balancing stack ships): 8 full IPF rounds = 16
  // alternating half-steps, row-scale w ← w·(N/L)/Σ_row w then
  // column-scale against N/S. The fold runs over the COMPLETE
  // L×S grid (missing cells enter at 0 and stay 0) — ≤ 100 doubles,
  // alphabet-bounded, never rows; each half-step binds its marginal
  // sums once via the singleton-fold trick (the e_pca_power
  // collapse tombstone applies). Output: observed count, raked
  // weight, multiplier per populated cell. Scale shape: corpus →
  // cell counts is the only data-sized stage.
  // ---------------------------------------------------------------
  val aIpfRaking: Q = (s, dir) => {
    val counts = docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .transform(Barrier.materialize) // consumed by both dims and the grid
    val langs = counts.select(col("lang")).distinct()
    val sources = counts.select(col("source")).distinct()
    val grid = langs.crossJoin(broadcast(sources))
      .join(counts, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), coalesce(col("c"), lit(0L)).as("c"))
    val one = grid
      .agg(sort_array(collect_list(struct(col("lang"), col("source"),
        col("c")))).as("cells"),
        countDistinct(col("lang")).cast("int").as("l_n"),
        countDistinct(col("source")).cast("int").as("s_n"),
        sum(col("c")).cast("long").as("n_tot"))
    val rowsums =
      "transform(sequence(1, l_n), l -> aggregate(sequence(1, s_n)," +
        " CAST(0.0 AS DOUBLE), (a, t) -> a + element_at(w, (l - 1) * s_n + t)))"
    val colsums =
      "transform(sequence(1, s_n), t -> aggregate(sequence(1, l_n)," +
        " CAST(0.0 AS DOUBLE), (a, l) -> a + element_at(w, (l - 1) * s_n + t)))"
    val fold =
      s"""aggregate(
         |  sequence(1, 16),
         |  transform(cells, x -> CAST(x.c AS DOUBLE)),
         |  (w, r) -> CASE WHEN r % 2 = 1
         |    THEN aggregate(array(0), $rowsums, (rs, z) ->
         |      transform(w, (x, i0) -> x * ((CAST(n_tot AS DOUBLE)
         |        / CAST(l_n AS DOUBLE))
         |        / element_at(rs, CAST((i0 div s_n) + 1 AS INT)))))
         |    ELSE aggregate(array(0), $colsums, (cs, z) ->
         |      transform(w, (x, i0) -> x * ((CAST(n_tot AS DOUBLE)
         |        / CAST(s_n AS DOUBLE))
         |        / element_at(cs, (i0 % s_n) + 1))))
         |    END)""".stripMargin
    one
      .withColumn("wf", expr(fold))
      .select(explode(expr(
        """transform(sequence(1, l_n * s_n), k -> named_struct(
          |  'lang', element_at(cells, k).lang,
          |  'source', element_at(cells, k).source,
          |  'n', element_at(cells, k).c,
          |  'w', element_at(wf, k)))""".stripMargin)).as("o"))
      .filter(col("o.n") > 0)
      .select(col("o.lang").as("lang"), col("o.source").as("source"),
        col("o.n").as("n_docs"), round(col("o.w"), 6).as("raked_weight"),
        round(col("o.w") / d(col("o.n")), 6).as("multiplier"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // a_fleiss_kappa — inter-rater agreement (Fleiss 1971) between
  // THREE deterministic quality "raters" on every document: the
  // heuristic score rule (≥ 0.42), the logistic classifier
  // (t_calibration_ece's fixed-weight model, ≥ 0.5) and a length
  // rule (≥ 40 tokens) — the "do our quality filters even agree"
  // audit a curation stack runs before trusting any one of them.
  // With m = 3 raters and 2 categories, per-doc agreement is
  // Pᵢ = (x(x−1) + (3−x)(2−x))/6 for x = good-votes; P̄, Pₑ and κ
  // are fixed divisions of EXACT integer sums (Σx, Σ numerators).
  // One scan, one one-row aggregate — no shuffle beyond it.
  // ---------------------------------------------------------------
  val aFleissKappa: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val logit = lit(-0.7) +
      lit(0.8) * (size(toks).cast("double") / lit(100.0)) +
      lit(2.0) * TF.stopwordRatio(col("text")) +
      lit(-1.2) * (TF.avgWordLen(col("text")) / lit(10.0)) +
      lit(1.5) * (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
    val votes = Tables.table(s, dir, "documents").select(
      ((when(TF.qualityScore(col("text")) >= 0.42, 1).otherwise(0)) +
        (when(lit(1.0) / (lit(1.0) + exp(-logit)) >= 0.5, 1).otherwise(0)) +
        (when(TF.tokenCount(col("text")) >= 40, 1).otherwise(0))).as("x"))
    votes
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("x") * (col("x") - 1) +
          (lit(3) - col("x")) * (lit(2) - col("x"))).cast("long").as("sp"))
      .withColumn("p_good", d(col("sx")) / (lit(3.0) * d(col("n_docs"))))
      .withColumn("p_bar", d(col("sp")) / (lit(6.0) * d(col("n_docs"))))
      .withColumn("p_e", col("p_good") * col("p_good") +
        (lit(1.0) - col("p_good")) * (lit(1.0) - col("p_good")))
      .select(col("n_docs"), round(col("p_good"), 6).as("p_good"),
        round(col("p_bar"), 6).as("p_bar"), round(col("p_e"), 6).as("p_e"),
        round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6)
          .as("kappa"))
  }

  // ---------------------------------------------------------------
  // a_mutual_info — mutual information of the (lang × source)
  // contingency table in nats, with the marginal entropies and the
  // sqrt-normalized NMI (Strehl & Ghosh 2002) — the
  // information-theoretic "how language-specialized are my sources"
  // audit next to a_chi_square's significance test. Counts and
  // margins are exact integers off ONE tiny cell aggregate; each of
  // the three float folds (MI over cells, H over each margin) runs
  // in a pinned sort order per the repo float policy. ln() sits on
  // the documented 1-ulp libm floor → outputs round to 6 dp.
  // Scale shape: one count aggregate on the tiny pair key; margins
  // re-aggregate from it; everything after is one-row broadcast
  // arithmetic (the a_chi_square shape).
  // ---------------------------------------------------------------
  val aMutualInfo: Q = (s, dir) => {
    val cells = docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
      .transform(Barrier.materialize) // consumed by both margins and the MI fold
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"))
    val mi = cells.join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(n))
      .withColumn("contrib", d(col("o")) / d(col("n")) *
        log(d(col("o")) * d(col("n")) / (d(col("rt")) * d(col("ct")))))
      .groupBy(col("n"))
      .agg(expr("aggregate(sort_array(collect_list(struct(lang, source," +
        " contrib))), 0D, (a, x) -> a + x.contrib)").as("mi"))
    val hl = rowT.crossJoin(broadcast(n))
      .withColumn("h", -(d(col("rt")) / d(col("n"))) *
        log(d(col("rt")) / d(col("n"))))
      .agg(expr("aggregate(sort_array(collect_list(struct(lang, h)))," +
        " 0D, (a, x) -> a + x.h)").as("h_lang"))
    val hs = colT.crossJoin(broadcast(n))
      .withColumn("h", -(d(col("ct")) / d(col("n"))) *
        log(d(col("ct")) / d(col("n"))))
      .agg(expr("aggregate(sort_array(collect_list(struct(source, h)))," +
        " 0D, (a, x) -> a + x.h)").as("h_source"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(col("n").cast("long").as("n_docs"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("h_lang"), 6).as("h_lang"),
        round(col("h_source"), 6).as("h_source"),
        round(col("mi") / sqrt(col("h_lang") * col("h_source")), 6).as("nmi"))
  }

  // ---------------------------------------------------------------
  // a_mad_outliers — robust outlier audit of the quality score via
  // median + MAD (median absolute deviation), the
  // breakdown-point-0.5 alternative to a_iqr_outliers' fences: a doc
  // is an outlier when |q − med| > 3.5 · 1.4826 · MAD (Iglewicz &
  // Hoaglin's modified-z rule; 1.4826 ≈ 1/Φ⁻¹(¾) makes MAD
  // σ-consistent). EVERYTHING is exact integer arithmetic on the
  // micro-unit grid: scores quantize to floor(q·10⁶) (pure-
  // arithmetic score — no libm anywhere), medians are order
  // statistics over the VALUE HISTOGRAM (≤10⁶ distinct cells no
  // matter the corpus size) walked by the two-phase global cumsum —
  // never a row-level sort; the even-n average-of-middles stays
  // integer by carrying 2·median and 4·MAD; and the outlier test
  // |2q − med₂|·20000 > 51891·mad₄ is an exact integer comparison
  // (20000·x > 51891·y ⟺ x > 3.5·1.4826·y/2). Scale shape: one
  // scan → bounded histogram → two histogram cumsums (the heavy
  // lifting is on ≤10⁶-row frames) → one per-source aggregate.
  // ---------------------------------------------------------------
  val aMadOutliers: Q = (s, dir) => {
    val v = docs(s, dir)
      .select(col("source"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).cast("long")
          .as("q"))
      .transform(Barrier.materialize) // histogram pass + final per-source pass
    val hist = v.groupBy(col("q")).agg(count(lit(1)).as("c"))
      .transform(Barrier.materialize) // carries + both median selections
    val n = hist.agg(sum(col("c"))).head().getLong(0)
    val k1 = (n + 1) / 2; val k2 = (n + 2) / 2
    def middle2(h: DataFrame, vc: String): Long = {
      val r = Ranking.withGlobalCumSums(h, Seq("c" -> "cum"), col(vc))
        .agg(
          min(when(col("cum") >= k1 && col("cum") - col("c") < k1, col(vc)))
            .as("m1"),
          min(when(col("cum") >= k2 && col("cum") - col("c") < k2, col(vc)))
            .as("m2")).head()
      r.getLong(0) + r.getLong(1) // 2×the (possibly averaged) median
    }
    val med2 = middle2(hist, "q")
    val dh = hist.groupBy(abs(col("q") * 2 - med2).as("d2"))
      .agg(sum(col("c")).as("c"))
      .transform(Barrier.materialize) // same two-phase walk as the value histogram
    val mad4 = middle2(dh, "d2") // 2×(2×MAD) in micro units
    v.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(abs(col("q") * 2 - med2) * lit(20000L) >
          lit(51891L) * mad4, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("source"), col("n_docs"), col("n_outliers"),
        round(d(col("n_outliers")) / d(col("n_docs")), 6).as("outlier_rate"),
        round(lit(med2.toDouble / 2000000.0), 6).as("median_q"),
        round(lit(mad4.toDouble / 4000000.0), 6).as("mad_q"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // a_capture_recapture — Lincoln–Petersen corpus-size estimation
  // with the Chapman correction: two INDEPENDENT deterministic
  // "crawls" sample each doc with p = 1/2 by disjoint hex digits of
  // its md5 fingerprint (digit 1 < '8' / digit 2 < '8' — the
  // repo's portable-hash convention, so the oracle replays the
  // exact same membership), and the dedup'd-universe estimate is
  // N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the capture counts alone. The
  // audit reports the estimate against the true doc count (which a
  // real crawl pipeline would NOT know — that is the point of the
  // check). One scan, one one-row aggregate; counts exact, the
  // estimate is one fixed division.
  // ---------------------------------------------------------------
  val aCaptureRecapture: Q = (s, dir) => {
    val h = md5(col("text"))
    val caps = Tables.table(s, dir, "documents").select(
      when(substring(h, 1, 1) < "8", 1L).otherwise(0L).as("in_a"),
      when(substring(h, 2, 1) < "8", 1L).otherwise(0L).as("in_b"))
    caps
      .agg(count(lit(1)).as("n_total"), sum(col("in_a")).as("n1"),
        sum(col("in_b")).as("n2"),
        sum(col("in_a") * col("in_b")).as("m"))
      .select(col("n_total"), col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"), col("m").cast("long").as("m"),
        round((d(col("n1")) + lit(1.0)) * (d(col("n2")) + lit(1.0)) /
          (d(col("m")) + lit(1.0)) - lit(1.0), 6).as("n_hat"),
        round(((d(col("n1")) + lit(1.0)) * (d(col("n2")) + lit(1.0)) /
          (d(col("m")) + lit(1.0)) - lit(1.0) - d(col("n_total"))) /
          d(col("n_total")), 6).as("rel_err"))
  }

  // ---------------------------------------------------------------
  // a_diff_in_diff — difference-in-differences (the 2×2 canonical
  // design): treatment = even-custkey customers (a deterministic
  // pseudo-experiment the oracle replays), pre/post split at the
  // calendar midpoint of the order range, outcome = mean order
  // value. DiD = (T̄post − T̄pre) − (C̄post − C̄pre) — the estimator a
  // growth team runs on a rollout. Money sums are exact
  // DECIMAL(18,2); each cell mean is ONE double division of exact
  // aggregates; DiD is a fixed-order expression of the four means.
  // Scale shape: one scan, one ONE-ROW aggregate with 8 conditional
  // sums — no shuffle beyond the scalar reduce; the midpoint is a
  // driver-side literal off the (min, max) date aggregate.
  // ---------------------------------------------------------------
  val aDiffInDiff: Q = (s, dir) => {
    val o = Tables.table(s, dir, "orders").select(
      (col("o_custkey") % 2 === 0).as("treat"),
      to_date(col("o_orderdate")).as("day"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
      .transform(Barrier.materialize) // consumed by the range probe + the cell agg
    val mm = o.agg(min(col("day")), max(col("day"))).head()
    val lo = mm.getDate(0).toLocalDate; val hi = mm.getDate(1).toLocalDate
    val mid = lo.plusDays(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2)
    val cell = (t: Boolean, p: Boolean) => {
      val in = col("treat") === t &&
        (if (p) col("day") >= lit(mid.toString).cast("date")
         else col("day") < lit(mid.toString).cast("date"))
      (sum(when(in, lit(1L)).otherwise(0L)),
        sum(when(in, col("price")).otherwise(lit(0).cast("decimal(18,2)"))))
    }
    val (ntp, stp) = cell(true, true); val (nta, sta) = cell(true, false)
    val (ncp, scp) = cell(false, true); val (nca, sca) = cell(false, false)
    o.agg(ntp.as("n_treat_post"), stp.as("s_tp"), nta.as("n_treat_pre"),
        sta.as("s_ta"), ncp.as("n_ctrl_post"), scp.as("s_cp"),
        nca.as("n_ctrl_pre"), sca.as("s_ca"))
      .withColumn("m_tp", d(col("s_tp")) / d(col("n_treat_post")))
      .withColumn("m_ta", d(col("s_ta")) / d(col("n_treat_pre")))
      .withColumn("m_cp", d(col("s_cp")) / d(col("n_ctrl_post")))
      .withColumn("m_ca", d(col("s_ca")) / d(col("n_ctrl_pre")))
      .select(col("n_treat_pre"), col("n_treat_post"), col("n_ctrl_pre"),
        col("n_ctrl_post"),
        round(col("m_ta"), 6).as("mean_treat_pre"),
        round(col("m_tp"), 6).as("mean_treat_post"),
        round(col("m_ca"), 6).as("mean_ctrl_pre"),
        round(col("m_cp"), 6).as("mean_ctrl_post"),
        round((col("m_tp") - col("m_ta")) - (col("m_cp") - col("m_ca")), 6)
          .as("did"))
  }

  // ---------------------------------------------------------------
  // a_sprt_monitor — Wald's sequential probability ratio test
  // (Wald 1945) on the daily purchase share of events: H₀ p=0.18
  // vs H₁ p=0.22 with α = β = 0.05 — the always-valid sequential
  // monitor an experimentation stack runs instead of peeking at a
  // fixed-horizon test. Per day the cumulative log-likelihood
  // ratio is LLR_t = conv_t·ln(p₁/p₀) + (n_t−conv_t)·ln(q₁/q₀),
  // compared against the Wald bounds ±ln(0.95/0.05). The decision
  // grid is the 6-dp ROUNDED llr against the 6-dp bound literal
  // ±2.944439 (the repo's libm policy: ln sits on the 1-ulp floor,
  // so decisions are defined ON the rounded grid, identically on
  // both engines). Cumulative counts ride the two-phase global
  // cumsum over the calendar-bounded day series — no
  // single-partition window. One scan → day aggregate → cumsum.
  // ---------------------------------------------------------------
  val aSprtMonitor: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val cum = Ranking.withGlobalCumSums(daily,
      Seq("n" -> "cum_n", "conv" -> "cum_conv"), col("day"))
    val llr = round(
      d(col("cum_conv")) * log(lit(0.22) / lit(0.18)) +
        (d(col("cum_n")) - d(col("cum_conv"))) *
          log(lit(0.78) / lit(0.82)), 6)
    cum.select(col("day"), col("n").cast("long").as("n_events"),
        col("conv").cast("long").as("n_purchases"),
        col("cum_n").cast("long").as("cum_n"),
        col("cum_conv").cast("long").as("cum_conv"), llr.as("llr"))
      .withColumn("decision",
        when(col("llr") >= 2.944439, "accept_h1")
          .when(col("llr") <= -2.944439, "accept_h0")
          .otherwise("continue"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // a_winsorized_mean — 5% winsorized and trimmed means of order
  // value (the robust-location estimates a KPI pipeline reports
  // next to the raw mean when whales distort it): ranks come from
  // the two-phase global rank (value, orderkey tiebreak); the
  // boundary order statistics at k_lo = ⌈0.05n⌉ and
  // k_hi = ⌊0.95n⌋ + 1 clamp the tails (winsorize) or drop them
  // (trim). Sums of clamped DECIMAL(18,2) values are EXACT; each
  // mean is one double division. Scale shape: one range exchange
  // (the rank) + one one-row conditional aggregate.
  // ---------------------------------------------------------------
  val aWinsorizedMean: Q = (s, dir) => {
    val o = Tables.table(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .transform(Barrier.materialize) // count + rank pass
    val n = o.count()
    val kLo = math.ceil(0.05 * n).toLong
    val kHi = n - kLo // symmetric 5% tails
    val ranked = Ranking.withGlobalRank(o, "rk", col("v"), col("o_orderkey"))
      .transform(Barrier.materialize) // boundary probe + the clamped aggregate
    val bounds = ranked
      .agg(min(when(col("rk") === kLo + 1, col("v"))).as("lo"),
        min(when(col("rk") === kHi, col("v"))).as("hi")).head()
    val lo = bounds.getDecimal(0); val hi = bounds.getDecimal(1)
    val clamped = when(col("rk") <= kLo, lit(lo.toString).cast("decimal(18,2)"))
      .when(col("rk") > kHi, lit(hi.toString).cast("decimal(18,2)"))
      .otherwise(col("v"))
    ranked.agg(
        count(lit(1)).as("n_orders"),
        expr("CAST(SUM(v) AS DOUBLE)").as("sraw"),
        sum(clamped).cast("double").as("swin"),
        sum(when(col("rk") > kLo && col("rk") <= kHi, col("v"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("strim"),
        sum(when(col("rk") > kLo && col("rk") <= kHi, 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("n_orders").cast("long").as("n_orders"),
        round(col("sraw") / d(col("n_orders")), 6).as("raw_mean"),
        round(col("swin") / d(col("n_orders")), 6).as("winsorized_mean"),
        round(col("strim") / d(col("n_kept")), 6).as("trimmed_mean"),
        lit(lo.toPlainString.toDouble).as("lo_clamp"),
        lit(hi.toPlainString.toDouble).as("hi_clamp"))
  }

  // ---------------------------------------------------------------
  // a_jackknife_variance — delete-one-group jackknife (Quenouille/
  // Tukey; the G = 16 md5-fold variant a distributed pipeline uses
  // because delete-one-ROW is 10¹² recomputes) for the corpus mean
  // quality score: fold g's leave-out mean is (S − s_g)/(N − n_g)
  // from EXACT integer micro-unit sums, and the jackknife variance
  // is (G−1)/G · Σ (m_g − m̄)². The whole estimator is ONE tiny
  // aggregate (16 fold rows collected into an array on a single
  // row) + HOF folds in fold order — no joins, no window, nothing
  // beyond the one reduce. The companion of a_poisson_bootstrap
  // (resampling) on the estimation side.
  // ---------------------------------------------------------------
  val aJackknifeVariance: Q = (s, dir) => {
    val folds = Tables.table(s, dir, "documents")
      .select(substring(md5(col("doc_id").cast("string")), 1, 1).as("g"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).cast("long")
          .as("q"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
    folds
      .agg(sum(col("n")).cast("long").as("nn"),
        sum(col("sq")).cast("long").as("ss"),
        count(lit(1)).as("gg"),
        sort_array(collect_list(struct(col("g"), col("n"), col("sq"))))
          .as("arr"))
      .withColumn("ms", expr(
        """transform(arr, x ->
          |  (CAST(ss - x.sq AS DOUBLE) / CAST(nn - x.n AS DOUBLE))
          |    / 1000000.0)""".stripMargin))
      .withColumn("mbar",
        expr("aggregate(ms, 0D, (a, x) -> a + x)") / d(col("gg")))
      .withColumn("jvar", expr(
        "aggregate(ms, 0D, (a, x) -> a + (x - mbar) * (x - mbar))") *
        (d(col("gg")) - lit(1.0)) / d(col("gg")))
      .select(col("nn").as("n_docs"), col("gg").as("n_folds"),
        round(d(col("ss")) / d(col("nn")) / lit(1000000.0), 6)
          .as("mean_quality"),
        round(col("mbar"), 6).as("jk_mean"),
        round(sqrt(col("jvar")), 6).as("jk_se"))
  }

  // ---------------------------------------------------------------
  // a_var_merge — algebraic aggregation-state merge audit: monthly
  // mean/variance of order value computed BY MERGING per-day partial
  // states (n, Σcents, Σcents²) — the Chan/Golub/LeVeque parallel
  // form every incremental view, streaming state store, and
  // re-aggregation-without-rescan pipeline relies on — checked
  // exactly against the direct one-pass month aggregate. The states
  // are exact integers (cents BIGINT, Σcents² DECIMAL(38,0) — a
  // single cents² fits a long, the corpus sum does not), so
  // merged ≡ direct is bit-exact equality, not a float tolerance;
  // the mean/variance leave integer space only at the final
  // micro-unit integral division (exact), then one BIGINT→double
  // conversion. Scale shape: two stacked
  // map-side-combining aggregates (day ≪ corpus, month ≪ day) plus
  // one month-keyed join of two ≤|months|-row frames — the corpus
  // scans twice only because the audit needs an independent direct
  // leg; the production path is the partial leg alone.
  // ---------------------------------------------------------------
  val aVarMerge: Q = (s, dir) => {
    val base = Tables.table(s, dir, "orders")
      .select(to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    def state(df: DataFrame, keys: Seq[Column],
        n: Column, sum1: Column, sum2: Column): DataFrame =
      df.groupBy(keys: _*)
        .agg(sum(n).cast("long").as("n"),
          sum(sum1).cast("decimal(38,0)").as("s"),
          sum(sum2).cast("decimal(38,0)").as("ss"))
    val dayPart = state(base, Seq(col("month"), col("day")),
      lit(1L), col("cents"), (col("cents") * col("cents")).cast("decimal(38,0)"))
    val merged = dayPart.groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).cast("long").as("n"),
        sum(col("s")).cast("decimal(38,0)").as("s"),
        sum(col("ss")).cast("decimal(38,0)").as("ss"))
    val direct = state(base, Seq(col("month")),
      lit(1L), col("cents"), (col("cents") * col("cents")).cast("decimal(38,0)"))
      .select(col("month"), col("n").as("dn"), col("s").as("ds"),
        col("ss").as("dss"))
    // mean/variance leave integer space through an INTEGRAL division
    // to micro-unit resolution (exact in both engines; a direct
    // decimal(38,0)->double conversion of the ~1e19 variance
    // numerator rounds differently in Spark vs DuckDB's two-limb
    // HUGEINT path), then one BIGINT->double conversion, which is a
    // single well-defined IEEE rounding everywhere.
    merged.join(direct, Seq("month"))
      .withColumn("num",
        col("n").cast("decimal(38,0)") * col("ss") - col("s") * col("s"))
      .select(col("month"), col("n_days"), col("n").as("n_orders"),
        (expr("CAST((s * 10000) div n AS BIGINT)") / lit(1000000.0))
          .as("mean_price"),
        when(col("n") > 1,
          expr("CAST((num * 100) div (n * (n - 1)) AS BIGINT)") /
            lit(1000000.0)).as("var_price"),
        (col("n") === col("dn") && col("s") === col("ds") &&
          col("ss") === col("dss")).as("partials_match"))
      .orderBy(col("month"))
  }

  // ---------------------------------------------------------------
  // a_hll_registers — HyperLogLog from first principles (Flajolet et
  // al. 2007): m = 64 registers, register index = 6 bits of the
  // value hash, register value = leading-zero rank of the remaining
  // 52-bit window, estimate = α·m²/Σ2^(−M_j) with the linear-
  // counting small-range correction. The leading-zero rank is
  // computed EXACTLY from the hex string (leading '0' run + a
  // 16-case nibble bit-length), never via log2 of a float; the
  // harmonic sum folds 64 exact powers of two in register order
  // (sorted-fold policy); only the final α·m²/Σ and the ln of the
  // linear-counting branch touch libm (round 6, the bm25 rule).
  // The merge audit recomputes registers from per-half partial
  // sketches (max-merge) and pins that the merged estimate is
  // bit-identical — the property that lets 1000 executors sketch
  // independently and combine. Scale shape: one map-side-combining
  // aggregate to (group, register), then bounded 64-row folds.
  // ---------------------------------------------------------------
  /** The (grp, reg, rnk, half) hash decomposition — shared by
    * a_hll_registers and a_hll_set_algebra, which must sketch the
    * SAME registers. */
  private[graft] def hllBase(s: SparkSession, dir: String): DataFrame = {
    val m = 64
    val hex = md5(col("o_custkey").cast("string"))
    val w13 = substring(hex, 1, 13) // 52-bit window, exact in double
    val zeros = length(regexp_extract(w13, "^(0*)", 1))
    val nib = conv(substring(w13, zeros + 1, lit(1)), 16, 10).cast("int")
    val nibBits = when(nib >= 8, 4).when(nib >= 4, 3)
      .when(nib >= 2, 2).when(nib >= 1, 1).otherwise(0)
    val rank = (zeros * 4 + (lit(4) - nibBits) + 1).cast("int")
    Tables.table(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_custkey"),
        (conv(substring(hex, 14, 2), 16, 10).cast("long") % m).cast("int")
          .as("reg"),
        rank.as("rnk"), (col("o_orderkey") % 2).cast("int").as("half"))
  }

  val aHllRegisters: Q = (s, dir) => {
    val m = 64
    val base = hllBase(s, dir)
    // direct sketch and the two half sketches merged by register max
    val direct = base.groupBy(col("grp"), col("reg"))
      .agg(max(col("rnk")).as("mx"))
    val merged = base.groupBy(col("grp"), col("half"), col("reg"))
      .agg(max(col("rnk")).as("hmx"))
      .groupBy(col("grp"), col("reg")).agg(max(col("hmx")).as("mx"))
    def estimate(regs: DataFrame, out: String): DataFrame = {
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val folded = regs
        .groupBy(col("grp"))
        .agg(sort_array(collect_list(struct(col("reg"), col("mx"))))
          .as("rs"))
        .withColumn("regmap", map_from_entries(col("rs")))
        .withColumn("z", expr(
          // harmonic sum over all 64 registers in index order;
          // registers never hit stay at 0 => contribute 2^0 = 1
          s"""aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
             |  (acc, j) -> acc + pow(0.5, CAST(coalesce(
             |    try_element_at(regmap, j), 0) AS DOUBLE)))"""
            .stripMargin))
        // every present register has rank >= 1, so the zero registers
        // are exactly the absent indices
        .withColumn("v", (lit(m) - size(col("rs"))).cast("long"))
      folded.select(col("grp"),
        when(lit(alpha) * lit(m.toDouble * m) / col("z") <= lit(2.5 * m) &&
          col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / d(col("v"))))
          .otherwise(lit(alpha) * lit(m.toDouble * m) / col("z"))
          .as(out),
        col("v").as(s"${out}_zero_regs"))
    }
    val exact = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact
      .join(estimate(direct, "e_direct"), Seq("grp"))
      .join(estimate(merged, "e_merged").select(col("grp"), col("e_merged")),
        Seq("grp"))
      .select(col("grp"), col("n_exact"),
        round(col("e_direct"), 6).as("hll_estimate"),
        round(abs(col("e_direct") - d(col("n_exact"))) / d(col("n_exact")), 6)
          .as("rel_error"),
        col("e_direct_zero_regs").as("n_zero_registers"),
        (col("e_direct") === col("e_merged")).as("merge_exact"))
      .orderBy(col("grp"))
  }

  // ---------------------------------------------------------------
  // a_bh_fdr — Benjamini–Hochberg FDR control (1995) over the
  // per-(lang, source) long-document rate: each shard's rate is
  // z-tested against the corpus rate (one-sample two-sided normal
  // approximation), p-values come from the Abramowitz–Stegun 7.1.26
  // erf polynomial — pure +,×,÷,exp arithmetic with shared literal
  // constants, so both engines produce bit-identical doubles where
  // a native erf would diverge by libm — and the BH step-up rule
  // (reject p₍ₖ₎ ≤ α·k/m up to the largest such k) runs over the
  // p-ranked shard frame. The comparison happens on UNROUNDED
  // p-values (identical in both engines); only the published z and
  // p round to 6 dp (the bm25 libm rule — exp is the one libm call,
  // 1-ulp class). Scale shape: one map-side-combining shard
  // aggregate, one broadcast global-rate scalar, then rank + step-up
  // on the ≤|lang×source|-row frame (documented bounded-window
  // class). Counts and rates stay in exact integer space through
  // the micro-unit division.
  // ---------------------------------------------------------------
  val aBhFdr: Q = (s, dir) => {
    val alpha = 0.1
    val cells = Tables.table(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") >= 300L, 1L).otherwise(0L)).cast("long")
          .as("n_long"))
    val glob = Tables.table(s, dir, "documents")
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("n_chars") >= 300L, 1L).otherwise(0L)).cast("long")
          .as("n_long_g"))
    // erfAS: A&S 7.1.26, |error| < 1.5e-7 — far inside the z grid
    val scored = cells.crossJoin(broadcast(glob))
      .withColumn("rate_micro",
        expr("CAST((n_long * 1000000) div n_docs AS BIGINT)"))
      .withColumn("p_g", d(col("n_long_g")) / d(col("n_g")))
      .withColumn("se",
        sqrt(col("p_g") * (lit(1.0) - col("p_g")) / d(col("n_docs"))))
      .withColumn("z",
        (d(col("n_long")) / d(col("n_docs")) - col("p_g")) / col("se"))
      .withColumn("p_raw",
        lit(1.0) - erfAS(abs(col("z")) / sqrt(lit(2.0))))
    val m = Grain.whole
    val ranked = scored
      .withColumn("rank", row_number().over(
        Grain.bounded(col("p_raw"), col("lang"), col("source"))).cast("long"))
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("pass_k",
        when(col("p_raw") <= lit(alpha) * d(col("rank")) / d(col("m")),
          col("rank")))
      .withColumn("k_star", coalesce(max(col("pass_k")).over(m), lit(0L)))
    ranked.select(col("lang"), col("source"), col("n_docs"),
        (col("rate_micro") / lit(1000000.0)).as("long_rate"),
        round(col("z"), 6).as("z"),
        round(col("p_raw"), 6).as("p_value"),
        col("rank"), (col("rank") <= col("k_star")).as("significant"),
        lit(alpha).as("alpha"))
      .orderBy(col("rank"))
  }

  // Survey sampling and tail statistics — a
  // systematic (every-k-th in hash order) sample with a strata-
  // representativeness audit, and the Hill estimator of the
  // document-length tail index (the power-law diagnostic next to
  // t_zipf_buckets). Both Spark-first with full-replay DuckDB
  // oracles.

  // ---------------------------------------------------------------
  // a_tail_index — Hill (1975) tail-index estimator over document
  // lengths: α̂ = k / Σᵢ₌₁..ₖ ln(x₍ᵢ₎ / x₍ₖ₊₁₎) on the top-k order
  // statistics (k = 64) — the standard power-law-tail diagnostic a
  // corpus report runs next to the Zipf bucket fit (α ≈ 1–2 means
  // heavy tail: truncation budgets and packing bins must plan for
  // it). Determinism: the top-65 selection is a TakeOrderedAndProject
  // on (n_chars DESC, doc_id) — a total order, so the threshold
  // x₍ₖ₊₁₎ is unambiguous even with tied lengths; the ln-ratio sum
  // folds in rank order (sorted-fold policy; ln is the one libm
  // call — round 6, the bm25 rule). Scale shape: map-side top-k to
  // 65 rows, then a bounded fold — the corpus never shuffles.
  // ---------------------------------------------------------------
  val aTailIndex: Q = (s, dir) => {
    val k = 64
    val top = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("x"))
      .orderBy(desc("x"), col("doc_id"))
      .limit(k + 1)
    top
      // sort key (BIG - x, doc_id) ascending == (x desc, doc_id asc)
      .agg(sort_array(collect_list(struct((lit(9999999999L) - col("x"))
          .as("nx"), col("doc_id").as("tid"), col("x").as("xv"))),
        asc = true).as("rs"))
      .select(expr(
        s"""aggregate(slice(rs, 1, $k), CAST(0.0 AS DOUBLE),
           |  (acc, r) -> acc + ln(CAST(r.xv AS DOUBLE)
           |    / CAST(element_at(rs, ${k + 1}).xv AS DOUBLE)))"""
          .stripMargin).as("lnsum"),
        expr(s"element_at(rs, ${k + 1}).xv").as("x_threshold"))
      .select(lit(k.toLong).as("k"), col("x_threshold"),
        round(lit(k.toDouble) / col("lnsum"), 6).as("hill_alpha"),
        round(col("lnsum"), 6).as("ln_ratio_sum"))
  }

  // ---------------------------------------------------------------
  // a_cuped — CUPED-adjusted experiment readout (Deng et al. 2013):
  // the industry-standard variance-reduction for A/B metrics. Users
  // hash-split into two arms; X = a user's event value in the PRE
  // period (before the global time midpoint), Y = in the experiment
  // period. θ = cov(X,Y)/var(X) pooled over BOTH arms (the
  // assignment-independent covariate), Ŷ = Y − θ(X − E[X]); the
  // output compares raw vs CUPED variance per arm. Scale shape: ONE
  // scan builds per-user (x, y) via conditional sums (map-side
  // combine); moments are exact — centi-unit longs for Σx/Σy,
  // DECIMAL(38,0) for Σx², Σy², Σxy (x² ≤ 10¹⁸ stays exact past
  // 10¹² users) — and θ/means/variances are a fixed double DAG over
  // those exact sums (bit-stable both engines); broadcast-scalar
  // tail, no second pass over users.
  // ---------------------------------------------------------------
  val aCuped: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
    // integer div: the micros sum (~3.5e18) exceeds double's 2⁵³
    // exact range, so a float midpoint would diverge from DuckDB's
    val mid = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid_us"))
    val perUser = ev.crossJoin(broadcast(mid))
      .select(col("user_id"),
        (unix_micros(col("ts")) < col("mid_us")).as("pre"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("m"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("m")).otherwise(0L)).cast("long").as("x"),
        sum(when(!col("pre"), col("m")).otherwise(0L)).cast("long").as("y"))
      .withColumn("arm",
        when(conv(substring(md5(concat(lit("cuped:"),
          col("user_id").cast("string"))), 1, 2), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
      .transform(Barrier.materialize) // consumed by the pooled AND per-arm moments
    val pooled = perUser.agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .select(col("n"), col("sx"),
        ((d(col("sxy")) - d(col("sx")) * d(col("sy")) / d(col("n"))) /
          (d(col("sxx")) - d(col("sx")) * d(col("sx")) / d(col("n"))))
          .as("theta"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).cast("long").as("ax"),
        sum(col("y")).cast("long").as("ay"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("axx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("ayy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("axy"))
    // per-arm sample moments; var(Ŷ) = var(Y) − 2θcov(X,Y) + θ²var(X)
    val nA = d(col("n_users"))
    val varY = (d(col("ayy")) - d(col("ay")) * d(col("ay")) / nA) / (nA - 1)
    val varX = (d(col("axx")) - d(col("ax")) * d(col("ax")) / nA) / (nA - 1)
    val covXY = (d(col("axy")) - d(col("ax")) * d(col("ay")) / nA) / (nA - 1)
    val varC = varY - lit(2.0) * col("theta") * covXY +
      col("theta") * col("theta") * varX
    arms.crossJoin(broadcast(pooled.select(col("theta"))))
      .select(col("arm"), col("n_users"),
        round(d(col("ay")) / nA / lit(100.0), 6).as("mean_y"),
        round(col("theta"), 6).as("theta"),
        round(varY / lit(10000.0), 6).as("var_raw"),
        round(varC / lit(10000.0), 6).as("var_cuped"),
        round(lit(1.0) - varC / varY, 6).as("var_reduction"))
      .orderBy(col("arm"))
  }

  // ---------------------------------------------------------------
  // a_james_stein — James–Stein / empirical-Bayes shrinkage of
  // per-source mean document length (James & Stein 1961; Efron &
  // Morris 1975): ȳ_g shrinks toward the grand mean of group means
  // with factor c = max(0, 1 − (G−3)·v̄ / S), v̄ the mean of the
  // per-group variances-of-the-mean s²/n_g (pooled within-group s²)
  // and S = Σ_g (ȳ_g − ȳ̄)² — the classic "regress small-sample
  // group means to the prior" stage of per-domain quality scoring.
  // Scale shape: ONE aggregate reduces the corpus to G group rows
  // (n, Σy, Σy² — exact long / DECIMAL(38,0) on integer n_chars);
  // every cross-group float sum (S, v̄) folds in sorted source
  // order over those G rows (the repo float policy), so the whole
  // estimator is bit-stable at any corpus size.
  // ---------------------------------------------------------------
  val aJamesStein: Q = (s, dir) => {
    val g = Tables.table(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean_g", d(col("s1")) / d(col("n")))
      .withColumn("ss_within", d(col("s2")) -
        d(col("s1")) * d(col("s1")) / d(col("n")))
      .transform(Barrier.materialize) // consumed by the pooled scalars AND output
    // grand mean of GROUP MEANS and the cross-group sums, folded in
    // sorted source order (G rows)
    val pooled = g.agg(
      count(lit(1)).as("gn"),
      sum(col("n")).cast("long").as("ntot"),
      expr("aggregate(sort_array(collect_list(struct(source, mean_g)))," +
        " 0D, (a, x) -> a + x.mean_g)").as("sum_means"),
      expr("aggregate(sort_array(collect_list(struct(source, ss_within)))," +
        " 0D, (a, x) -> a + x.ss_within)").as("ss_w"),
      expr("aggregate(sort_array(collect_list(struct(source," +
        " CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS inv_n))), 0D," +
        " (a, x) -> a + x.inv_n)").as("sum_inv_n"))
      .withColumn("grand", col("sum_means") / d(col("gn")))
      .withColumn("s2_pool", col("ss_w") / (d(col("ntot")) - d(col("gn"))))
      .withColumn("vbar", col("s2_pool") * col("sum_inv_n") / d(col("gn")))
    val withS = g.crossJoin(broadcast(pooled))
      .withColumn("dev2",
        (col("mean_g") - col("grand")) * (col("mean_g") - col("grand")))
    val sTot = withS.agg(
      expr("aggregate(sort_array(collect_list(struct(source, dev2)))," +
        " 0D, (a, x) -> a + x.dev2)").as("s_between"))
    withS.crossJoin(broadcast(sTot))
      .withColumn("c", greatest(lit(0.0), lit(1.0) -
        (d(col("gn")) - 3.0) * col("vbar") / col("s_between")))
      .select(col("source"), col("n").as("n_docs"),
        round(col("mean_g"), 6).as("mean_raw"),
        round(col("grand"), 6).as("grand_mean"),
        round(col("c"), 6).as("shrink_factor"),
        round(col("grand") + col("c") * (col("mean_g") - col("grand")), 6)
          .as("mean_shrunk"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // a_negbin_fit — negative-binomial overdispersion fit of per-user
  // event counts per event_type, by method of moments (the standard
  // "is Poisson enough?" screen for count features): with zeros
  // INCLUDED (a user who never fires the type counts 0 — folded in
  // exactly via the global user count, never materialized),
  //   m = Σc/N,  v = (Σc² − (Σc)²/N)/(N−1)
  //   p̂ = m/v,  r̂ = m²/(v−m),  dispersion = v/m
  // (r̂ only meaningful when v > m — flagged). Scale shape: ONE
  // (type, user) aggregate reduces the stream; per-type moments are
  // exact (long Σc, DECIMAL(38,0) Σc²) off those rows; the global
  // user count broadcasts. No per-user float ever exists.
  // ---------------------------------------------------------------
  val aNegbinFit: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
    val perUser = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val nUsers = ev.agg(countDistinct(col("user_id")).as("nu"))
    perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("c")).cast("long").as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      .crossJoin(broadcast(nUsers))
      .withColumn("m", d(col("s1")) / d(col("nu")))
      .withColumn("v", (d(col("s2")) -
        d(col("s1")) * d(col("s1")) / d(col("nu"))) / (d(col("nu")) - 1.0))
      .select(col("event_type"), col("n_active"), col("nu").as("n_users"),
        round(col("m"), 6).as("mean"),
        round(col("v"), 6).as("variance"),
        round(col("v") / col("m"), 6).as("dispersion"),
        (col("v") > col("m")).as("overdispersed"),
        round(when(col("v") > col("m"),
          col("m") * col("m") / (col("v") - col("m"))).otherwise(0.0), 6)
          .as("nb_r"),
        round(when(col("v") > col("m"), col("m") / col("v")).otherwise(1.0), 6)
          .as("nb_p"))
      .orderBy(col("event_type"))
  }

  // Exact-permutation inference (Fisher 1935
  // randomization test on the weekend-revenue lift), the
  // Hodges–Lehmann robust location estimator (Hodges & Lehmann 1963
  // — the median of pairwise Walsh averages), and the Theil-T
  // inequality index with its exact between/within decomposition
  // (Theil 1967) over per-customer revenue. All Spark-first with
  // full-replay DuckDB oracles.

  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))

  // ---------------------------------------------------------------
  // a_permutation_test — randomization test for the weekend effect
  // on daily revenue: T = mean(weekend) − mean(weekday), null
  // distribution from 64 deterministic label permutations (each rep
  // md5-shuffles the day sequence and relabels the first n_weekend
  // days — a TRUE permutation: group sizes are preserved exactly).
  // p = (1 + #{|T_r| ≥ |T_obs|}) / 65, the add-one Monte-Carlo form
  // (Davison & Hinkley 1997 eq. 4.61). Scale shape: the corpus
  // reduces to the calendar-bounded daily series first; the rep
  // grid is days×64 (bounded at any corpus size), each rep's means
  // come from EXACT integer cent sums over fixed-size groups, so
  // every T is one subtraction of two exact divisions — bit-stable
  // with no fold machinery; the ≥ comparisons are therefore exact.
  // ---------------------------------------------------------------
  private val PermReps = 64

  val aPermutationTest: Q = (s, dir) => {
    val daily = dailyCents(s, dir)
      .withColumn("we", dayofweek(col("day")).isin(1, 7))
      .withColumn("t", row_number().over(Grain.bounded(col("day"))).cast("long"))
      .transform(Barrier.materialize) // consumed by the observed agg AND the rep grid
    val obs = daily.agg(count(lit(1)).cast("long").as("n_days"),
      sum(when(col("we"), 1L).otherwise(0L)).cast("long").as("n_we"),
      sum(when(col("we"), col("m")).otherwise(0L)).cast("long").as("s_we"),
      sum(when(!col("we"), col("m")).otherwise(0L)).cast("long").as("s_wd"))
      .withColumn("t_obs", d(col("s_we")) / d(col("n_we"))
        - d(col("s_wd")) / d(col("n_days") - col("n_we")))
    val reps = daily.crossJoin(broadcast(obs.select(col("n_we"))))
      .select(col("m"), col("t"), col("n_we"),
        explode(sequence(lit(0L), lit(PermReps - 1L))).as("rep"))
      .withColumn("key",
        md5(concat(col("t").cast("string"), lit(":"), col("rep").cast("string"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("key"), col("t"))).cast("long"))
      .groupBy(col("rep"))
      .agg(count(lit(1)).cast("long").as("n"),
        max(col("n_we")).as("nw"),
        sum(when(col("rn") <= col("n_we"), col("m")).otherwise(0L))
          .cast("long").as("s1"),
        sum(when(col("rn") > col("n_we"), col("m")).otherwise(0L))
          .cast("long").as("s0"))
      .withColumn("t_r", d(col("s1")) / d(col("nw"))
        - d(col("s0")) / d(col("n") - col("nw")))
    val extreme = reps.crossJoin(broadcast(obs.select(col("t_obs"))))
      .agg(sum(when(abs(col("t_r")) >= abs(col("t_obs")), 1L).otherwise(0L))
        .cast("long").as("n_extreme"))
    obs.crossJoin(broadcast(extreme))
      .select(col("n_days"), col("n_we").as("n_weekend"),
        round(col("t_obs") / 100.0, 6).as("t_obs"),
        col("n_extreme"),
        round((d(col("n_extreme")) + 1.0) / lit(PermReps + 1.0), 6).as("p_value"))
  }

  // ---------------------------------------------------------------
  // a_hodges_lehmann — the Hodges–Lehmann location estimate of daily
  // revenue: the median of all n(n+1)/2 pairwise Walsh averages
  // (xᵢ+xⱼ)/2, i ≤ j — the estimator behind the Wilcoxon signed-rank
  // interval, robust to the heavy order-date tails a plain mean
  // chases. Pair work is calendar²-bounded (the a_mann_kendall
  // contract: 2.4k days → 2.9M pairs at EVERY corpus scale — never
  // rows²), and the median rank runs through the two-phase global
  // rank (range partition + P carry rows), never a single-partition
  // sort of the pair stream. Walsh sums stay EXACT longs (the /2
  // happens once at the edge), so the median selection is integer
  // arithmetic end to end.
  // ---------------------------------------------------------------
  val aHodgesLehmann: Q = (s, dir) => {
    val daily = dailyCents(s, dir).transform(Barrier.materialize) // both pair sides
    val pairs = daily.alias("a")
      .join(daily.alias("b"), col("a.day") <= col("b.day")) // calendar²-bounded
      .select((col("a.m") + col("b.m")).as("w"))
    // median via exact selection, not a full two-phase rank: the
    // Walsh-pair frame only ever surrenders its two middle VALUES,
    // and w is an exact long, so histogram narrowing (map-side count
    // passes, shuffle ≤ B rows) finds them without the former range
    // exchange + barrier + P-way sort of the 2.9M-pair frame (the
    // w_theil_sen probe: ~3.9 s of machinery for 2 rows). The pair
    // count is analytic — n(n+1)/2 — so the ranks are driver-side.
    val nD = daily.count()
    val nP = nD * (nD + 1) / 2
    val ks = Seq((nP + 1) / 2, (nP + 2) / 2).distinct
    Selection.valuesAtRanks(pairs, col("w"), ks)
      .agg(sum(col("__v")).cast("long").as("sw"),
        count(lit(1)).cast("long").as("c"))
      .select(lit(nD).cast("long").as("n_days"),
        lit(nP).cast("long").as("n_pairs"),
        (d(col("sw")) / d(col("c")) / 2.0 / 100.0).as("hl_estimate"))
  }

  // ---------------------------------------------------------------
  // a_theil_index — Theil-T inequality of per-customer revenue with
  // the exact between/within-nation decomposition:
  //   T = (1/n) Σ (xᵢ/μ)ln(xᵢ/μ)
  //     = Σ_g s_g ln(x̄_g/μ)  +  Σ_g s_g T_g      (between + within)
  // — the audit that says whether revenue concentration lives across
  // markets or inside them (the same decomposition data-curation
  // uses for token-share inequality across sources). Scale shape:
  // the order stream reduces to one exact-cent sum per customer
  // (map-combinable), nation margins are a 25-key aggregate, and μ /
  // totals are ONE-ROW broadcasts. Float policy: ln() is libm, so
  // every Σ over ln-terms folds in pinned key order (customer key,
  // then nation key — the g_pagerank sorted-fold rule) and outputs
  // round to 6 dp; at real corpus scale the fold is a plain sum
  // whose last-ulp nondeterminism no consumer observes (the
  // sim_kmeans documented-deviation class).
  // ---------------------------------------------------------------
  val aTheilIndex: Q = (s, dir) => {
    val cust = Tables.table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .join(Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .transform(Barrier.materialize) // consumed by totals, the total fold, the nation folds
    val tot = cust.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("long").as("sx"))
      .withColumn("mu", d(col("sx")) / d(col("n")))
    val tTotal = cust.crossJoin(broadcast(tot))
      .select(col("o_custkey"),
        (d(col("x")) / col("mu") * log(d(col("x")) / col("mu"))).as("term"),
        col("n"))
      .groupBy(col("n"))
      .agg(expr("aggregate(sort_array(collect_list(struct(o_custkey, term)))," +
        " 0D, (a, x) -> a + x.term)").as("f"))
      .select((col("f") / d(col("n"))).as("t_total"))
    val gs = cust.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(col("x")).cast("long").as("sg"))
      .crossJoin(broadcast(tot))
      .withColumn("share", d(col("sg")) / d(col("sx")))
      .withColumn("xbar", d(col("sg")) / d(col("ng")))
      .transform(Barrier.materialize) // consumed by the between fold AND the within join
    val tBetween = gs
      .select(col("c_nationkey"),
        (col("share") * log(col("xbar") / col("mu"))).as("term"))
      .agg(expr("aggregate(sort_array(collect_list(struct(c_nationkey, term)))," +
        " 0D, (a, x) -> a + x.term)").as("t_between"))
    val tg = cust.join(gs.select(col("c_nationkey"), col("ng"), col("xbar"),
        col("share")), Seq("c_nationkey"))
      .select(col("c_nationkey"), col("ng"), col("share"), col("o_custkey"),
        (d(col("x")) / col("xbar") * log(d(col("x")) / col("xbar"))).as("term"))
      .groupBy(col("c_nationkey"), col("ng"), col("share"))
      .agg(expr("aggregate(sort_array(collect_list(struct(o_custkey, term)))," +
        " 0D, (a, x) -> a + x.term)").as("fg"))
      .select(col("c_nationkey"),
        (col("share") * (col("fg") / d(col("ng")))).as("term"))
      .agg(expr("aggregate(sort_array(collect_list(struct(c_nationkey, term)))," +
        " 0D, (a, x) -> a + x.term)").as("t_within"))
    tot.crossJoin(broadcast(tTotal)).crossJoin(broadcast(tBetween))
      .crossJoin(broadcast(tg))
      .select(col("n").as("n_customers"),
        round(col("mu") / 100.0, 6).as("mean_revenue"),
        round(col("t_total"), 6).as("t_total"),
        round(col("t_between"), 6).as("t_between"),
        round(col("t_within"), 6).as("t_within"))
  }

  private val dailySql =
    """daily AS (
      |  SELECT o_orderdate AS day,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |           AS BIGINT)) AS BIGINT) AS m
      |  FROM orders GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------
  // a_runs_test — Wald–Wolfowitz runs test on daily revenue
  // dichotomized about the median: R runs of above/below signs,
  // z = (R − μ_R)/σ_R with μ_R = 2n₁n₂/n + 1 and
  // σ²_R = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)). Too FEW runs = persistent
  // regimes (momentum), too many = oscillation. Values equal to the
  // median are dropped (the standard treatment). Scale shape: the
  // corpus reduces to the calendar-bounded daily series; the median
  // rank pick, the sign lag, and the run count all run over that
  // bounded series (documented low-cardinality family); all counts
  // exact longs into one fixed double DAG.
  // ---------------------------------------------------------------
  val aRunsTest: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .transform(Barrier.materialize) // median pick AND the sign sequence
    val n0 = daily.agg(count(lit(1)).cast("long").as("n0"))
    val med = daily
      .withColumn("rk", row_number().over(Grain.bounded(col("m"), col("day")))
        .cast("long"))
      .crossJoin(broadcast(n0))
      .filter(col("rk") >= expr("(n0 + 1) div 2") &&
        col("rk") <= expr("(n0 + 2) div 2"))
      .agg((sum(col("m")).cast("double") / count(lit(1)).cast("double"))
        .as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(d(col("m")) =!= col("med"))
      .withColumn("above", d(col("m")) > col("med"))
      .withColumn("prev", lag(col("above"), 1).over(Grain.bounded(col("day"))))
    val agg = signs.agg(count(lit(1)).cast("long").as("n"),
      sum(when(col("above"), 1L).otherwise(0L)).cast("long").as("n1"),
      (sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
        .otherwise(0L))).cast("long").as("r"))
      .withColumn("n2", col("n") - col("n1"))
    val tw = lit(2.0) * d(col("n1")) * d(col("n2"))
    val muR = tw / d(col("n")) + lit(1.0)
    val varR = tw * (tw - d(col("n"))) /
      (d(col("n")) * d(col("n")) * (d(col("n")) - lit(1.0)))
    val z = (d(col("r")) - muR) / sqrt(varR)
    agg.select(col("n").as("n_days_used"), col("n1").as("n_above"),
      col("n2").as("n_below"), col("r").as("n_runs"),
      round(z, 6).as("z"),
      when(abs(z) > 1.96, "non_random").otherwise(lit("random")).as("verdict"))
  }

  // ---------------------------------------------------------------
  // a_beta_posterior — per-event-type user-incidence estimate under
  // the Jeffreys Beta(½, ½) prior: posterior mean (k+½)/(n+1) with
  // a normal-approximation 95% interval — the shrunk rate that
  // doesn't scream 100% off one user (the small-sample guardrail
  // for incidence dashboards). k = distinct users with the event,
  // n = all users. Scale shape: one distinct-pair aggregate per
  // type, the ONE-ROW user total broadcasts; arithmetic is exact
  // ints into a fixed double DAG (sqrt is correctly rounded —
  // engine-identical); round-6.
  // ---------------------------------------------------------------
  val aBetaPosterior: Q = (s, dir) => {
    val k = Tables.table(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).cast("long").as("k"))
    val n = Tables.table(s, dir, "events")
      .agg(countDistinct(col("user_id")).cast("long").as("n"))
    val mean = (d(col("k")) + lit(0.5)) / (d(col("n")) + lit(1.0))
    val se = sqrt(mean * (lit(1.0) - mean) / (d(col("n")) + lit(1.0)))
    k.crossJoin(broadcast(n))
      .select(col("event_type"), col("k").as("n_users_with"),
        col("n").as("n_users"),
        round(d(col("k")) / d(col("n")), 6).as("raw_share"),
        round(mean, 6).as("posterior_mean"),
        round(mean - lit(1.96) * se, 6).as("ci_lo"),
        round(mean + lit(1.96) * se, 6).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // a_mcnemar_filters — McNemar's test on the kept/dropped decisions
  // of two registered filters over the same documents: only the
  // DISCORDANT cells carry information, χ² = (|b−c|−1)²/(b+c) with
  // the continuity correction (McNemar 1947). Both filter rules are
  // the exact expressions of t_c4_filters and t_classifier_infer —
  // testing what actually ships, not a re-derivation. Scale shape:
  // one scan computes both decisions in codegen, one 4-cell
  // aggregate; all integers into one fixed double DAG.
  // ---------------------------------------------------------------
  val aMcnemarFilters: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val base = Tables.table(s, dir, "documents").select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      TF.avgWordLen(col("text")).as("awl"),
      size(filter(toks, t => t.isin(TF.stopwords: _*))).cast("long").as("n_stop"),
      array_max(transform(toks, t => length(t))).as("max_wl"),
      col("text").rlike("[{}\\[\\]<>]").as("sym"),
      (size(toks).cast("double") / lit(100.0)).as("x_len"),
      TF.stopwordRatio(col("text")).as("x_stop"),
      (TF.avgWordLen(col("text")) / lit(10.0)).as("x_wlen"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("x_distinct"))
    val keepA = !(col("n_tokens") < 20) && !(col("n_tokens") > 90) &&
      col("awl") >= 3.0 && col("awl") <= 10.0 && col("n_stop") > 0 &&
      !col("sym") && !(col("max_wl") > 20)
    val keepB = (lit(-0.7) + lit(0.8) * col("x_len") + lit(2.0) * col("x_stop") +
      lit(-1.2) * col("x_wlen") + lit(1.5) * col("x_distinct")) >= 0.0
    val cells = base.agg(
      sum(when(keepA && keepB, 1L).otherwise(0L)).cast("long").as("n_both"),
      sum(when(keepA && !keepB, 1L).otherwise(0L)).cast("long").as("n_a_only"),
      sum(when(!keepA && keepB, 1L).otherwise(0L)).cast("long").as("n_b_only"),
      sum(when(!keepA && !keepB, 1L).otherwise(0L)).cast("long").as("n_neither"))
    val b = d(col("n_a_only")); val c = d(col("n_b_only"))
    val chi2 = (abs(b - c) - lit(1.0)) * (abs(b - c) - lit(1.0)) / (b + c)
    cells.select(col("n_both"), col("n_a_only"), col("n_b_only"),
      col("n_neither"),
      when(col("n_a_only") + col("n_b_only") === 0, lit(null).cast("double"))
        .otherwise(round(chi2, 6)).as("chi2"),
      when(col("n_a_only") + col("n_b_only") === 0, lit("no_discordance"))
        .when(chi2 > 3.841, "filters_differ").otherwise(lit("consistent"))
        .as("verdict"))
  }

  // ---------------------------------------------------------------
  // a_lorenz_points — the Lorenz curve of per-customer revenue at
  // decile resolution: cumulative revenue share of the poorest 10%,
  // 20%, …, 100% — the curve whose area deficit is a_gini_revenue's
  // number; the same audit shape reports token-share concentration
  // across sources at corpus scale. Scale shape: per-customer sums
  // are map-combinable; rank and running revenue both come from ONE
  // two-phase pass (range partition + P carries); the decile cut
  // reads 10 rows. All integer cents until the final share division.
  // ---------------------------------------------------------------
  val aLorenzPoints: Q = (s, dir) => {
    val cust = Tables.table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
    val ranked = Ranking.withGlobalCumSums(
      Ranking.withGlobalRank(cust, "rk", col("x"), col("o_custkey")),
      Seq("x" -> "cumx"), col("x"), col("o_custkey"))
    val tot = cust.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("long").as("sx"))
    // the decile boundary ranks ⌈d·n/10⌉, d = 1..10, joined back as a
    // broadcast 10-row frame (two deciles can share a boundary row
    // when n < 10 — each still reports its own point)
    val dec = tot
      .select(explode(sequence(lit(1), lit(10))).as("decile"),
        col("n"), col("sx"))
      .withColumn("rkb",
        ceil(d(col("n")) * d(col("decile")) / lit(10.0)).cast("long"))
    ranked.join(broadcast(dec), col("rk") === col("rkb"))
      .select(col("decile").cast("int").as("decile"),
        col("rk").as("n_customers"),
        round(d(col("cumx")) / d(col("sx")), 6).as("cum_revenue_share"))
      .orderBy(col("decile"))
  }

  // ---------------------------------------------------------------
  // a_partial_corr — partial correlation of daily order count and
  // daily revenue CONTROLLING for mean order value:
  // r_xy·z = (r_xy − r_xz r_yz) / √((1−r_xz²)(1−r_yz²)). If volume
  // and revenue only co-move through basket size, the partial
  // collapses — the spurious-correlation screen for metric trees.
  // Scale shape: the corpus reduces to the calendar-bounded daily
  // series; x, y are exact ints, z = y/x is a double, so the
  // z-moments fold in pinned day order (sorted fold); one fixed
  // double DAG, round-6.
  // ---------------------------------------------------------------
  val aPartialCorr: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("y"))
      .withColumn("z", d(col("y")) / d(col("x")))
    def fold(v: String): Column =
      expr(s"aggregate(sort_array(collect_list(struct(day, $v))), 0D," +
        s" (a, q) -> a + q.$v)")
    val m = daily
      .select(col("day"), d(col("x")).as("xd"), d(col("y")).as("yd"), col("z"),
        (d(col("x")) * d(col("y"))).as("xy"),
        (d(col("x")) * col("z")).as("xz"),
        (d(col("y")) * col("z")).as("yz"),
        (d(col("x")) * d(col("x"))).as("xx"),
        (d(col("y")) * d(col("y"))).as("yy"),
        (col("z") * col("z")).as("zz"))
      .agg(count(lit(1)).cast("long").as("n"),
        fold("xd").as("sx"), fold("yd").as("sy"), fold("z").as("sz"),
        fold("xy").as("sxy"), fold("xz").as("sxz"), fold("yz").as("syz"),
        fold("xx").as("sxx"), fold("yy").as("syy"), fold("zz").as("szz"))
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column): Column =
      (d(col("n")) * sab - sa * sb) /
        (sqrt(d(col("n")) * saa - sa * sa) * sqrt(d(col("n")) * sbb - sb * sb))
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    m.select(col("n").as("n_days"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
        .as("partial_r_xy_given_z"))
  }

  // ---------------------------------------------------------------
  // a_tail_dependence — empirical tail-dependence estimates between
  // daily order count (x) and daily revenue (y): λ_U = P(y > q95_y |
  // x > q95_x), λ_L with both below q05 — the co-crash/co-boom
  // probability a Pearson r hides. Thresholds are type-1 quantiles
  // (value at rank ⌈q·n⌉, day tiebreak — the w_pot_gpd rule). Scale
  // shape: the corpus reduces to the calendar-bounded daily series;
  // both threshold picks are rank filters over it; the conditional
  // counts are one aggregate of exact integers.
  // ---------------------------------------------------------------
  val aTailDependence: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("y"))
      .transform(Barrier.materialize) // two rank picks AND the count pass
    val n = daily.agg(count(lit(1)).cast("long").as("n"))
    def thresh(c: String, q: Double, out: String): DataFrame =
      daily.withColumn("rk",
          row_number().over(Grain.bounded(col(c), col("day"))).cast("long"))
        .crossJoin(broadcast(n))
        .filter(col("rk") === ceil(lit(q) * d(col("n"))).cast("long"))
        .select(col(c).as(out))
    val qs = thresh("x", 0.95, "qx_hi").crossJoin(thresh("y", 0.95, "qy_hi"))
      .crossJoin(thresh("x", 0.05, "qx_lo")).crossJoin(thresh("y", 0.05, "qy_lo"))
    daily.crossJoin(broadcast(qs)).crossJoin(broadcast(n))
      .agg(max(col("n")).as("n_days"),
        sum(when(col("x") > col("qx_hi"), 1L).otherwise(0L))
          .cast("long").as("n_x_hi"),
        sum(when(col("x") > col("qx_hi") && col("y") > col("qy_hi"), 1L)
          .otherwise(0L)).cast("long").as("n_both_hi"),
        sum(when(col("x") < col("qx_lo"), 1L).otherwise(0L))
          .cast("long").as("n_x_lo"),
        sum(when(col("x") < col("qx_lo") && col("y") < col("qy_lo"), 1L)
          .otherwise(0L)).cast("long").as("n_both_lo"))
      .select(col("n_days"), col("n_x_hi"), col("n_both_hi"),
        col("n_x_lo"), col("n_both_lo"),
        when(col("n_x_hi") > 0,
          round(d(col("n_both_hi")) / d(col("n_x_hi")), 6)).as("lambda_upper"),
        when(col("n_x_lo") > 0,
          round(d(col("n_both_lo")) / d(col("n_x_lo")), 6)).as("lambda_lower"))
  }

  // ---------------------------------------------------------------
  // a_cohens_h — effect size for the weekend/weekday purchase-mix
  // difference: h = 2·asin(√p₁) − 2·asin(√p₂) over the arcsine-
  // stabilized proportions (Cohen 1988; |h| ≈ 0.2/0.5/0.8 = small/
  // medium/large). The magnitude companion to a_permutation_test's
  // significance answer. Scale shape: one scan to four exact counts;
  // asin/sqrt are the only libm touches (round-6).
  // ---------------------------------------------------------------
  val aCohensH: Q = (s, dir) => {
    val cells = Tables.table(s, dir, "events")
      .select(dayofweek(col("ts")).isin(1, 7).as("we"),
        (col("event_type") === "purchase").as("buy"))
      .agg(sum(when(col("we") && col("buy"), 1L).otherwise(0L))
          .cast("long").as("k1"),
        sum(when(col("we"), 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(!col("we") && col("buy"), 1L).otherwise(0L))
          .cast("long").as("k2"),
        sum(when(!col("we"), 1L).otherwise(0L)).cast("long").as("n2"))
    val p1 = d(col("k1")) / d(col("n1"))
    val p2 = d(col("k2")) / d(col("n2"))
    val h = lit(2.0) * asin(sqrt(p1)) - lit(2.0) * asin(sqrt(p2))
    cells.select(col("k1").as("n_weekend_purchases"),
      col("n1").as("n_weekend_events"),
      col("k2").as("n_weekday_purchases"),
      col("n2").as("n_weekday_events"),
      round(p1, 6).as("p_weekend"), round(p2, 6).as("p_weekday"),
      round(h, 6).as("cohens_h"),
      when(abs(h) < 0.2, "negligible").when(abs(h) < 0.5, "small")
        .when(abs(h) < 0.8, "medium").otherwise(lit("large")).as("magnitude"))
  }

  // ---------------------------------------------------------------
  // a_dp_mean — ε-differentially-private per-language mean document
  // length (clamp-to-[0,B] bounded mean, Laplace noise with
  // sensitivity B/(n·ε)): the publishable corpus statistic. The
  // Laplace draw is DETERMINISTIC — u = md5-uniform of the language
  // key (the dataset-release convention every dp_* op here uses:
  // reproducible releases, and the oracle replays noise exactly) via
  // inverse CDF −(B/nε)·sign(u−½)·ln(1−2|u−½|). One tiny aggregate
  // per language; the clamp and sums are exact integers until the
  // final division.
  // ---------------------------------------------------------------
  private val DpClampB = 1000L

  private val DpEpsilon = 1.0

  val aDpMean: Q = (s, dir) => {
    val scale = lit(DpClampB.toDouble) / (lit(DpEpsilon))
    val agg = docs(s, dir)
      .select(col("lang"), least(col("n_chars"), lit(DpClampB)).as("v"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("v")).cast("long").as("clamped_sum"))
    agg
      .withColumn("u",
        (conv(substring(md5(concat(lit("dpmean:"), col("lang"))), 1, 13),
          16, 10).cast("double") + 1) / lit(4503599627370496.0))
      .withColumn("noise",
        -(scale / d(col("n_docs"))) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .select(col("lang"), col("n_docs"),
        round(d(col("clamped_sum")) / d(col("n_docs")), 6)
          .as("clamped_mean"),
        round(d(col("clamped_sum")) / d(col("n_docs")) + col("noise"), 6)
          .as("dp_mean"))
      .orderBy(col("lang"))
  }

  // HLL SET ALGEBRA — union/intersection estimates
  // across sketch pairs. The point at 100 TB: per-segment sketches are
  // built ONCE (64 ints each), and any cross-segment overlap question
  // is then answered from the sketches alone — register-wise max is
  // the union, inclusion–exclusion gives the intersection — without
  // ever re-scanning or joining the raw data. Same register machinery
  // as a_hll_registers (md5-derived, exact float DAG, linear-counting
  // branch), so the DuckDB oracle replays everything bit-for-bit
  // including the estimates' error against the exact unions.

  // ---------------------------------------------------------------
  // a_hll_set_algebra — for every ordered pair of order-priority
  // segments (grp_a < grp_b): exact distinct customers per side and
  // union, the sketch-union estimate (register-wise max of two
  // 64-register sketches), the inclusion–exclusion intersection
  // estimate, and the union estimate's relative error. Scale shape:
  // one register aggregate over the fact table, then everything
  // else is arithmetic on a ≤(segments choose 2) lattice of 64-int
  // vectors — the deliberate tiny cross (PlanSpec-allowlisted, the
  // sim_cosine_ivf shape); the exact-union audit joins the 10-row
  // pair lattice against the distinct (grp, custkey) projection as
  // a broadcast filter pass, one scan.
  // ---------------------------------------------------------------
  private val M = 64

  private val Alpha = 0.7213 / (1.0 + 1.079 / M)

  /** Full 64-register vector per group (missing registers → 0). */
  private def regVectors(base: DataFrame): DataFrame =
    base.groupBy(col("grp"), col("reg"))
      .agg(max(col("rnk")).as("mx"))
      .groupBy(col("grp"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("reg"), col("mx"))))).as("rm"))
      .select(col("grp"),
        expr(s"transform(sequence(0, ${M - 1})," +
          " j -> coalesce(element_at(rm, j), 0))").as("regs"))

  /** The batch op's exact estimate DAG: index-order harmonic fold,
    * linear-counting small-range branch. */
  private def estimate(vec: Column): Column = {
    val z = aggregate(vec, lit(0.0),
      (acc, m) => acc + pow(lit(0.5), d(m)))
    val v = size(filter(vec, m => m === 0))
    val raw = lit(Alpha) * lit(M.toDouble * M) / z
    when(raw <= lit(2.5 * M) && v > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / d(v))).otherwise(raw)
  }

  val aHllSetAlgebra: Q = (s, dir) => {
    val base = hllBase(s, dir).transform(Barrier.materialize)
    val vecs = regVectors(base).transform(Barrier.materialize) // both lattice sides
    val pairs = vecs.select(col("grp").as("grp_a"), col("regs").as("ra"))
      .crossJoin(vecs.select(col("grp").as("grp_b"), col("regs").as("rb")))
      .filter(col("grp_a") < col("grp_b"))
      .withColumn("ru", zip_with(col("ra"), col("rb"),
        (a, b) => greatest(a, b)))
      .select(col("grp_a"), col("grp_b"),
        estimate(col("ra")).as("est_a"), estimate(col("rb")).as("est_b"),
        estimate(col("ru")).as("est_union"))
    // exact audit: distinct members once, then a broadcast pair
    // filter — one pass over the projection, never a pair×fact join
    val members = base.select(col("grp"), col("o_custkey")).distinct()
    val exactUnion = broadcast(pairs.select(col("grp_a"), col("grp_b")))
      .join(members, col("grp") === col("grp_a") ||
        col("grp") === col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(countDistinct(col("o_custkey")).cast("long").as("n_exact_union"))
    val exactSide = members.groupBy(col("grp"))
      .agg(countDistinct(col("o_custkey")).cast("long").as("n"))
    pairs
      .join(exactUnion, Seq("grp_a", "grp_b"))
      .join(exactSide.select(col("grp").as("grp_a"), col("n").as("n_exact_a")),
        "grp_a")
      .join(exactSide.select(col("grp").as("grp_b"), col("n").as("n_exact_b")),
        "grp_b")
      .select(col("grp_a"), col("grp_b"),
        col("n_exact_a"), col("n_exact_b"), col("n_exact_union"),
        round(col("est_union"), 6).as("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 6)
          .as("est_intersect"),
        round(abs(col("est_union") - d(col("n_exact_union"))) /
          d(col("n_exact_union")), 6).as("union_rel_error"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  // ---------------------------------------------------------------
  // a_mann_whitney — the nonparametric two-sample location test the
  // Welch t (a_welch_ttest) shouldn't be trusted for on skewed
  // revenue: URGENT vs LOW order totals in exact cents. Ranks never
  // materialize per row — the value-level contingency (v, n_a, n_b)
  // plus an exclusive two-phase cumulative count give every midrank
  // as the EXACT integer 2·midrank = 2·C(v) + cnt + 1, so
  // 2·R_A = Σ n_a(v)·(2C+cnt+1) and 2·U_A stay longs; ties feed the
  // classic Σ(t³−t) variance correction. Cliff's δ = 2U/(nm) − 1
  // with Romano et al. magnitude bands. Scale shape: one map-side
  // value aggregate, the Ranking two-phase cumsum over distinct
  // values (never a single-partition sort), one scalar row out.
  // ---------------------------------------------------------------
  val aMannWhitney: Q = (s, dir) => {
    val base = Tables.table(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"),
        (col("o_orderpriority") === "1-URGENT").as("ga"))
    val byv = base.groupBy(col("v"))
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).cast("long").as("ca"),
        sum(when(!col("ga"), 1L).otherwise(0L)).cast("long").as("cb"),
        count(lit(1)).cast("long").as("c"))
    val cum = Ranking.withGlobalCumSums(byv, Seq("c" -> "cumc"), col("v"))
      .withColumn("cb4", col("cumc") - col("c"))
    val st = cum.agg(
      sum(col("ca")).cast("long").as("n_a"),
      sum(col("cb")).cast("long").as("n_b"),
      sum(col("ca") * (lit(2L) * col("cb4") + col("c") + 1L))
        .cast("long").as("two_r_a"),
      sum(col("c") * col("c") * col("c") - col("c")).cast("long").as("tie_t"))
    val u2a = col("two_r_a") - col("n_a") * (col("n_a") + 1L)
    val n = col("n_a") + col("n_b")
    val sigma = sqrt(d(col("n_a")) * d(col("n_b")) / 12.0 *
      (d(n + 1L) - d(col("tie_t")) / (d(n) * d(n - 1L))))
    val delta = d(u2a) / (d(col("n_a")) * d(col("n_b"))) - 1.0
    st.select(col("n_a"), col("n_b"),
      (d(u2a) / 2.0).as("u_a"),
      round((d(u2a) - d(col("n_a")) * d(col("n_b"))) / (lit(2.0) * sigma), 6)
        .as("z"),
      round(delta, 6).as("cliffs_delta"),
      when(abs(delta) < 0.147, "negligible")
        .when(abs(delta) < 0.33, "small")
        .when(abs(delta) < 0.474, "medium")
        .otherwise("large").as("magnitude"))
  }

  // Association, sampling-design, diversity and
  // sketch-compression operators.
  //
  //  - a_cramers_v — χ² association + Cramér's V with the Bergsma
  //    (2013) bias correction over three categorical pairs.
  //  - a_hoeffding_sample — sample-size advisor: the
  //    distribution-free Hoeffding bound vs the CLT prescription for
  //    estimating mean order value, over an (ε, δ) grid.
  //  - t_hill_diversity — Hill numbers N0/N1/N2 of the per-language
  //    token distribution off the count-of-counts profile (the
  //    Good–Turing frame), never a vocab-length float fold.
  //  - dedup_bbit_minhash — 1-bit minhash (Li & König 2010): Jaccard
  //    from signature LSBs at 64× less signature storage, audited
  //    against the full 64-hash estimate and the exact Jaccard on
  //    the SAME LSH candidate pairs as dedup_minhash_lsh.

  // ---------------------------------------------------------------
  // a_cramers_v — for each categorical pair: χ², V = √(χ²/(n·(k−1)))
  // and the bias-corrected V (Bergsma 2013: φ²⁺ = max(0, φ² −
  // (r−1)(c−1)/(n−1)) with shrunken r̃, c̃). Zero cells are handled
  // WITHOUT densifying the grid: Σ_full (O−E)²/E = n + Σ_observed
  // ((O−E)²/E − E), because expected mass over the full grid sums
  // to n — so the fold touches only observed cells. Counts and
  // margins are exact longs; the fold runs (x, y)-ascending over
  // ≤ r·c cells (sorted-fold float policy). Scale shape: one
  // map-side count aggregate per pair, margins re-aggregate the
  // ≤ r·c cell frame, one scalar row out per pair.
  // ---------------------------------------------------------------
  private def cramer(cells0: DataFrame, label: String): DataFrame = {
    val cells = cells0.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).cast("long").as("o"))
    val rm = cells.groupBy(col("x")).agg(sum(col("o")).cast("long").as("rx"))
    val cm = cells.groupBy(col("y")).agg(sum(col("o")).cast("long").as("cy"))
    val tot = cells.agg(sum(col("o")).cast("long").as("n"),
      countDistinct(col("x")).cast("long").as("r"),
      countDistinct(col("y")).cast("long").as("c"))
    val chi = cells.join(rm, "x").join(cm, "y").crossJoin(broadcast(tot))
      .withColumn("e", d(col("rx")) * d(col("cy")) / d(col("n")))
      .withColumn("contrib",
        (d(col("o")) - col("e")) * (d(col("o")) - col("e")) / col("e")
          - col("e"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(expr("aggregate(sort_array(collect_list(struct(x, y, contrib)))," +
        " 0D, (a, q) -> a + q.contrib)").as("cs"))
      .withColumn("chi2", d(col("n")) + col("cs"))
    val phi2 = col("chi2") / d(col("n"))
    val phi2c = greatest(lit(0.0),
      phi2 - d((col("r") - 1L) * (col("c") - 1L)) / d(col("n") - 1L))
    val rt = d(col("r")) - d((col("r") - 1L) * (col("r") - 1L)) /
      d(col("n") - 1L)
    val ct = d(col("c")) - d((col("c") - 1L) * (col("c") - 1L)) /
      d(col("n") - 1L)
    chi.select(lit(label).as("pair"), col("n"), col("r"), col("c"),
      round(col("chi2"), 6).as("chi2"),
      round(sqrt(col("chi2") / (d(col("n")) *
        d(least(col("r"), col("c")) - 1L))), 6).as("v"),
      round(sqrt(phi2c / (least(rt, ct) - 1.0)), 6).as("v_corrected"))
  }

  val aCramersV: Q = (s, dir) => {
    val orders = Tables.table(s, dir, "orders")
      .select(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
    val li = Tables.table(s, dir, "lineitem")
      .select(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
    val ev = Tables.table(s, dir, "events")
      .select(col("event_type").as("x"),
        hour(col("ts")).cast("string").as("y"))
    cramer(orders, "orders_priority_x_status")
      .unionAll(cramer(li, "lineitem_returnflag_x_linestatus"))
      .unionAll(cramer(ev, "events_type_x_hour"))
      .orderBy(col("pair"))
  }

  // ---------------------------------------------------------------
  // a_hoeffding_sample — how many orders must a profiling job sample
  // to pin mean order value within ±ε·mean at confidence 1−δ?
  // Distribution-free: n ≥ (max−min)²·ln(2/δ) / (2ε²) (Hoeffding
  // 1963); CLT: n ≥ z²σ²/ε². Moments are EXACT through decimal(38)
  // cents sums with the micro-unit integral division (the a_var_merge
  // portability discipline); the (ε, δ) grid is a 6-row literal.
  // The ratio column is the price of distribution-freeness — the
  // advisor a 100 TB pipeline consults before choosing between a
  // blind sample and a pilot-variance two-phase design.
  // ---------------------------------------------------------------
  private val HoeffGrid: Seq[(Double, Double, Double)] = Seq(
    // (eps_rel, delta, z_{delta/2})
    (0.01, 0.05, 1.959963984540054), (0.01, 0.01, 2.5758293035489004),
    (0.02, 0.05, 1.959963984540054), (0.02, 0.01, 2.5758293035489004),
    (0.05, 0.05, 1.959963984540054), (0.05, 0.01, 2.5758293035489004))

  val aHoeffdingSample: Q = (s, dir) => {
    val base = Tables.table(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val st = base.agg(count(lit(1)).cast("long").as("n"),
      min(col("cents")).as("mn"), max(col("cents")).as("mx"),
      sum(col("cents")).cast("decimal(38,0)").as("s"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("ss"))
      .withColumn("num",
        col("n").cast("decimal(38,0)") * col("ss") - col("s") * col("s"))
      // dollars via exact micro-unit integral division, ONE
      // bigint→double conversion each (the a_var_merge discipline)
      .withColumn("mean_usd",
        expr("CAST((s * 10000) div n AS BIGINT)") / lit(1000000.0))
      .withColumn("var_usd2",
        expr("CAST((num * 100) div (n * (n - 1)) AS BIGINT)") /
          lit(1000000.0))
      .withColumn("range_usd", d(col("mx") - col("mn")) / lit(100.0))
    val grid = HoeffGrid.map { case (e, dl, z) =>
      struct(lit(e).as("eps_rel"), lit(dl).as("delta"), lit(z).as("z"))
    }
    st.select(col("*"), explode(array(grid: _*)).as("g"))
      .withColumn("eps_abs", col("g.eps_rel") * col("mean_usd"))
      .select(col("g.eps_rel").as("eps_rel"), col("g.delta").as("delta"),
        round(col("eps_abs"), 6).as("eps_abs_usd"),
        ceil(col("range_usd") * col("range_usd") *
          log(lit(2.0) / col("g.delta")) /
          (lit(2.0) * col("eps_abs") * col("eps_abs"))).cast("long")
          .as("n_hoeffding"),
        ceil(col("g.z") * col("g.z") * col("var_usd2") /
          (col("eps_abs") * col("eps_abs"))).cast("long").as("n_clt"),
        round(ceil(col("range_usd") * col("range_usd") *
          log(lit(2.0) / col("g.delta")) /
          (lit(2.0) * col("eps_abs") * col("eps_abs"))) /
          ceil(col("g.z") * col("g.z") * col("var_usd2") /
            (col("eps_abs") * col("eps_abs"))), 6).as("hoeffding_penalty"),
        (ceil(col("g.z") * col("g.z") * col("var_usd2") /
          (col("eps_abs") * col("eps_abs"))).cast("long") <= col("n"))
          .as("clt_feasible"))
      .orderBy(col("eps_rel"), col("delta"))
  }

  private def cramerSql(src: String, label: String): String =
    s"""SELECT '$label' AS pair, n, r, c, round(chi2, 6) AS chi2,
       |       round(sqrt(chi2 / (CAST(n AS DOUBLE)
       |         * CAST(least(r, c) - 1 AS DOUBLE))), 6) AS v,
       |       round(sqrt(
       |         greatest(0.0, chi2 / CAST(n AS DOUBLE)
       |           - CAST((r - 1) * (c - 1) AS DOUBLE)
       |             / CAST(n - 1 AS DOUBLE))
       |         / (least(
       |             CAST(r AS DOUBLE) - CAST((r - 1) * (r - 1) AS DOUBLE)
       |               / CAST(n - 1 AS DOUBLE),
       |             CAST(c AS DOUBLE) - CAST((c - 1) * (c - 1) AS DOUBLE)
       |               / CAST(n - 1 AS DOUBLE)) - 1.0)), 6) AS v_corrected
       |FROM (
       |  SELECT n, r, c, CAST(n AS DOUBLE) + list_sum(list(
       |           (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e - e
       |           ORDER BY x, y)) AS chi2
       |  FROM (
       |    SELECT cl.x, cl.y, cl.o, t.n, t.r, t.c,
       |           CAST(rm.rx AS DOUBLE) * CAST(cm.cy AS DOUBLE)
       |             / CAST(t.n AS DOUBLE) AS e
       |    FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS o
       |          FROM ($src) GROUP BY 1, 2) cl
       |    JOIN (SELECT x, CAST(sum(o) AS BIGINT) AS rx FROM
       |          (SELECT x, y, count(*) AS o FROM ($src) GROUP BY 1, 2)
       |          GROUP BY 1) rm ON cl.x = rm.x
       |    JOIN (SELECT y, CAST(sum(o) AS BIGINT) AS cy FROM
       |          (SELECT x, y, count(*) AS o FROM ($src) GROUP BY 1, 2)
       |          GROUP BY 1) cm ON cl.y = cm.y
       |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n,
       |                CAST(count(DISTINCT x) AS BIGINT) AS r,
       |                CAST(count(DISTINCT y) AS BIGINT) AS c
       |                FROM ($src)) t)
       |  GROUP BY n, r, c)""".stripMargin

  // ---------------------------------------------------------------
  // a_kendall_taub — τ-b between daily order count and daily revenue
  // over all day pairs: C, D, and the single-sided tie counts are
  // EXACT LONGS off one day₁<day₂ self-join of the ≤calendar-length
  // daily frame (pairs of DAYS, never of orders — the w_theil_sen /
  // a_hodges_lehmann boundedness class: at 100× the fact data the
  // day count barely moves). τ-b = (C−D)/√((n₀−t_x)(n₀−t_y)); the
  // z uses the no-tie null variance n(n−1)(2n+5)/18 (the standard
  // first-order approximation, stated as such).
  // ---------------------------------------------------------------
  val aKendallTaub: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .cast("long").as("y"))
      .transform(Barrier.materialize) // both sides of the day-pair lattice
    val a = daily.alias("a"); val b = daily.alias("b")
    val pairs = a.join(b, col("a.day") < col("b.day"))
      .select(
        signum(d(col("b.x")) - d(col("a.x"))).as("sx"),
        signum(d(col("b.y")) - d(col("a.y"))).as("sy"))
    val st = pairs.agg(
      count(lit(1)).cast("long").as("n0"),
      sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).cast("long")
        .as("c"),
      sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).cast("long")
        .as("dd"),
      sum(when(col("sx") === 0 && col("sy") =!= 0, 1L).otherwise(0L))
        .cast("long").as("tx"),
      sum(when(col("sy") === 0 && col("sx") =!= 0, 1L).otherwise(0L))
        .cast("long").as("ty"),
      sum(when(col("sx") === 0 && col("sy") === 0, 1L).otherwise(0L))
        .cast("long").as("txy"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).cast("long").as("n"))))
    val taub = d(col("c") - col("dd")) /
      sqrt(d(col("n0") - col("tx") - col("txy")) *
        d(col("n0") - col("ty") - col("txy")))
    val z = (lit(3.0) * d(col("c") - col("dd"))) /
      sqrt(d(col("n")) * d(col("n") - 1L) * (lit(2.0) * d(col("n")) + 5.0)
        / 2.0)
    st.select(col("n").as("n_days"), col("n0").as("n_pairs"),
      col("c").as("concordant"), col("dd").as("discordant"),
      col("tx").as("ties_x"), col("ty").as("ties_y"),
      round(taub, 6).as("tau_b"), round(z, 6).as("z"))
  }

  // ---------------------------------------------------------------
  // a_bootstrap_bca — BCa on mean(value): the percentile interval's
  // two corrections. z₀ = Φ⁻¹(#{mean_b < θ̂}/B) (clamped into
  // [1/(B+1), B/(B+1)]); acceleration a = Σd³/(6·(Σd²)^{3/2}·√n) —
  // the jackknife closed form for the mean (θ̄₍ᵢ₎ deviations are
  // (xᵢ−x̄)/(n−1), so the (n−1) powers cancel). Central power sums
  // are EXACT: cent-quantized values, decimal(38) Σx²/Σx³,
  // A2 = nΣx²−S², A3 = n²Σx³−3nSΣx²+2S³, each scaled to a BIGINT
  // by an integral division (÷10⁶ / ÷10¹⁵ — headroom through ~10⁹
  // rows) before its ONE double conversion (the
  // a_var_merge discipline — a raw dec38→double conversion rounds
  // differently across engines). Φ⁻¹ is Acklam's rational
  // approximation, Φ the A&S 7.1.26 erf polynomial — pure
  // +,×,÷,ln,sqrt,exp arithmetic, identical both engines. Adjusted
  // quantiles map to EXACT order statistics of the 64 rep means
  // (index floor(α·B)+1, clamped). Scale shape: the B×corpus
  // explode is the registered bootstrap's own (map-combining per
  // rep); everything after runs on the 64-row rep frame.
  // ---------------------------------------------------------------
  private val BcaB = 64

  private val ZAlpha = 1.959963984540054 // Φ⁻¹(0.975)

  /** Acklam's Φ⁻¹ — branch thresholds and coefficients verbatim. */
  private def probit(p: Column): Column = {
    val pl = 0.02425
    def central: Column = {
      val q = p - 0.5; val r = q * q
      (((((lit(-39.69683028665376) * r + 220.9460984245205) * r +
        -275.9285104469687) * r + 138.357751867269) * r +
        -30.66479806614716) * r + 2.506628277459239) * q /
        ((((((lit(-54.47609879822406) * r + 161.5858368580409) * r +
          -155.6989798598866) * r + 66.80131188771972) * r +
          -13.28068155288572) * r) + 1.0)
    }
    def tail(pp: Column): Column = {
      val q = sqrt(lit(-2.0) * log(pp))
      (((((lit(-0.007784894002430293) * q + -0.3223964580411365) * q +
        -2.400758277161838) * q + -2.549732539343734) * q +
        4.374664141464968) * q + 2.938163982698783) /
        (((((lit(0.007784695709041462) * q + 0.3224671290700398) * q +
          2.445134137142996) * q + 3.754408661907416) * q) + 1.0)
    }
    when(p < pl, tail(p))
      .when(p > 1.0 - pl, -tail(lit(1.0) - p))
      .otherwise(central)
  }

  private def phi(z: Column): Column =
    when(z >= 0.0, lit(0.5) * (lit(1.0) + erfAS(z / math.sqrt(2.0))))
      .otherwise(lit(0.5) * (lit(1.0) - erfAS(-z / math.sqrt(2.0))))

  val aBootstrapBca: Q = (s, dir) => {
    val base = Tables.table(s, dir, "events")
      .select(col("event_id"),
        expr("CAST(floor(CAST(value AS DECIMAL(18,2)) * 1000000) AS BIGINT)")
          .as("m"),
        round(col("value") * 100).cast("long").as("cents"))
      .transform(Barrier.materialize) // reps + point + the central power sums
    val tArr = array(poissonT.map(lit): _*)
    val rep = base
      .withColumn("b", explode(sequence(lit(0), lit(BcaB - 1))))
      .withColumn("h", conv(substring(md5(concat(
        col("event_id").cast("string"), lit("#"), col("b").cast("string"))),
        1, 12), 16, 10).cast("long"))
      .withColumn("w", size(filter(tArr, t => t <= col("h"))).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w")).cast("long").as("nb"),
        sum(col("w") * col("m")).cast("long").as("sb"))
      .withColumn("mean_b", d(col("sb")) / d(col("nb")) / lit(1000000.0))
    val point = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("m")).cast("long").as("sm"),
      sum(col("cents")).cast("decimal(38,0)").as("s1"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("s2"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)") *
        col("cents").cast("decimal(38,0)")).cast("decimal(38,0)").as("s3"))
      .withColumn("theta", d(col("sm")) / d(col("n")) / lit(1000000.0))
      // A2 = nΣx²−S², A3 = n²Σx³−3nSΣx²+2S³ — exact, then scaled
      // integral divisions give the ONE bigint→double each
      .withColumn("a2d",
        expr("CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) div 1000000" +
          " AS BIGINT)").cast("double") * lit(1.0e6))
      .withColumn("a3d",
        expr("CAST((CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))" +
          " * s3 - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2" +
          " + 2 * s1 * s1 * s1) div 1000000000000000 AS BIGINT)")
          .cast("double") * lit(1.0e15))
      .withColumn("accel",
        col("a3d") / (lit(6.0) * pow(col("a2d"), 1.5) * sqrt(d(col("n")))))
    val folded = rep.agg(
      sort_array(collect_list(struct(col("mean_b"), col("b")))).as("byv"))
    val j = folded.crossJoin(broadcast(point))
      .withColumn("cnt_below", expr(
        "CAST(size(filter(byv, x -> x.mean_b < theta)) AS BIGINT)"))
      .withColumn("p0",
        least(greatest(d(col("cnt_below")) / lit(BcaB.toDouble),
          lit(1.0 / (BcaB + 1))), lit(BcaB.toDouble / (BcaB + 1))))
      .withColumn("z0", probit(col("p0")))
      .withColumn("zl", col("z0") +
        (col("z0") - ZAlpha) /
          (lit(1.0) - col("accel") * (col("z0") - ZAlpha)))
      .withColumn("zu", col("z0") +
        (col("z0") + ZAlpha) /
          (lit(1.0) - col("accel") * (col("z0") + ZAlpha)))
      .withColumn("al", phi(col("zl")))
      .withColumn("au", phi(col("zu")))
      .withColumn("i1", least(greatest(
        (floor(col("al") * BcaB) + 1).cast("int"), lit(1)), lit(BcaB)))
      .withColumn("i2", least(greatest(
        (floor(col("au") * BcaB) + 1).cast("int"), lit(1)), lit(BcaB)))
    j.select(col("n").as("n_events"), lit(BcaB.toLong).as("b_reps"),
      round(col("theta"), 6).as("point_mean"),
      round(col("z0"), 6).as("z0"),
      round(col("accel"), 6).as("accel"),
      round(col("al"), 6).as("alpha_lo"),
      round(col("au"), 6).as("alpha_hi"),
      round(element_at(col("byv"), col("i1")).getField("mean_b"), 6)
        .as("bca_lo"),
      round(element_at(col("byv"), col("i2")).getField("mean_b"), 6)
        .as("bca_hi"),
      round(element_at(col("byv"), 2).getField("mean_b"), 6).as("pct_lo"),
      round(element_at(col("byv"), BcaB - 1).getField("mean_b"), 6)
        .as("pct_hi"))
  }

  /** A&S erf Φ over `z` (a column ref) — the a_bh_fdr polynomial. */
  private def phiSql(z: String): String = {
    def erf(x: String) =
      s"""(1.0 - (1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592
         |  + (1.0 / (1.0 + 0.3275911 * $x)) * ((-0.284496736)
         |  + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741
         |  + (1.0 / (1.0 + 0.3275911 * $x)) * ((-1.453152027)
         |  + (1.0 / (1.0 + 0.3275911 * $x)) * 1.061405429))))
         |  * exp(-($x * $x)))""".stripMargin.replaceAll("\n", " ")
    s"""CASE WHEN $z >= 0.0
       |     THEN 0.5 * (1.0 + ${erf(s"($z / sqrt(2.0))")})
       |     ELSE 0.5 * (1.0 - ${erf(s"(-($z) / sqrt(2.0))")}) END"""
      .stripMargin
  }

  // ---------------------------------------------------------------
  // a_hypothetical_rank — "where would a $500 / $5,000 / $50,000
  // order land?": RANK = 1 + #{v < x}, PERCENT_RANK = (RANK−1)/n,
  // CUME_DIST = #{v ≤ x}/n — all from ONE map-side value aggregate
  // and a 3-value broadcast grid, never a per-row window. The
  // SQL-standard hypothetical-set semantics (ties of x do not count
  // toward RANK, do count toward CUME_DIST).
  // ---------------------------------------------------------------
  private val HypoValues = Seq(500.0, 5000.0, 50000.0)

  val aHypotheticalRank: Q = (s, dir) => {
    val cents = Tables.table(s, dir, "orders")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"))
    val grid = array(HypoValues.map(v => lit((v * 100).toLong)): _*)
    cents.select(col("v"), explode(grid).as("x"))
      .groupBy(col("x"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("v") < col("x"), 1L).otherwise(0L)).cast("long")
          .as("n_below"),
        sum(when(col("v") <= col("x"), 1L).otherwise(0L)).cast("long")
          .as("n_at_or_below"))
      .select((d(col("x")) / 100.0).as("hypothetical_usd"),
        col("n").as("n_orders"),
        (col("n_below") + 1L).as("rank"),
        round(d(col("n_below")) / d(col("n")), 6).as("percent_rank"),
        round(d(col("n_at_or_below")) / d(col("n")), 6).as("cume_dist"))
      .orderBy(col("hypothetical_usd"))
  }

  // Classical hypothesis tests the DQ/monitoring
  // surface was still missing — group-mean and group-variance
  // contrasts, a normality gate, and a residual-autocorrelation
  // check on the registered trend fit.
  //
  //  - a_anova_f — one-way ANOVA: does mean order value differ
  //    across the five order priorities? F, effect sizes (η², ω²),
  //    large-sample χ² p-approximation.
  //  - a_levene_bf — Brown–Forsythe (median-centered Levene): do the
  //    priorities differ in SPREAD, not just mean — the
  //    variance-homogeneity precondition the ANOVA above assumes.
  //  - a_jarque_bera — skewness/kurtosis normality test on daily
  //    revenue; the χ²(2) p-value is closed-form (exp(−JB/2)).
  //  - w_durbin_watson — Durbin–Watson on the residuals of the daily
  //    revenue OLS time trend: leftover lag-1 autocorrelation the
  //    trend line does not explain.
  //
  // Float policy (the a_corr_regr / a_cramers_v discipline): all
  // counts/sums are exact longs/decimal(38,0); every float reduction
  // folds in a pinned sort order (group name / calendar day); the
  // libm-touched outputs are round-6.

  // ---------------------------------------------------------------
  // Shared one-way ANOVA over exact per-group moments. Input frame:
  // (g: string, n: long, s: decimal38 Σx, ss: decimal38 Σx²). The
  // between/within split works on Σ_g s_g²/n_g, folded g-ascending
  // (≤ groups rows — bounded by the categorical's cardinality at
  // any corpus size; the corpus itself reduces in ONE map-side
  // two-phase aggregate). F, η², ω² are scale-invariant, so cents
  // in = the same statistics out. The χ² large-sample p
  // (df1·F ~ χ²_df1 as df2→∞) has the closed survival
  // exp(−x/2)·Σ_{j<df1/2}(x/2)^j/j! for EVEN df1; emitted for
  // df1 = 4 (five groups), NULL otherwise — never an approximation
  // the replay can't reproduce bit-for-bit.
  // ---------------------------------------------------------------
  private def anovaFromMoments(groups: DataFrame,
      verdictYes: String, verdictNo: String): DataFrame = {
    val tot = groups.agg(
      sum(col("n")).cast("long").as("nn"),
      count(lit(1)).cast("long").as("k"),
      sum(col("s")).cast("decimal(38,0)").as("st"),
      sum(col("ss")).cast("decimal(38,0)").as("sst"))
    val bsum = groups
      .select(col("g"), (d(col("s")) * d(col("s")) / d(col("n"))).as("b"))
      .agg(expr("aggregate(sort_array(collect_list(struct(g, b))), 0D," +
        " (a, q) -> a + q.b)").as("sb"))
    val m = bsum.crossJoin(broadcast(tot))
      .withColumn("ssb", col("sb") - d(col("st")) * d(col("st")) / d(col("nn")))
      .withColumn("ssw", d(col("sst")) - col("sb"))
      .withColumn("df1", (col("k") - 1L).cast("long"))
      .withColumn("df2", (col("nn") - col("k")).cast("long"))
      .withColumn("msw", col("ssw") / d(col("df2")))
      .withColumn("f", (col("ssb") / d(col("df1"))) / col("msw"))
      // hashed-output discipline (PLANS.md, the granger lesson): the
      // χ²(df1·F) survival goes through exp(), whose libm ulps differ
      // across engines — p ships as a BUCKET from fixed χ²(4)
      // critical values via integer compares on floor(df1·F·10⁶)
      // (F is a pure rational of exact moments: deterministic), and
      // the verdict derives from the same integer compare. Emitted
      // only for df1 = 4 (the closed form's domain), like the old p.
      .withColumn("xm", when(col("df1") === 4L,
        floor(d(col("df1")) * col("f") * lit(1.0e6)).cast("long"))
        .otherwise(lit(null).cast("long")))
    m.select(col("nn").as("n_rows"), col("k").as("n_groups"),
      col("df1"), col("df2"),
      round(col("f"), 6).as("f_stat"),
      round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta2"),
      round((col("ssb") - d(col("df1")) * col("msw")) /
        (col("ssb") + col("ssw") + col("msw")), 6).as("omega2"),
      when(col("xm") >= 18466826L, "p<0.001")
        .when(col("xm") >= 13276704L, "p<0.01")
        .when(col("xm") >= 9487729L, "p<0.05")
        .when(col("xm") >= 7779440L, "p<0.10")
        .when(col("xm").isNotNull, "p>=0.10")
        .otherwise(lit(null).cast("string")).as("p_bucket"),
      when(col("xm") >= 9487729L, verdictYes).otherwise(lit(verdictNo))
        .as("verdict"))
  }

  /** Per-group exact cents moments of order value by priority. */
  private def priorityMoments(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("s"),
        sum((col("x") * col("x")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("ss"))

  val aAnovaF: Q = (s, dir) =>
    anovaFromMoments(priorityMoments(s, dir), "means_differ", "no_evidence")

  // ---------------------------------------------------------------
  // a_levene_bf — Brown–Forsythe: ANOVA on |x − median_g|. Group
  // medians are EXACT order statistics off value-level counts
  // (group by (g, cents), cumulative count per group over the
  // value axis — the a_mann_whitney value-level discipline: the
  // window walks distinct prices per group, never rows). Both
  // central order stats v⌈(n+1)/2⌉, v⌈(n+2)/2⌉ are taken, so the
  // even-n median is exact in HALF-cents (dev = |2x − (v1+v2)|,
  // all longs). The deviations then reuse the exact-moment ANOVA.
  // ---------------------------------------------------------------
  val aLeveneBf: Q = (s, dir) => {
    val xs = Tables.table(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("x"))
      .transform(Barrier.materialize) // feeds the median pass AND the deviation pass
    val vals = xs.groupBy(col("g"), col("x"))
      .agg(count(lit(1)).cast("long").as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("x"))
    val cum = vals
      .withColumn("cum", sum(col("c")).over(w).cast("long"))
      .withColumn("ng", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g")))
        .cast("long"))
    def orderStat(kExpr: Column, name: String): DataFrame =
      cum.filter(col("cum") >= kExpr)
        .groupBy(col("g")).agg(min(col("x")).as(name))
    // integral rank positions (Spark `/` on columns is DOUBLE division)
    val v1 = orderStat(expr("(ng + 1) div 2"), "v1")
    val v2 = orderStat(expr("(ng + 2) div 2"), "v2")
    val med = v1.join(v2, "g")
      .select(col("g"), (col("v1") + col("v2")).cast("long").as("med2"))
    val dev = xs.join(broadcast(med), "g")
      .select(col("g"), abs(col("x") * 2L - col("med2")).cast("long").as("x"))
    val moments = dev.groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("s"),
        sum((col("x") * col("x")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("ss"))
    anovaFromMoments(moments, "spreads_differ", "homoscedastic")
  }

  // ---------------------------------------------------------------
  // a_jarque_bera — daily revenue (cents, exact longs; skewness and
  // kurtosis are scale-invariant so the unit never matters). Mean
  // is the exact micro-cent integral division; the three central
  // power sums fold day-ascending over the calendar-bounded series
  // (days, not rows — at 100 TB the corpus still reduces to one
  // two-phase daily aggregate). χ²(2) survival is exactly
  // exp(−JB/2), so the p-value is closed-form — no approximation
  // gap between engine and oracle.
  // ---------------------------------------------------------------
  val aJarqueBera: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
    val st = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"))
      .withColumn("mean",
        expr("CAST((sx * 1000000) div n AS BIGINT)") / lit(1000000.0))
    val folds = daily.crossJoin(broadcast(st))
      .select(col("n"), col("day"), (d(col("x")) - col("mean")).as("dev"))
      .select(col("n"), col("day"), col("dev"),
        (col("dev") * col("dev")).as("d2"))
      .select(col("n"), col("day"), col("d2"),
        (col("d2") * col("dev")).as("d3"),
        (col("d2") * col("d2")).as("d4"))
      .groupBy(col("n"))
      .agg(
        expr("aggregate(sort_array(collect_list(struct(day, d2))), 0D," +
          " (a, q) -> a + q.d2)").as("s2"),
        expr("aggregate(sort_array(collect_list(struct(day, d3))), 0D," +
          " (a, q) -> a + q.d3)").as("s3"),
        expr("aggregate(sort_array(collect_list(struct(day, d4))), 0D," +
          " (a, q) -> a + q.d4)").as("s4"))
    val m2 = col("s2") / d(col("n"))
    // m2^1.5 as m2·sqrt(m2): pow() is a libm transcendental (NOT
    // correctly rounded, engine-divergent ulps) while sqrt is
    // IEEE-correctly-rounded — skew stays deterministic
    val skew = (col("s3") / d(col("n"))) / (m2 * sqrt(m2))
    val kurt = (col("s4") / d(col("n"))) / (m2 * m2)
    folds
      .withColumn("jb", d(col("n")) / 6.0 *
        (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0))
      // hashed-output discipline: p = exp(−jb/2) goes through libm —
      // ship a bucket from fixed χ²(2) critical values via integer
      // compares on floor(jb·10⁶) (jb is rational+sqrt of exact
      // moments: deterministic), verdict from the same compare
      .withColumn("jbm", floor(col("jb") * lit(1.0e6)).cast("long"))
      .select(col("n").as("n_days"),
        round(skew, 6).as("skewness"),
        round(kurt, 6).as("kurtosis"),
        round(col("jb"), 6).as("jb_stat"),
        when(col("jbm") >= 13815510L, "p<0.001")
          .when(col("jbm") >= 9210340L, "p<0.01")
          .when(col("jbm") >= 5991464L, "p<0.05")
          .when(col("jbm") >= 4605170L, "p<0.10")
          .otherwise(lit("p>=0.10")).as("p_bucket"),
        when(col("jbm") >= 5991464L, "non_normal")
          .otherwise(lit("normal")).as("verdict"))
  }

  /** Shared oracle tail: ANOVA formulas from per-group (g,n,s,ss). */
  private def anovaOracleTail(verdictYes: String, verdictNo: String): String =
    s"""tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
       |         CAST(sum(s) AS DECIMAL(38,0)) AS st,
       |         CAST(sum(ss) AS DECIMAL(38,0)) AS sst
       |  FROM grp),
       |bs AS (
       |  SELECT list_sum(list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |           / CAST(n AS DOUBLE) ORDER BY g)) AS sb
       |  FROM grp),
       |m AS (
       |  SELECT t.nn, t.k, t.k - 1 AS df1, t.nn - t.k AS df2,
       |         b.sb - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
       |           / CAST(t.nn AS DOUBLE) AS ssb,
       |         CAST(t.sst AS DOUBLE) - b.sb AS ssw
       |  FROM bs b CROSS JOIN tot t),
       |f AS (
       |  SELECT nn, k, df1, df2, ssb, ssw, ssw / CAST(df2 AS DOUBLE) AS msw,
       |         (ssb / CAST(df1 AS DOUBLE)) / (ssw / CAST(df2 AS DOUBLE))
       |           AS fv
       |  FROM m),
       |x AS (
       |  SELECT *, CASE WHEN df1 = 4 THEN
       |    CAST(floor(CAST(df1 AS DOUBLE) * fv * 1.0e6) AS BIGINT)
       |    ELSE NULL END AS xm
       |  FROM f)
       |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_groups,
       |       CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
       |       round(fv, 6) AS f_stat,
       |       round(ssb / (ssb + ssw), 6) AS eta2,
       |       round((ssb - CAST(df1 AS DOUBLE) * msw)
       |         / (ssb + ssw + msw), 6) AS omega2,
       |       CASE WHEN xm >= 18466826 THEN 'p<0.001'
       |            WHEN xm >= 13276704 THEN 'p<0.01'
       |            WHEN xm >= 9487729 THEN 'p<0.05'
       |            WHEN xm >= 7779440 THEN 'p<0.10'
       |            WHEN xm IS NOT NULL THEN 'p>=0.10'
       |            ELSE NULL END AS p_bucket,
       |       CASE WHEN xm >= 9487729
       |         THEN '$verdictYes' ELSE '$verdictNo' END AS verdict
       |FROM x""".stripMargin

  // ---------------------------------------------------------------
  // a_qq_normal — daily revenue vs the fitted normal on a 19-point
  // quantile grid: exact order statistics off value-level
  // cumulative counts, μ/σ from exact decimal moments (variance
  // through the ÷10⁶ quantization rule — the Granger discipline),
  // z_p by Acklam probit, and the QQ correlation across the grid.
  // ---------------------------------------------------------------
  private val QqGrid: Seq[Double] = (1 to 19).map(_ * 0.05)

  val aQqNormal: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .transform(Barrier.materialize) // moments + quantile pass
    val mo = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      // widen BEFORE multiplying: day-grain revenue cents square
      // past Long at the 10× probe scale (ANSI overflow)
      sum(col("x").cast("decimal(38,0)") * col("x"))
        .cast("decimal(38,0)").as("sxx"))
      .withColumn("mean_c",
        d(expr("CAST((sx * 1000000) div n AS BIGINT)")) / lit(1.0e6))
      .withColumn("var_c",
        d(expr("CAST(((CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)" +
          " div (n * (n - 1))) div 1000000 AS BIGINT)")) * lit(1.0e6))
      .withColumn("sd_c", sqrt(col("var_c")))
    val w = Grain.bounded(col("x"))
    val cum = daily.groupBy(col("x"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("cum", sum(col("c")).over(w).cast("long"))
    val grid = cum.crossJoin(broadcast(mo))
      .select(col("x"), col("cum"), col("n"), col("mean_c"), col("sd_c"),
        explode(array(QqGrid.map(lit): _*)).as("p"))
      .filter(col("cum") >= ceil(col("p") * d(col("n"))).cast("long"))
      .groupBy(col("p"), col("n"), col("mean_c"), col("sd_c"))
      .agg(min(col("x")).as("q_c"))
    val z = probitCol(col("p"))
    val pts = grid
      .select(col("p"), col("n"), col("q_c"), col("mean_c"), col("sd_c"),
        z.as("z"))
      .transform(Barrier.materialize) // rows + the correlation fold
    val corr = pts
      .select(col("p"), d(col("q_c")).as("q"), col("z"))
      .agg(count(lit(1)).cast("long").as("k"),
        expr("aggregate(sort_array(collect_list(struct(p, q))), 0D," +
          " (a, x) -> a + x.q)").as("sq"),
        expr("aggregate(sort_array(collect_list(struct(p, z))), 0D," +
          " (a, x) -> a + x.z)").as("sz"),
        expr("aggregate(sort_array(collect_list(struct(p, q * q AS v))), 0D," +
          " (a, x) -> a + x.v)").as("sqq"),
        expr("aggregate(sort_array(collect_list(struct(p, z * z AS v))), 0D," +
          " (a, x) -> a + x.v)").as("szz"),
        expr("aggregate(sort_array(collect_list(struct(p, q * z AS v))), 0D," +
          " (a, x) -> a + x.v)").as("sqz"))
      .select(((d(col("k")) * col("sqz") - col("sq") * col("sz")) /
        (sqrt(d(col("k")) * col("sqq") - col("sq") * col("sq")) *
          sqrt(d(col("k")) * col("szz") - col("sz") * col("sz"))))
        .as("qq_corr"))
    pts.crossJoin(broadcast(corr))
      .select(round(col("p"), 2).as("p"),
        round(col("z"), 6).as("z_theoretical"),
        round(d(col("q_c")) / 100.0, 6).as("sample_usd"),
        round((col("mean_c") + col("sd_c") * col("z")) / 100.0, 6)
          .as("fitted_usd"),
        round(col("qq_corr"), 6).as("qq_corr"))
      .orderBy(col("p"))
  }

  /** Acklam's Φ⁻¹ (the a_bootstrap_bca coefficients, verbatim). */
  private def probitCol(p: Column): Column = {
    val pl = 0.02425
    def central: Column = {
      val q = p - 0.5; val r = q * q
      (((((lit(-39.69683028665376) * r + 220.9460984245205) * r +
        -275.9285104469687) * r + 138.357751867269) * r +
        -30.66479806614716) * r + 2.506628277459239) * q /
        ((((((lit(-54.47609879822406) * r + 161.5858368580409) * r +
          -155.6989798598866) * r + 66.80131188771972) * r +
          -13.28068155288572) * r) + 1.0)
    }
    def tail(pp: Column): Column = {
      val q = sqrt(lit(-2.0) * log(pp))
      (((((lit(-0.007784894002430293) * q + -0.3223964580411365) * q +
        -2.400758277161838) * q + -2.549732539343734) * q +
        4.374664141464968) * q + 2.938163982698783) /
        (((((lit(0.007784695709041462) * q + 0.3224671290700398) * q +
          2.445134137142996) * q + 3.754408661907416) * q) + 1.0)
    }
    when(p < pl, tail(p))
      .when(p > 1.0 - pl, -tail(lit(1.0) - p))
      .otherwise(central)
  }

  // Markov mixing diagnostics, the nonparametric
  // repeated-measures companion of the ANOVA family, and a
  // Simpson's-paradox slope audit.
  //
  //  - ev_markov_mixing — total-variation convergence of the
  //    event-type chain from a point mass toward its stationary
  //    distribution: TV(v·Pᵏ, π) per step k = 1..16. The readout
  //    behind "how long until the chain forgets where a session
  //    started" — the mixing companion of ev_markov_stationary
  //    (shared transition machinery).
  //  - a_friedman_test — Friedman rank test: do the five order
  //    priorities rank consistently WITHIN days? Blocks = complete
  //    days, exact half-unit midranks, χ²_F with the closed even-df
  //    χ²(4) survival.
  //  - a_simpsons_slopes — pooled vs per-group OLS slope directions
  //    (extended price on quantity by return flag): the aggregation-
  //    reversal audit a metrics review runs before trusting a pooled
  //    trend.

  // ---------------------------------------------------------------
  // a_friedman_test — blocks are MONTHS where ALL k priorities
  // transacted (complete blocks, the Friedman requirement; months
  // keep the block census dense at every SF); the within-block
  // midranks come from an exact month-keyed 5×5 self-join:
  // rank2 = 2·#{less} + #{equal} + 1 (double the midrank — exact
  // longs; ties on exact cent totals are possible and handled).
  // χ²_F = 3·ΣR2_j²/(n·k·(k+1)) − 3·n·(k+1); p is the closed
  // χ²(k−1) survival for k = 5. Per-treatment mean ranks ship with
  // the verdict row. Scale shape: the corpus reduces to the
  // (day, priority) aggregate; blocks join 5×5 within day.
  // ---------------------------------------------------------------
  val aFriedmanTest: Q = (s, dir) => {
    val cell = Tables.table(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("day"),
        col("o_orderpriority").as("trt"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("v"))
      .transform(Barrier.materialize) // completeness filter + both join sides
    val kAll = cell.agg(countDistinct(col("trt")).cast("long").as("k"))
    val complete = cell.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("nt"))
      .crossJoin(broadcast(kAll))
      .filter(col("nt") === col("k"))
      .select(col("day"))
    val blocks = cell.join(complete, "day")
    val a = blocks.alias("a"); val b = blocks.alias("b")
    val ranked = a.join(b, col("a.day") === col("b.day"))
      .groupBy(col("a.day").as("day"), col("a.trt").as("trt"))
      .agg((lit(1L) + sum(when(col("b.v") < col("a.v"), 2L)
        .when(col("b.v") === col("a.v"), 1L).otherwise(0L)).cast("long"))
        .as("rank2"))
    val rsum = ranked.groupBy(col("trt"))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(col("rank2")).cast("long").as("r2"))
      .transform(Barrier.materialize) // the χ² fold + the per-treatment rows
    val chi = rsum.crossJoin(broadcast(kAll))
      .select(col("trt"), col("n_blocks"), col("k"), col("r2"))
      .groupBy(col("n_blocks"), col("k"))
      .agg(expr("aggregate(sort_array(collect_list(struct(trt," +
        " CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) AS q))), 0D," +
        " (a, x) -> a + x.q)").as("sr2"))
      .withColumn("chi2",
        lit(3.0) * col("sr2") /
          (d(col("n_blocks")) * d(col("k")) * d(col("k") + 1L)) -
          lit(3.0) * d(col("n_blocks")) * d(col("k") + 1L))
      // hashed-output discipline (PLANS.md): the χ²(4) survival
      // exp(−x/2)·(1+x/2) goes through libm exp — p ships as a
      // BUCKET from fixed χ²(4) critical values via integer compares
      // on floor(chi2·10⁶) (chi2 is rational of exact longs:
      // deterministic). Emitted only for k = 5 (df = 4), NULL
      // otherwise — like the old closed-form p.
      .withColumn("xm", when(col("k") === 5L,
        floor(col("chi2") * lit(1.0e6)).cast("long"))
        .otherwise(lit(null).cast("long")))
    rsum.crossJoin(broadcast(chi.select(col("chi2"), col("xm"))))
      .select(col("trt").as("priority"), col("n_blocks"),
        round(d(col("r2")) / 2.0 / d(col("n_blocks")), 6).as("mean_rank"),
        round(col("chi2"), 6).as("chi2_friedman"),
        when(col("xm") >= 18466826L, "p<0.001")
          .when(col("xm") >= 13276704L, "p<0.01")
          .when(col("xm") >= 9487729L, "p<0.05")
          .when(col("xm") >= 7779440L, "p<0.10")
          .when(col("xm").isNotNull, "p>=0.10")
          .otherwise(lit(null).cast("string")).as("p_bucket"),
        when(col("xm") >= 9487729L, "ranks_differ")
          .otherwise(lit("consistent")).as("verdict"))
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------
  // a_simpsons_slopes — OLS slope of extended price (cents) on
  // quantity, pooled and per return flag, from exact decimal
  // moments (the ÷10⁶ quantization rule on the >2^53 products).
  // A group whose slope sign disagrees with the pooled sign is a
  // Simpson reversal. One row per group plus the pooled row.
  // ---------------------------------------------------------------
  val aSimpsonsSlopes: Q = (s, dir) => {
    val rows = Tables.table(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("x"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("y"))
    def moments(df: DataFrame, label: Column): DataFrame =
      df.groupBy(label.as("grp"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        .select(col("grp"), col("n"),
          ((d(col("n")) *
            (d(expr("CAST(sxy div 1000000 AS BIGINT)")) * lit(1.0e6)) -
            d(col("sx")) * d(col("sy"))) /
            (d(col("n")) *
              (d(expr("CAST(sxx div 1000000 AS BIGINT)")) * lit(1.0e6)) -
              d(col("sx")) * d(col("sx")))).as("slope"))
    val pooled = moments(rows, lit("ALL"))
      .select(col("n").as("n_pooled"), col("slope").as("pooled_slope"))
    moments(rows, col("g"))
      .crossJoin(broadcast(pooled))
      .select(col("grp").as("group_flag"), col("n").as("n_rows"),
        round(col("slope"), 6).as("slope_cents_per_unit"),
        round(col("pooled_slope"), 6).as("pooled_slope"),
        (signum(col("slope")) =!= signum(col("pooled_slope")))
          .as("simpson_reversal"))
      .orderBy(col("group_flag"))
  }

  // ---------------------------------------------------------------
  // a_wilcoxon_signrank — pairs: (month m of year y) vs (m, y−1),
  // both present; d = exact cents difference, zeros dropped (the
  // standard signed-rank reduction). Midranks of |d| carry as
  // 2·midrank = 2·(# smaller) + (# equal incl. self) + 1 — exact
  // longs (the a_friedman_test discipline). W₂ = Σ_{d>0} rank2 =
  // 2·W⁺; E[W₂] = n(n+1)/2; Var(W₂)·12 = 2n(n+1)(2n+1) − Σ(t³−t)
  // (tie-corrected), all exact longs, so z is ONE double formula
  // over exact integers. p = 1 − erf(|z|/√2) two-sided via the
  // A&S polynomial. Scale shape: the corpus reduces in one monthly
  // aggregate (calendar-bounded rows); the rank join is over the
  // ≤#months² pair lattice.
  // ---------------------------------------------------------------
  val aWilcoxonSignrank: Q = (s, dir) => {
    val monthly = Tables.table(s, dir, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("rev"))
      .transform(Barrier.materialize) // both sides of the year-lag self-join
    val cur = monthly.alias("c"); val prv = monthly.alias("p")
    val pairs = cur.join(prv,
        col("c.m") === add_months(col("p.m"), 12))
      .select((col("c.rev") - col("p.rev")).as("dd"))
      .filter(col("dd") =!= 0L)
      .select(col("dd"), abs(col("dd")).as("ad"))
      .transform(Barrier.materialize) // rank join reads it twice + tie census
    val a = pairs.alias("a"); val b = pairs.alias("b")
    // grouping (a.dd, a.ad) sums the per-a quantity over the k_a
    // identical a rows too, so the agg carries k·(rank2 − 1); the
    // group's W₂ contribution k·rank2 is then agg + k — never
    // un-divide and re-multiply
    val ranked = a.crossJoin(b)
      .groupBy(col("a.dd").as("dd"), col("a.ad").as("ad"))
      .agg(sum(when(col("b.ad") < col("a.ad"), 2L)
        .when(col("b.ad") === col("a.ad"), 1L).otherwise(0L))
        .cast("long").as("kr2m1")) // = k·(rank2 − 1)
    val mult = pairs.groupBy(col("dd"), col("ad"))
      .agg(count(lit(1)).cast("long").as("k"))
    val w2 = ranked.join(mult, Seq("dd", "ad"))
      .agg(
        sum(col("k")).cast("long").as("n"),
        sum(when(col("dd") > 0L, col("kr2m1") + col("k"))
          .otherwise(0L)).cast("long").as("w2"))
    val ties = pairs.groupBy(col("ad"))
      .agg(count(lit(1)).cast("long").as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t"))
        .cast("long").as("tie3"))
    val zrow = w2.crossJoin(broadcast(ties))
      .withColumn("mean2", col("n") * (col("n") + 1L) / lit(2L))
      .withColumn("var12",
        lit(2L) * col("n") * (col("n") + 1L) * (lit(2L) * col("n") + 1L) -
          col("tie3"))
      .withColumn("z",
        d(col("w2") - col("mean2")) / sqrt(d(col("var12")) / lit(12.0)))
    // hashed-output discipline (PLANS.md): the normal survival went
    // through the erf polynomial's exp() — p now ships as a bucket
    // from fixed two-sided z criticals via integer compares on
    // floor(|z|·10⁶) (z is rational+sqrt of exact longs:
    // deterministic), verdict from the same compare
    zrow
      .withColumn("zm", floor(abs(col("z")) * lit(1.0e6)).cast("long"))
      .select(col("n").as("n_pairs"),
        (d(col("w2")) / lit(2.0)).as("w_plus"),
        round(col("z"), 6).as("z"),
        when(col("zm") >= 3290526L, "p<0.001")
          .when(col("zm") >= 2575829L, "p<0.01")
          .when(col("zm") >= 1959963L, "p<0.05")
          .when(col("zm") >= 1644853L, "p<0.10")
          .otherwise(lit("p>=0.10")).as("p_bucket"),
        when(col("zm") >= 1959963L, "shifted")
          .otherwise(lit("no_shift")).as("verdict"))
  }

  // ---------------------------------------------------------------
  // a_ks_two_sample — samples: daily revenue on weekend days
  // (dayofweek ∈ {Sun, Sat} — the a_cohens_h / ev_logrank weekend
  // convention) vs weekday days. The ECDF gap is computed on the
  // VALUE grid: per distinct revenue v, c1/c2 = cumulative group
  // counts (one window over the value order — day-grain rows), and
  // D·N1·N2 = max |c1·N2 − c2·N1| stays an EXACT long (≤ 2400³).
  // λ = (√nₑ + 0.12 + 0.11/√nₑ)·D (A&S / Numerical-Recipes form),
  // p = 2·Σ_{k=1..3} (−1)^{k−1} e^{−2k²λ²}, clamped to [0, 1].
  // Scale shape: the corpus reduces to the day grain; everything
  // after is calendar-bounded.
  // ---------------------------------------------------------------
  val aKsTwoSample: Q = (s, dir) => {
    val daily = Tables.table(s, dir, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .withColumn("we",
        when(dayofweek(col("day")).isin(1, 7), 1L).otherwise(0L))
    val wv = Grain.bounded(col("x"))
    val grid = daily.groupBy(col("x"))
      .agg(sum(col("we")).cast("long").as("g1"),
        sum(lit(1L) - col("we")).cast("long").as("g2"))
      .withColumn("c1", sum(col("g1")).over(wv).cast("long"))
      .withColumn("c2", sum(col("g2")).over(wv).cast("long"))
    val tot = daily.agg(sum(col("we")).cast("long").as("n1"),
      sum(lit(1L) - col("we")).cast("long").as("n2"))
    val dmax = grid.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("dn"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dn")).cast("long").as("dnum"))
      .withColumn("d_stat", d(col("dnum")) / (d(col("n1")) * d(col("n2"))))
      .withColumn("ne",
        d(col("n1")) * d(col("n2")) / (d(col("n1")) + d(col("n2"))))
      .withColumn("lam",
        (sqrt(col("ne")) + lit(0.12) + lit(0.11) / sqrt(col("ne"))) *
          col("d_stat"))
      // hashed-output discipline (PLANS.md): the 3-term KS survival
      // goes through exp() — p ships as a bucket from the fixed λ
      // criticals of that SAME truncated series (solved offline:
      // 2Σ(−1)^{k−1}e^{−2k²λ²} = α at λ = 1.223848 / 1.358099 /
      // 1.627624 / 1.949475), via integer compares on floor(λ·10⁶).
      // λ is rational+sqrt of exact counts: deterministic.
      .withColumn("lm", floor(col("lam") * lit(1.0e6)).cast("long"))
    dmax.select(col("n1").as("n_weekend"), col("n2").as("n_weekday"),
      round(col("d_stat"), 6).as("d_stat"),
      round(col("lam"), 6).as("lambda_ks"),
      when(col("lm") >= 1949474L, "p<0.001")
        .when(col("lm") >= 1627623L, "p<0.01")
        .when(col("lm") >= 1358098L, "p<0.05")
        .when(col("lm") >= 1223847L, "p<0.10")
        .otherwise(lit("p>=0.10")).as("p_bucket"),
      when(col("lm") >= 1358098L, "distributions_differ")
        .otherwise(lit("consistent")).as("verdict"))
  }

  val queries: Map[String, Q] = Map(
    "a_approx_distinct" -> aApproxDistinct,
    "a_entropy_priority" -> aEntropyPriority,
    "a_width_bucket" -> aWidthBucket,
    "a_corr_regr" -> aCorrRegr,
    "a_listagg_statuses" -> aListaggStatuses,
    "a_bool_bit_suite" -> aBoolBitSuite,
    "a_approx_percentile" -> aApproxPercentile,
    "a_salted_revenue" -> aSaltedRevenue,
    "a_grouping_sets" -> aGroupingSets,
    "a_bloom_prune" -> aBloomPrune,
    "a_weighted_stats" -> aWeightedStats,
    "a_minmax_by" -> aMinmaxBy,
    "a_having_heavy_customers" -> aHavingHeavyCustomers,
    "a_simhash_agg" -> aSimhashAgg,
    "a_heavy_hitters" -> aHeavyHitters,
    "a_iqr_outliers" -> aIqrOutliers,
    "a_skew_metrics" -> aSkewMetrics,
    "a_autocorr" -> aAutocorr,
    "a_mode_status" -> aModeStatus,
    "a_ks_drift" -> aKsDrift,
    "a_gini_revenue" -> aGiniRevenue,
    "a_benford" -> aBenford,
    "a_spearman" -> aSpearman,
    "a_countmin" -> aCountMin,
    "a_kmv_distinct" -> aKmvDistinct,
    "a_psi_drift" -> aPsiDrift,
    "a_chi_square" -> aChiSquare,
    "a_mann_kendall" -> aMannKendall,
    "a_poisson_bootstrap" -> aPoissonBootstrap,
    "a_kmv_jaccard" -> aKmvJaccard,
    "a_welch_ttest" -> aWelchTtest,
    "a_ipf_raking" -> aIpfRaking,
    "a_fleiss_kappa" -> aFleissKappa,
    "a_mutual_info" -> aMutualInfo,
    "a_mad_outliers" -> aMadOutliers,
    "a_capture_recapture" -> aCaptureRecapture,
    "a_diff_in_diff" -> aDiffInDiff,
    "a_sprt_monitor" -> aSprtMonitor,
    "a_winsorized_mean" -> aWinsorizedMean,
    "a_jackknife_variance" -> aJackknifeVariance,
    "a_var_merge" -> aVarMerge,
    "a_hll_registers" -> aHllRegisters,
    "a_bh_fdr" -> aBhFdr,
    "a_tail_index" -> aTailIndex,
    "a_cuped" -> aCuped,
    "a_james_stein" -> aJamesStein,
    "a_negbin_fit" -> aNegbinFit,
    "a_permutation_test" -> aPermutationTest,
    "a_hodges_lehmann" -> aHodgesLehmann,
    "a_theil_index" -> aTheilIndex,
    "a_runs_test" -> aRunsTest,
    "a_beta_posterior" -> aBetaPosterior,
    "a_mcnemar_filters" -> aMcnemarFilters,
    "a_lorenz_points" -> aLorenzPoints,
    "a_partial_corr" -> aPartialCorr,
    "a_tail_dependence" -> aTailDependence,
    "a_cohens_h" -> aCohensH,
    "a_dp_mean" -> aDpMean,
    "a_hll_set_algebra" -> aHllSetAlgebra,
    "a_mann_whitney" -> aMannWhitney,
    "a_cramers_v" -> aCramersV,
    "a_hoeffding_sample" -> aHoeffdingSample,
    "a_kendall_taub" -> aKendallTaub,
    "a_bootstrap_bca" -> aBootstrapBca,
    "a_hypothetical_rank" -> aHypotheticalRank,
    "a_anova_f" -> aAnovaF,
    "a_levene_bf" -> aLeveneBf,
    "a_jarque_bera" -> aJarqueBera,
    "a_qq_normal" -> aQqNormal,
    "a_friedman_test" -> aFriedmanTest,
    "a_simpsons_slopes" -> aSimpsonsSlopes,
    "a_wilcoxon_signrank" -> aWilcoxonSignrank,
    "a_ks_two_sample" -> aKsTwoSample)

  val oracles: Map[String, String] = Map(
    // width_bucket emulated with Spark's exact formula:
    // floor((v - lo) / ((hi - lo) / n)) + 1, bounds to 0 / n+1
    "a_width_bucket" ->
      """SELECT bkt, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_revenue
        |FROM (SELECT CASE WHEN o_totalprice >= 500000 THEN 26
        |                  WHEN o_totalprice < 0 THEN 0
        |                  ELSE CAST(floor((o_totalprice - 0) / ((500000 - 0) / 25)) AS BIGINT) + 1
        |             END AS bkt, o_totalprice
        |      FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same fold, same order: terms over the SORTED count list,
    // ((0 − t₁) − t₂)… via list_prepend + list_reduce
    "a_entropy_priority" ->
      """SELECT o_orderstatus, n, n_groups,
        |       list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(cs, x -> (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |                               * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))),
        |         (a, b) -> a - b) AS entropy
        |FROM (SELECT o_orderstatus, CAST(SUM(c) AS BIGINT) AS n,
        |             count(*) AS n_groups, list_sort(list(c)) AS cs
        |      FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS c
        |            FROM orders GROUP BY 1, 2)
        |      GROUP BY 1)
        |ORDER BY o_orderstatus""".stripMargin,
    // moments in DECIMAL (exact) → named double intermediates → the
    // same formula text as the Spark side, so every double op matches
    // bit for bit
    "a_corr_regr" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |         SUM(CAST(l_discount AS DECIMAL(18,2))) AS sy,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sxy,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |         SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |         CAST(syy AS DOUBLE) AS syyd
        |  FROM m),
        |e AS (
        |  SELECT l_returnflag, n, nd, sxd, syd,
        |         nd * sxyd - sxd * syd AS cov,
        |         nd * sxxd - sxd * sxd AS varx,
        |         nd * syyd - syd * syd AS vary
        |  FROM d)
        |SELECT l_returnflag, n,
        |       cov / (sqrt(varx) * sqrt(vary)) AS corr_qty_disc,
        |       cov / varx AS slope,
        |       (syd - (cov / varx) * sxd) / nd AS intercept,
        |       (cov * cov) / (varx * vary) AS r2
        |FROM e ORDER BY l_returnflag""".stripMargin,
    "a_listagg_statuses" ->
      """SELECT o_orderpriority,
        |       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |       count(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_bool_bit_suite" ->
      """SELECT event_type,
        |       bit_and(user_id) AS uid_and, bit_or(user_id) AS uid_or,
        |       bit_xor(user_id) AS uid_xor,
        |       bool_and(value >= 0) AS all_nonneg,
        |       bool_or(value > 400) AS any_large,
        |       count(*) FILTER (WHERE value < 1) AS n_small
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_approx_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(cents, 0.5) AS exact_median_cents,
        |       CAST(abs(approx_quantile(cents, 0.5) - quantile_cont(cents, 0.5)) AS DOUBLE)
        |         / quantile_cont(cents, 0.5) <= 0.05 AS median_within_5pct
        |FROM (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |      FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       CAST(abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey)) AS DOUBLE)
        |         / count(DISTINCT l_orderkey) <= 0.05 AS orders_within_5pct,
        |       CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) AS DOUBLE)
        |         / count(DISTINCT l_partkey) <= 0.05 AS parts_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS is_status_total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "a_salted_revenue" ->
      // deliberately UNSALTED: the salted three-phase reduction must
      // equal the plain grouped sum exactly
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_having_heavy_customers" ->
      """SELECT c_mktsegment, count(*) AS n_heavy,
        |       CAST(SUM(n_orders) AS BIGINT) AS total_orders
        |FROM customer
        |JOIN (SELECT o_custkey, count(*) AS n_orders
        |      FROM orders GROUP BY 1 HAVING count(*) >= 30) h
        |  ON c_custkey = h.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // max_by(x, struct(v, x)) ≡ row_number over (v DESC, x DESC);
    // min_by ≡ (v ASC, x ASC) — the lexicographic struct order
    "a_minmax_by" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT p.o_orderpriority, mx.o_orderkey AS priciest_order,
        |       mn.o_orderkey AS cheapest_order, p.max_price
        |FROM (SELECT o_orderpriority, max(o_totalprice) AS max_price
        |      FROM orders GROUP BY 1) p
        |JOIN (SELECT o_orderpriority, o_orderkey FROM r WHERE rmax = 1) mx USING (o_orderpriority)
        |JOIN (SELECT o_orderpriority, o_orderkey FROM r WHERE rmin = 1) mn USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "a_weighted_stats" ->
      """SELECT l_returnflag, n,
        |       swx / sw AS w_mean_disc,
        |       swx2 / sw - (swx / sw) * (swx / sw) AS w_var_disc
        |FROM (SELECT l_returnflag,
        |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sw,
        |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS swx,
        |             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS swx2,
        |             count(*) AS n
        |      FROM lineitem GROUP BY 1)
        |ORDER BY l_returnflag""".stripMargin,
    // sketch contract: exact counts + pinned TRUE booleans (a bloom
    // with false negatives or a blown fp rate hash-mismatches)
    "a_bloom_prune" ->
      """SELECT count(*) AS n_customers,
        |       count(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                               WHERE o.o_custkey = c.c_custkey)
        |                  THEN 1 END) AS n_with_orders,
        |       TRUE AS no_false_negatives,
        |       TRUE AS fp_rate_ok
        |FROM customer c""".stripMargin,
    // per-lang per-bit majority over the same md5-derived 60-bit
    // hashes as dedup_simhash (bits 60-63 are always 0)
    "a_simhash_agg" ->
      """WITH tok AS (
        |  SELECT lang,
        |         unnest(list_distinct(list_transform(string_split(text, ' '),
        |           t -> list_reduce(list_transform(string_split(substr(md5(t), 1, 15), ''),
        |                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |                (a, b) -> a * 16 + b)))) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT lang, r.b,
        |         CASE WHEN sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r
        |  GROUP BY 1, 2),
        |sh AS (SELECT lang, CAST(SUM(bit * (1::BIGINT << b)) AS BIGINT) AS corpus_simhash
        |       FROM bits GROUP BY 1),
        |cnt AS (SELECT lang, count(*) AS n_hashes FROM tok GROUP BY 1)
        |SELECT lang, corpus_simhash, n_hashes
        |FROM sh JOIN cnt USING (lang) ORDER BY lang""".stripMargin,
    // MG contract replay: the heavy set from exact counts, the
    // guaranteed booleans pinned TRUE (they hold for any merge order)
    "a_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok),
        |cnt AS (SELECT token, count(*) AS exact_c FROM tok GROUP BY 1)
        |SELECT token, CAST(exact_c AS BIGINT) AS exact_c, TRUE AS in_sketch,
        |       TRUE AS est_le_exact, TRUE AS err_bound_ok
        |FROM cnt CROSS JOIN tot WHERE exact_c * 33 > n
        |ORDER BY token""".stripMargin,
    "a_iqr_outliers" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |q AS (
        |  SELECT st, quantile_cont(cents, 0.25) AS q1,
        |         quantile_cont(cents, 0.75) AS q3,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM o GROUP BY 1)
        |SELECT st, max(q.n) AS n,
        |       max(q.q1) / 100.0 AS q1_price,
        |       max(q.q3) / 100.0 AS q3_price,
        |       CAST(SUM(CASE WHEN o.cents < q.q1 - (q.q3 - q.q1) * 1.5
        |                       OR o.cents > q.q3 + (q.q3 - q.q1) * 1.5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM o JOIN q USING (st)
        |GROUP BY st ORDER BY st""".stripMargin,
    "a_skew_metrics" ->
      """WITH c AS (
        |  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       min(c) AS min_rows, max(c) AS max_rows,
        |       CAST(max(c) AS DOUBLE) * CAST(count(*) AS DOUBLE)
        |         / CAST(SUM(c) AS DOUBLE) AS skew_factor
        |FROM c""".stripMargin,
    "a_autocorr" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders GROUP BY 1),
        |paired AS (
        |  SELECT x, lag(x) OVER (ORDER BY day) AS y FROM daily
        |  QUALIFY y IS NOT NULL),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |         CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |         CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |         CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM paired)
        |SELECT n AS n_pairs,
        |       round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS autocorr_lag1
        |FROM m""".stripMargin,
    "a_mode_status" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |           ORDER BY count(*) DESC, o_orderpriority) AS rk
        |  FROM orders GROUP BY 1, 2)
        |WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin,
    "a_ks_drift" ->
      """WITH o AS (
        |  SELECT year(o_orderdate) AS yr, o_totalprice AS v FROM orders
        |  WHERE year(o_orderdate) IN (1996, 1999)),
        |perv AS (
        |  SELECT v, SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS d1,
        |         SUM(CASE WHEN yr = 1999 THEN 1 ELSE 0 END) AS d2
        |  FROM o GROUP BY 1),
        |c AS (
        |  SELECT v,
        |         SUM(d1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND CURRENT ROW) AS c1,
        |         SUM(d2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND CURRENT ROW) AS c2
        |  FROM perv),
        |n AS (SELECT CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |             CAST(SUM(CASE WHEN yr = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |      FROM o)
        |SELECT n1, n2,
        |       max(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |             - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS ks_stat
        |FROM c CROSS JOIN n GROUP BY n1, n2""".stripMargin,
    "a_gini_revenue" ->
      """WITH per AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, o_custkey,
        |             CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
        |      FROM per),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(i * x) AS six
        |      FROM r)
        |SELECT n AS n_customers, CAST(sx AS DOUBLE) AS total_revenue,
        |       round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |         / CAST(n * sx AS DOUBLE), 6) AS gini
        |FROM g""".stripMargin,
    "a_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |                     1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |n AS (SELECT count(*) AS n_tot FROM orders)
        |SELECT digit, count(*) AS n,
        |       CAST(count(*) AS DOUBLE) / CAST(n_tot AS DOUBLE) AS obs_share,
        |       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share,
        |       round(abs(CAST(count(*) AS DOUBLE) / CAST(n_tot AS DOUBLE)
        |             - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_dev
        |FROM dg CROSS JOIN n
        |GROUP BY digit, n_tot ORDER BY digit""".stripMargin,
    "a_spearman" ->
      """WITH r AS (
        |  SELECT l_returnflag AS flag,
        |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |           + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
        |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |           + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
        |  FROM lineitem),
        |g AS (
        |  SELECT flag, CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
        |         CAST(sum(rx * rx) AS HUGEINT) AS sxx,
        |         CAST(sum(ry * ry) AS HUGEINT) AS syy,
        |         CAST(sum(rx * ry) AS HUGEINT) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT flag, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
        |FROM g ORDER BY flag""".stripMargin,
    "a_countmin" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |js AS (SELECT unnest(range(0, 4)) AS j),
         |cells AS (
         |  SELECT j, ${md5Hash60("CAST(j AS VARCHAR) || ':' || term")} % 64 AS bucket
         |  FROM tok CROSS JOIN js),
         |sketch AS (SELECT j, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
         |top AS (
         |  SELECT term, count(*) AS exact_c FROM tok GROUP BY 1
         |  ORDER BY exact_c DESC, term LIMIT 10),
         |probes AS (
         |  SELECT term, exact_c, j,
         |         ${md5Hash60("CAST(j AS VARCHAR) || ':' || term")} % 64 AS bucket
         |  FROM top CROSS JOIN js)
         |SELECT p.term, p.exact_c, min(s.c) AS cm_est,
         |       min(s.c) >= p.exact_c AS est_ge_exact
         |FROM probes p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
         |GROUP BY p.term, p.exact_c
         |ORDER BY p.exact_c DESC, p.term""".stripMargin,
    "a_kmv_distinct" ->
      s"""WITH tk AS (
         |  SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(list_distinct(string_split(text, ' '))) AS tok
         |    FROM documents)),
         |h AS (SELECT source, tok, ${hexSql("tok", 12)} AS h FROM tk),
         |mins AS (
         |  SELECT source, h,
         |         row_number() OVER (PARTITION BY source ORDER BY h) AS rk
         |  FROM h),
         |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_exact
         |       FROM h GROUP BY 1),
         |kk AS (SELECT source, CAST(count(*) AS INTEGER) AS kmv_k,
         |              max(h) AS hk
         |       FROM mins WHERE rk <= 8 GROUP BY 1),
         |est AS (
         |  SELECT ex.source, ex.n_distinct_exact, kk.kmv_k,
         |         CASE WHEN kk.kmv_k < 8 THEN CAST(ex.n_distinct_exact AS DOUBLE)
         |              ELSE CAST(1970324836974592 AS DOUBLE) / CAST(kk.hk AS DOUBLE)
         |         END AS kmv_est
         |  FROM ex JOIN kk USING (source))
         |SELECT source, n_distinct_exact, kmv_k, round(kmv_est, 6) AS kmv_est,
         |       round(abs(kmv_est - CAST(n_distinct_exact AS DOUBLE))
         |         / CAST(n_distinct_exact AS DOUBLE), 6) AS rel_err
         |FROM est ORDER BY source""".stripMargin,
    "a_psi_drift" ->
      """WITH ev AS (
        |  SELECT event_id, value, CAST(ts AS DATE) AS day FROM events),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |md AS (SELECT d0 + CAST(date_diff('day', d0, d1) // 2 AS INTEGER)
        |         AS mid FROM sp),
        |tg AS (
        |  SELECT ev.*, CASE WHEN ev.day <= md.mid THEN 'ref' ELSE 'cur' END
        |           AS period
        |  FROM ev CROSS JOIN md),
        |ref AS (SELECT value, event_id FROM tg WHERE period = 'ref'),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ref),
        |rkd AS (
        |  SELECT value,
        |         row_number() OVER (ORDER BY value, event_id) AS rk
        |  FROM ref),
        |rks AS (SELECT list_transform(range(1, 10), i -> (i * n) // 10) AS rl
        |        FROM nn),
        |ed AS (
        |  SELECT list(value ORDER BY value) AS edges FROM (
        |    SELECT DISTINCT value FROM rkd CROSS JOIN rks
        |    WHERE list_contains(rks.rl, rkd.rk))),
        |bk AS (
        |  SELECT 1 + len(list_filter(ed.edges, e -> e < tg.value)) AS bucket,
        |         tg.period
        |  FROM tg CROSS JOIN ed),
        |ct AS (
        |  SELECT bucket,
        |         CAST(sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_ref,
        |         CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_cur
        |  FROM bk GROUP BY 1),
        |tt AS (
        |  SELECT CAST(sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS t_ref,
        |         CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS t_cur
        |  FROM tg),
        |pp AS (
        |  SELECT bucket, n_ref, n_cur,
        |         (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(t_ref AS DOUBLE) + 5.0)
        |           AS p_ref,
        |         (CAST(n_cur AS DOUBLE) + 0.5) / (CAST(t_cur AS DOUBLE) + 5.0)
        |           AS p_cur
        |  FROM ct CROSS JOIN tt)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_ref, n_cur,
        |       round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
        |       round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_contrib
        |FROM pp ORDER BY bucket""".stripMargin,
    "a_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n, count(DISTINCT lang) AS r,
        |              count(DISTINCT source) AS c
        |       FROM cells),
        |k AS (
        |  SELECT cells.lang, cells.source,
        |         (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |             / CAST(nn.n AS DOUBLE))
        |           * (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |               / CAST(nn.n AS DOUBLE))
        |           / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |               / CAST(nn.n AS DOUBLE)) AS contrib
        |  FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN nn),
        |s AS (
        |  SELECT list_sum(list(contrib ORDER BY lang, source)) AS chi2 FROM k)
        |SELECT CAST(nn.n AS BIGINT) AS n_docs, CAST(nn.r AS BIGINT) AS n_langs,
        |       CAST(nn.c AS BIGINT) AS n_sources,
        |       CAST((nn.r - 1) * (nn.c - 1) AS BIGINT) AS dof,
        |       round(s.chi2, 6) AS chi2,
        |       round(sqrt(s.chi2 / (CAST(nn.n AS DOUBLE)
        |         * CAST(least(nn.r - 1, nn.c - 1) AS DOUBLE))), 6) AS cramers_v
        |FROM s CROSS JOIN nn""".stripMargin,
    "a_mann_kendall" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CASE WHEN b.rev > a.rev THEN 1
        |              WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sg
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |s AS (SELECT CAST(coalesce(sum(sg), 0) AS BIGINT) AS s_stat FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
        |t AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        |        AS tie_term
        |      FROM (SELECT count(*) AS t FROM daily GROUP BY rev) WHERE t > 1),
        |v AS (
        |  SELECT n.n_days, s.s_stat,
        |         CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term
        |           AS DOUBLE) / 18.0 AS var_s
        |  FROM n CROSS JOIN s CROSS JOIN t),
        |z AS (
        |  SELECT *, CASE WHEN s_stat > 0
        |                 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |                 WHEN s_stat < 0
        |                 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |                 ELSE 0.0 END AS zr
        |  FROM v)
        |SELECT n_days, s_stat, round(var_s, 6) AS var_s, round(zr, 6) AS z,
        |       CASE WHEN zr > 1.96 THEN 'increasing'
        |            WHEN zr < -1.96 THEN 'decreasing'
        |            ELSE 'no_trend' END AS trend
        |FROM z""".stripMargin,
    "a_poisson_bootstrap" -> {
      val tList = poissonT.mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT event_id,
         |         CAST(floor(CAST(value AS DECIMAL(18,2)) * 1000000) AS BIGINT)
         |           AS m
         |  FROM events),
         |rep AS (
         |  SELECT t.b, base.m,
         |         CAST(len(list_filter($tList, x -> x <=
         |           ${hexSql("CAST(base.event_id AS VARCHAR) || '#' || CAST(t.b AS VARCHAR)", 12)}
         |           )) AS BIGINT) AS w
         |  FROM base CROSS JOIN range(0, 64) t(b)),
         |agg AS (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS nb,
         |         CAST(sum(w * m) AS BIGINT) AS sb
         |  FROM rep GROUP BY 1),
         |mn AS (
         |  SELECT b, CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0
         |           AS mean_b
         |  FROM agg),
         |fold AS (
         |  SELECT CAST(count(*) AS BIGINT) AS b_reps,
         |         list(mean_b ORDER BY mean_b, b) AS byv,
         |         list_sum(list(mean_b ORDER BY b)) AS sx,
         |         list_sum(list(mean_b * mean_b ORDER BY b)) AS sxx
         |  FROM mn),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
         |              CAST(sum(m) AS BIGINT) AS sm
         |       FROM base)
         |SELECT pt.n_events, fold.b_reps,
         |       round(CAST(pt.sm AS DOUBLE) / CAST(pt.n_events AS DOUBLE)
         |         / 1000000.0, 6) AS point_mean,
         |       round(fold.byv[2], 6) AS boot_lo,
         |       round(fold.byv[63], 6) AS boot_hi,
         |       round(sqrt((fold.sxx - fold.sx * fold.sx / 64.0) / 63.0), 6)
         |         AS boot_se
         |FROM fold CROSS JOIN pt""".stripMargin
    },
    "a_kmv_jaccard" ->
      s"""WITH tk AS (
         |  SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(list_distinct(string_split(text, ' ')))
         |             AS tok
         |    FROM documents)),
         |th AS (SELECT source, tok, ${hexSql("tok", 12)} AS h FROM tk),
         |sk AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
         |         list(h ORDER BY h) FILTER (WHERE rk <= 16) AS harr
         |  FROM (SELECT source, h,
         |          row_number() OVER (PARTITION BY source ORDER BY h) AS rk
         |        FROM th)
         |  GROUP BY 1),
         |pr AS (
         |  SELECT x.source AS s1, y.source AS s2,
         |         CAST(count(*) AS BIGINT) AS inter
         |  FROM th x JOIN th y ON x.tok = y.tok AND x.source < y.source
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT pr.s1, pr.s2, a.n_tok AS n_a, b.n_tok AS n_b, pr.inter,
         |         a.harr AS ha, b.harr AS hb,
         |         list_sort(list_distinct(list_concat(a.harr, b.harr)))[1:16]
         |           AS ku
         |  FROM pr JOIN sk a ON pr.s1 = a.source
         |          JOIN sk b ON pr.s2 = b.source),
         |est AS (
         |  SELECT s1, s2, n_a, n_b, inter,
         |         round(CAST(inter AS DOUBLE)
         |           / CAST(n_a + n_b - inter AS DOUBLE), 6) AS j_exact,
         |         round(CAST(len(list_filter(ku, x -> list_contains(ha, x)
         |             AND list_contains(hb, x))) AS DOUBLE)
         |           / CAST(least(16, len(ku)) AS DOUBLE), 6) AS j_est
         |  FROM j)
         |SELECT s1, s2, n_a, n_b, inter, j_exact, j_est,
         |       round(abs(j_est - j_exact), 6) AS abs_err
         |FROM est ORDER BY s1, s2""".stripMargin,
    "a_welch_ttest" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(m) AS BIGINT) AS s1,
        |         sum(CAST(m * m AS DECIMAL(38,0))) AS s2
        |  FROM (SELECT event_type,
        |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS m
        |        FROM events WHERE event_type IN ('purchase', 'view'))
        |  GROUP BY 1),
        |st AS (
        |  SELECT event_type, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
        |           AS mean_c,
        |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |             / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_c
        |  FROM g),
        |x AS (SELECT n AS n_x, mean_c AS mx, var_c AS vx FROM st
        |      WHERE event_type = 'purchase'),
        |y AS (SELECT n AS n_y, mean_c AS my, var_c AS vy FROM st
        |      WHERE event_type = 'view'),
        |w AS (
        |  SELECT n_x, n_y, mx, my,
        |         (mx - my) / sqrt(vx / CAST(n_x AS DOUBLE)
        |           + vy / CAST(n_y AS DOUBLE)) AS t,
        |         ((vx / CAST(n_x AS DOUBLE) + vy / CAST(n_y AS DOUBLE))
        |            * (vx / CAST(n_x AS DOUBLE) + vy / CAST(n_y AS DOUBLE)))
        |           / ((vx / CAST(n_x AS DOUBLE)) * (vx / CAST(n_x AS DOUBLE))
        |                / CAST(n_x - 1 AS DOUBLE)
        |              + (vy / CAST(n_y AS DOUBLE)) * (vy / CAST(n_y AS DOUBLE))
        |                / CAST(n_y - 1 AS DOUBLE)) AS dof
        |  FROM x CROSS JOIN y)
        |SELECT n_x, n_y, round(mx / 100.0, 6) AS mean_x,
        |       round(my / 100.0, 6) AS mean_y, round(t, 6) AS t_stat,
        |       round(dof, 6) AS dof, abs(t) > 1.96 AS significant
        |FROM w""".stripMargin,
    "a_ipf_raking" ->
      """WITH RECURSIVE counts AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |ls AS (SELECT DISTINCT lang FROM counts),
        |ss AS (SELECT DISTINCT source FROM counts),
        |grid AS (
        |  SELECT ls.lang, ss.source, coalesce(c.c, 0) AS c,
        |         CAST(row_number() OVER (ORDER BY ls.lang, ss.source)
        |           AS INTEGER) AS k
        |  FROM ls CROSS JOIN ss
        |  LEFT JOIN counts c ON c.lang = ls.lang AND c.source = ss.source),
        |dims AS (
        |  SELECT CAST(count(DISTINCT lang) AS INTEGER) AS l_n,
        |         CAST(count(DISTINCT source) AS INTEGER) AS s_n,
        |         CAST(sum(c) AS BIGINT) AS n_tot
        |  FROM grid),
        |wc AS (SELECT list(CAST(c AS DOUBLE) ORDER BY k) AS w0 FROM grid),
        |ipf(r, w) AS (
        |  SELECT 0, w0 FROM wc
        |  UNION ALL
        |  SELECT r + 1,
        |         CASE WHEN (r + 1) % 2 = 1
        |           THEN list_transform(w, (x, i) -> x *
        |             ((CAST(n_tot AS DOUBLE) / CAST(l_n AS DOUBLE))
        |               / rs[((i - 1) // s_n) + 1]))
        |           ELSE list_transform(w, (x, i) -> x *
        |             ((CAST(n_tot AS DOUBLE) / CAST(s_n AS DOUBLE))
        |               / cs[((i - 1) % s_n) + 1]))
        |         END
        |  FROM (
        |    SELECT r, w, l_n, s_n, n_tot,
        |           list_transform(range(1, l_n + 1),
        |             l -> list_sum(list_transform(range(1, s_n + 1),
        |               t -> w[(l - 1) * s_n + t]))) AS rs,
        |           list_transform(range(1, s_n + 1),
        |             t -> list_sum(list_transform(range(1, l_n + 1),
        |               l -> w[(l - 1) * s_n + t]))) AS cs
        |    FROM ipf, dims WHERE r < 16)),
        |wf AS (SELECT w FROM ipf WHERE r = 16)
        |SELECT g.lang, g.source, g.c AS n_docs,
        |       round(wf.w[g.k], 6) AS raked_weight,
        |       round(wf.w[g.k] / CAST(g.c AS DOUBLE), 6) AS multiplier
        |FROM grid g CROSS JOIN wf
        |WHERE g.c > 0
        |ORDER BY g.lang, g.source""".stripMargin,
    "a_fleiss_kappa" ->
      """WITH f AS (
        |  SELECT ((CASE WHEN (1.0 - CAST(n_stops AS DOUBLE)
        |             / CAST(len(toks) AS DOUBLE))
        |             * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE), 10.0) / 10.0 >= 0.42
        |           THEN 1 ELSE 0 END)
        |        + (CASE WHEN 1.0 / (1.0 + exp(-(-0.7
        |             + 0.8 * (CAST(len(toks) AS DOUBLE) / 100.0)
        |             + 2.0 * (CAST(n_stops AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE))
        |             + (-1.2) * ((CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE)) / 10.0)
        |             + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE))))) >= 0.5
        |           THEN 1 ELSE 0 END)
        |        + (CASE WHEN len(toks) >= 40 THEN 1 ELSE 0 END)) AS x
        |  FROM (SELECT text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * (x - 1) + (3 - x) * (2 - x)) AS BIGINT) AS sp
        |  FROM f),
        |k AS (
        |  SELECT n_docs,
        |         CAST(sx AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)) AS p_good,
        |         CAST(sp AS DOUBLE) / (6.0 * CAST(n_docs AS DOUBLE)) AS p_bar
        |  FROM agg),
        |e AS (
        |  SELECT *, p_good * p_good + (1.0 - p_good) * (1.0 - p_good) AS p_e
        |  FROM k)
        |SELECT n_docs, round(p_good, 6) AS p_good, round(p_bar, 6) AS p_bar,
        |       round(p_e, 6) AS p_e,
        |       round((p_bar - p_e) / (1.0 - p_e), 6) AS kappa
        |FROM e""".stripMargin,
    "a_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM cells),
        |k AS (
        |  SELECT cells.lang, cells.source,
        |         CAST(o AS DOUBLE) / CAST(nn.n AS DOUBLE)
        |           * ln(CAST(o AS DOUBLE) * CAST(nn.n AS DOUBLE)
        |               / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)))
        |           AS contrib
        |  FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        |  CROSS JOIN nn),
        |mi AS (
        |  SELECT list_sum(list(contrib ORDER BY lang, source)) AS mi FROM k),
        |hl AS (
        |  SELECT list_sum(list(
        |           -(CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |             * ln(CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |           ORDER BY lang)) AS h_lang
        |  FROM rt CROSS JOIN nn),
        |hs AS (
        |  SELECT list_sum(list(
        |           -(CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |             * ln(CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |           ORDER BY source)) AS h_source
        |  FROM ct CROSS JOIN nn)
        |SELECT CAST(nn.n AS BIGINT) AS n_docs,
        |       round(mi.mi, 6) AS mi_nats,
        |       round(hl.h_lang, 6) AS h_lang,
        |       round(hs.h_source, 6) AS h_source,
        |       round(mi.mi / sqrt(hl.h_lang * hs.h_source), 6) AS nmi
        |FROM mi CROSS JOIN hl CROSS JOIN hs CROSS JOIN nn""".stripMargin,
    "a_mad_outliers" ->
      """WITH v AS (
        |  SELECT source,
        |         CAST(floor((1.0 - CAST(n_stops AS DOUBLE)
        |             / CAST(len(toks) AS DOUBLE))
        |             * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE), 10.0) / 10.0
        |             * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT source, text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |hist AS (SELECT q, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |hc AS (SELECT q, c, CAST(sum(c) OVER (ORDER BY q) AS BIGINT) AS cum
        |       FROM hist),
        |med AS (
        |  SELECT CAST(min(CASE WHEN cum >= (n.n + 1) // 2
        |                        AND cum - c < (n.n + 1) // 2 THEN q END)
        |            + min(CASE WHEN cum >= (n.n + 2) // 2
        |                        AND cum - c < (n.n + 2) // 2 THEN q END)
        |         AS BIGINT) AS med2
        |  FROM hc CROSS JOIN n),
        |dh AS (
        |  SELECT abs(q * 2 - med.med2) AS d2, CAST(sum(c) AS BIGINT) AS c
        |  FROM hist CROSS JOIN med GROUP BY 1),
        |dhc AS (SELECT d2, c, CAST(sum(c) OVER (ORDER BY d2) AS BIGINT) AS cum
        |        FROM dh),
        |mad AS (
        |  SELECT CAST(min(CASE WHEN cum >= (n.n + 1) // 2
        |                        AND cum - c < (n.n + 1) // 2 THEN d2 END)
        |            + min(CASE WHEN cum >= (n.n + 2) // 2
        |                        AND cum - c < (n.n + 2) // 2 THEN d2 END)
        |         AS BIGINT) AS mad4
        |  FROM dhc CROSS JOIN n)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN abs(q * 2 - med.med2) * 20000
        |                       > 51891 * mad.mad4
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(CAST(sum(CASE WHEN abs(q * 2 - med.med2) * 20000
        |                            > 51891 * mad.mad4
        |                     THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE), 6) AS outlier_rate,
        |       round(CAST(med.med2 AS DOUBLE) / 2000000.0, 6) AS median_q,
        |       round(CAST(mad.mad4 AS DOUBLE) / 4000000.0, 6) AS mad_q
        |FROM v CROSS JOIN med CROSS JOIN mad
        |GROUP BY source, med.med2, mad.mad4
        |ORDER BY source""".stripMargin,
    "a_capture_recapture" ->
      """WITH caps AS (
        |  SELECT CASE WHEN substring(md5(text), 1, 1) < '8'
        |              THEN 1 ELSE 0 END AS in_a,
        |         CASE WHEN substring(md5(text), 2, 1) < '8'
        |              THEN 1 ELSE 0 END AS in_b
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(sum(in_a) AS BIGINT) AS n1,
        |         CAST(sum(in_b) AS BIGINT) AS n2,
        |         CAST(sum(in_a * in_b) AS BIGINT) AS m
        |  FROM caps)
        |SELECT n_total, n1, n2, m,
        |       round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |         / (CAST(m AS DOUBLE) + 1.0) - 1.0, 6) AS n_hat,
        |       round(((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |         / (CAST(m AS DOUBLE) + 1.0) - 1.0
        |         - CAST(n_total AS DOUBLE)) / CAST(n_total AS DOUBLE), 6)
        |         AS rel_err
        |FROM agg""".stripMargin,
    "a_diff_in_diff" ->
      """WITH o AS (
        |  SELECT o_custkey % 2 = 0 AS treat,
        |         CAST(o_orderdate AS DATE) AS day,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |mid AS (
        |  SELECT min(day) + CAST(date_diff('day', min(day), max(day)) // 2
        |           AS BIGINT) * INTERVAL 1 DAY AS mid
        |  FROM o),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN treat AND day >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_treat_post,
        |    sum(CASE WHEN treat AND day >= mid THEN price
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_tp,
        |    CAST(sum(CASE WHEN treat AND day < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_treat_pre,
        |    sum(CASE WHEN treat AND day < mid THEN price
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_ta,
        |    CAST(sum(CASE WHEN NOT treat AND day >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ctrl_post,
        |    sum(CASE WHEN NOT treat AND day >= mid THEN price
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_cp,
        |    CAST(sum(CASE WHEN NOT treat AND day < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ctrl_pre,
        |    sum(CASE WHEN NOT treat AND day < mid THEN price
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_ca
        |  FROM o CROSS JOIN mid),
        |m AS (
        |  SELECT *,
        |         CAST(s_tp AS DOUBLE) / CAST(n_treat_post AS DOUBLE) AS m_tp,
        |         CAST(s_ta AS DOUBLE) / CAST(n_treat_pre AS DOUBLE) AS m_ta,
        |         CAST(s_cp AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE) AS m_cp,
        |         CAST(s_ca AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE) AS m_ca
        |  FROM agg)
        |SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |       round(m_ta, 6) AS mean_treat_pre,
        |       round(m_tp, 6) AS mean_treat_post,
        |       round(m_ca, 6) AS mean_ctrl_pre,
        |       round(m_cp, 6) AS mean_ctrl_post,
        |       round((m_tp - m_ta) - (m_cp - m_ca), 6) AS did
        |FROM m""".stripMargin,
    "a_sprt_monitor" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS BIGINT) AS conv
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT day, n, conv,
        |         CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum_n,
        |         CAST(sum(conv) OVER (ORDER BY day) AS BIGINT) AS cum_conv
        |  FROM daily),
        |l AS (
        |  SELECT *, round(CAST(cum_conv AS DOUBLE) * ln(0.22 / 0.18)
        |           + (CAST(cum_n AS DOUBLE) - CAST(cum_conv AS DOUBLE))
        |             * ln(0.78 / 0.82), 6) AS llr
        |  FROM cum)
        |SELECT day, n AS n_events, conv AS n_purchases, cum_n, cum_conv, llr,
        |       CASE WHEN llr >= 2.944439 THEN 'accept_h1'
        |            WHEN llr <= -2.944439 THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM l ORDER BY day""".stripMargin,
    "a_winsorized_mean" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(ceil(0.05 * count(*)) AS BIGINT) AS klo
        |      FROM o),
        |r AS (
        |  SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rk FROM o),
        |b AS (
        |  SELECT min(CASE WHEN rk = n.klo + 1 THEN v END) AS lo,
        |         min(CASE WHEN rk = n.n - n.klo THEN v END) AS hi
        |  FROM r CROSS JOIN n),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(v) AS DOUBLE) AS sraw,
        |         CAST(SUM(CASE WHEN rk <= n.klo THEN b.lo
        |                       WHEN rk > n.n - n.klo THEN b.hi
        |                       ELSE v END) AS DOUBLE) AS swin,
        |         CAST(SUM(CASE WHEN rk > n.klo AND rk <= n.n - n.klo THEN v
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |           AS strim,
        |         CAST(sum(CASE WHEN rk > n.klo AND rk <= n.n - n.klo
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         CAST(any_value(b.lo) AS DOUBLE) AS lo_clamp,
        |         CAST(any_value(b.hi) AS DOUBLE) AS hi_clamp
        |  FROM r CROSS JOIN n CROSS JOIN b)
        |SELECT n_orders,
        |       round(sraw / CAST(n_orders AS DOUBLE), 6) AS raw_mean,
        |       round(swin / CAST(n_orders AS DOUBLE), 6) AS winsorized_mean,
        |       round(strim / CAST(n_kept AS DOUBLE), 6) AS trimmed_mean,
        |       lo_clamp, hi_clamp
        |FROM agg""".stripMargin,
    "a_jackknife_variance" ->
      """WITH folds AS (
        |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS g,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor((1.0 - CAST(n_stops AS DOUBLE)
        |             / CAST(len(toks) AS DOUBLE))
        |             * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE), 10.0) / 10.0
        |             * 1000000.0) AS BIGINT)) AS BIGINT) AS sq
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)
        |  GROUP BY 1),
        |agg AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sq) AS BIGINT) AS ss,
        |         CAST(count(*) AS BIGINT) AS gg,
        |         list_sort(list(struct_pack(g := g, n := n, sq := sq)))
        |           AS arr
        |  FROM folds),
        |ms AS (
        |  SELECT *, list_transform(arr, x ->
        |           (CAST(ss - x.sq AS DOUBLE) / CAST(nn - x.n AS DOUBLE))
        |             / 1000000.0) AS ms
        |  FROM agg),
        |mb AS (
        |  SELECT *, list_reduce(list_prepend(CAST(0 AS DOUBLE), ms),
        |           (a, b) -> a + b) / CAST(gg AS DOUBLE) AS mbar
        |  FROM ms),
        |jv AS (
        |  SELECT *, list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(ms, x -> (x - mbar) * (x - mbar))),
        |           (a, b) -> a + b)
        |         * (CAST(gg AS DOUBLE) - 1.0) / CAST(gg AS DOUBLE) AS jvar
        |  FROM mb)
        |SELECT nn AS n_docs, gg AS n_folds,
        |       round(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) / 1000000.0, 6)
        |         AS mean_quality,
        |       round(mbar, 6) AS jk_mean,
        |       round(sqrt(jvar), 6) AS jk_se
        |FROM jv""".stripMargin,
    "a_var_merge" ->
      """WITH base AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(o_orderdate AS DATE) AS day,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |dp AS (
        |  SELECT month, day, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS HUGEINT) AS s,
        |         sum(CAST(cents AS HUGEINT) * cents) AS ss
        |  FROM base GROUP BY 1, 2),
        |m AS (
        |  SELECT month, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(n) AS BIGINT) AS n,
        |         CAST(sum(s) AS HUGEINT) AS s,
        |         CAST(sum(ss) AS HUGEINT) AS ss
        |  FROM dp GROUP BY 1),
        |dct AS (
        |  SELECT month, CAST(count(*) AS BIGINT) AS dn,
        |         CAST(sum(cents) AS HUGEINT) AS ds,
        |         sum(CAST(cents AS HUGEINT) * cents) AS dss
        |  FROM base GROUP BY 1)
        |SELECT m.month, m.n_days, m.n AS n_orders,
        |       CAST((m.s * 10000) // m.n AS BIGINT) / 1000000.0
        |         AS mean_price,
        |       CASE WHEN m.n > 1 THEN
        |         CAST((m.n * m.ss - m.s * m.s) * 100 // (m.n * (m.n - 1))
        |           AS BIGINT) / 1000000.0
        |       END AS var_price,
        |       (m.n = dct.dn AND m.s = dct.ds AND m.ss = dct.dss)
        |         AS partials_match
        |FROM m JOIN dct USING (month)
        |ORDER BY month""".stripMargin,
    "a_hll_registers" -> {
      val w13 = "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)"
      s"""WITH rows_ AS (
        |  SELECT o_orderpriority AS grp, o_custkey,
        |         CAST(${hexN("CAST(o_custkey AS VARCHAR)", 14, 2)} % 64
        |           AS INT) AS reg,
        |         CAST(length(regexp_extract($w13, '^(0*)', 1)) * 4
        |           + (4 - CASE
        |               WHEN CAST(strpos('0123456789abcdef', substr($w13,
        |                 length(regexp_extract($w13, '^(0*)', 1)) + 1, 1))
        |                 - 1 AS INT) >= 8 THEN 4
        |               WHEN CAST(strpos('0123456789abcdef', substr($w13,
        |                 length(regexp_extract($w13, '^(0*)', 1)) + 1, 1))
        |                 - 1 AS INT) >= 4 THEN 3
        |               WHEN CAST(strpos('0123456789abcdef', substr($w13,
        |                 length(regexp_extract($w13, '^(0*)', 1)) + 1, 1))
        |                 - 1 AS INT) >= 2 THEN 2
        |               WHEN CAST(strpos('0123456789abcdef', substr($w13,
        |                 length(regexp_extract($w13, '^(0*)', 1)) + 1, 1))
        |                 - 1 AS INT) >= 1 THEN 1
        |               ELSE 0 END) + 1 AS INT) AS rnk
        |  FROM orders),
        |regs AS (
        |  SELECT grp, reg, max(rnk) AS mx FROM rows_ GROUP BY 1, 2),
        |lattice AS (
        |  SELECT g.grp, CAST(j.j AS INT) AS j, coalesce(r.mx, 0) AS m
        |  FROM (SELECT DISTINCT grp FROM regs) g
        |  CROSS JOIN range(0, 64) j(j)
        |  LEFT JOIN regs r ON r.grp = g.grp AND r.reg = j.j),
        |folded2 AS (
        |  SELECT grp,
        |         list_sum(list(0.5 ^ CAST(m AS DOUBLE) ORDER BY j)) AS z,
        |         CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM lattice GROUP BY 1),
        |est AS (
        |  SELECT grp,
        |         CASE WHEN (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / z
        |                <= 160.0 AND v > 0
        |              THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
        |              ELSE (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / z
        |         END AS e, v
        |  FROM folded2),
        |exact AS (
        |  SELECT o_orderpriority AS grp,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
        |  FROM orders GROUP BY 1)
        |SELECT exact.grp, n_exact, round(e, 6) AS hll_estimate,
        |       round(abs(e - CAST(n_exact AS DOUBLE))
        |         / CAST(n_exact AS DOUBLE), 6) AS rel_error,
        |       v AS n_zero_registers, TRUE AS merge_exact
        |FROM exact JOIN est ON exact.grp = est.grp
        |ORDER BY exact.grp""".stripMargin
    },
    "a_bh_fdr" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_long
        |  FROM documents GROUP BY 1, 2),
        |gstats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_g,
        |         CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_long_g
        |  FROM documents),
        |scored AS (
        |  SELECT lang, source, n_docs,
        |         CAST((n_long * 1000000) // n_docs AS BIGINT) AS rate_micro,
        |         (CAST(n_long AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |           - CAST(n_long_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |         / sqrt(CAST(n_long_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |             * (1.0 - CAST(n_long_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |             / CAST(n_docs AS DOUBLE)) AS z
        |  FROM cells CROSS JOIN gstats),
        |pvals AS (
        |  SELECT *,
        |         1.0 - (1.0 - (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |           * (0.254829592
        |             + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |             * (-0.284496736
        |               + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |               * (1.421413741
        |                 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |                 * (-1.453152027
        |                   + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |                   * 1.061405429))))
        |           * exp(-((abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0)))))
        |           AS p_raw
        |  FROM scored),
        |ranked AS (
        |  SELECT *,
        |         CAST(row_number() OVER (ORDER BY p_raw, lang, source)
        |           AS BIGINT) AS rank,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pvals),
        |kstar AS (
        |  SELECT *, coalesce(max(CASE WHEN p_raw <= 0.1
        |           * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)
        |         THEN rank END) OVER (), 0) AS k_star
        |  FROM ranked)
        |SELECT lang, source, n_docs, rate_micro / 1000000.0 AS long_rate,
        |       round(z, 6) AS z, round(p_raw, 6) AS p_value, rank,
        |       rank <= k_star AS significant, 0.1 AS alpha
        |FROM kstar ORDER BY rank""".stripMargin,
    "a_tail_index" ->
      """WITH top AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x, doc_id
        |  FROM documents ORDER BY x DESC, doc_id LIMIT 65),
        |rs AS (
        |  SELECT list({'xv': x, 'tid': doc_id}
        |           ORDER BY 9999999999 - x, doc_id) AS rs
        |  FROM top)
        |SELECT CAST(64 AS BIGINT) AS k,
        |       rs[65].xv AS x_threshold,
        |       round(64.0 / list_sum(list_transform(range(1, 65),
        |         i -> ln(CAST(rs[i].xv AS DOUBLE)
        |           / CAST(rs[65].xv AS DOUBLE)))), 6) AS hill_alpha,
        |       round(list_sum(list_transform(range(1, 65),
        |         i -> ln(CAST(rs[i].xv AS DOUBLE)
        |           / CAST(rs[65].xv AS DOUBLE)))), 6) AS ln_ratio_sum
        |FROM rs""".stripMargin,
    "a_cuped" ->
      s"""WITH mid AS (
         |  SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
         |    AS mid_us FROM events),
         |pu AS (
         |  SELECT user_id,
         |         CAST(sum(CASE WHEN epoch_us(ts) < mid_us
         |           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           ELSE 0 END) AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN epoch_us(ts) >= mid_us
         |           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           ELSE 0 END) AS BIGINT) AS y
         |  FROM events CROSS JOIN mid GROUP BY user_id),
         |pa AS (
         |  SELECT CASE WHEN ${hexSql("'cuped:' || CAST(user_id AS VARCHAR)", 2)}
         |    % 2 = 0 THEN 'A' ELSE 'B' END AS arm, x, y FROM pu),
         |pooled AS (
         |  SELECT (sum(CAST(x AS DECIMAL(38,0)) * y)::DOUBLE
         |            - sum(x)::DOUBLE * sum(y)::DOUBLE / count(*))
         |         / (sum(CAST(x AS DECIMAL(38,0)) * x)::DOUBLE
         |            - sum(x)::DOUBLE * sum(x)::DOUBLE / count(*)) AS theta
         |  FROM pa),
         |arms AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |         CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay,
         |         sum(CAST(x AS DECIMAL(38,0)) * x) AS axx,
         |         sum(CAST(y AS DECIMAL(38,0)) * y) AS ayy,
         |         sum(CAST(x AS DECIMAL(38,0)) * y) AS axy
         |  FROM pa GROUP BY arm)
         |SELECT arm, n_users,
         |       round(ay::DOUBLE / n_users::DOUBLE / 100.0, 6) AS mean_y,
         |       round(theta, 6) AS theta,
         |       round((ayy::DOUBLE - ay::DOUBLE * ay::DOUBLE / n_users::DOUBLE)
         |         / (n_users::DOUBLE - 1) / 10000.0, 6) AS var_raw,
         |       round(((ayy::DOUBLE - ay::DOUBLE * ay::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1)
         |         - 2.0 * theta
         |           * (axy::DOUBLE - ax::DOUBLE * ay::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1)
         |         + theta * theta
         |           * (axx::DOUBLE - ax::DOUBLE * ax::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1)) / 10000.0, 6) AS var_cuped,
         |       round(1.0 - ((ayy::DOUBLE - ay::DOUBLE * ay::DOUBLE
         |             / n_users::DOUBLE) / (n_users::DOUBLE - 1)
         |         - 2.0 * theta
         |           * (axy::DOUBLE - ax::DOUBLE * ay::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1)
         |         + theta * theta
         |           * (axx::DOUBLE - ax::DOUBLE * ax::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1))
         |         / ((ayy::DOUBLE - ay::DOUBLE * ay::DOUBLE / n_users::DOUBLE)
         |           / (n_users::DOUBLE - 1)), 6) AS var_reduction
         |FROM arms CROSS JOIN pooled ORDER BY arm""".stripMargin,
    "a_james_stein" ->
      """WITH g AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS s1,
        |         sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS s2,
        |         CAST(sum(n_chars) AS BIGINT)::DOUBLE / count(*) AS mean_g,
        |         sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars)::DOUBLE
        |           - CAST(sum(n_chars) AS BIGINT)::DOUBLE
        |             * CAST(sum(n_chars) AS BIGINT)::DOUBLE / count(*)
        |           AS ss_within
        |  FROM documents GROUP BY 1),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS gn,
        |         CAST(sum(n) AS BIGINT) AS ntot,
        |         list_sum(list(mean_g ORDER BY source)) AS sum_means,
        |         list_sum(list(ss_within ORDER BY source)) AS ss_w,
        |         list_sum(list(1.0::DOUBLE / n::DOUBLE ORDER BY source))
        |           AS sum_inv_n
        |  FROM g),
        |p2 AS (
        |  SELECT gn, sum_means / gn::DOUBLE AS grand,
        |         (ss_w / (ntot::DOUBLE - gn::DOUBLE)) * sum_inv_n
        |           / gn::DOUBLE AS vbar
        |  FROM pooled),
        |dev AS (
        |  SELECT g.source, g.n, g.mean_g, p2.gn, p2.grand, p2.vbar,
        |         (g.mean_g - p2.grand) * (g.mean_g - p2.grand) AS dev2
        |  FROM g CROSS JOIN p2),
        |stot AS (
        |  SELECT list_sum(list(dev2 ORDER BY source)) AS s_between FROM dev)
        |SELECT source, n AS n_docs,
        |       round(mean_g, 6) AS mean_raw,
        |       round(grand, 6) AS grand_mean,
        |       round(greatest(0.0, 1.0 - (gn::DOUBLE - 3.0) * vbar
        |         / s_between), 6) AS shrink_factor,
        |       round(grand + greatest(0.0, 1.0 - (gn::DOUBLE - 3.0) * vbar
        |         / s_between) * (mean_g - grand), 6) AS mean_shrunk
        |FROM dev CROSS JOIN stot ORDER BY source""".stripMargin,
    "a_negbin_fit" ->
      """WITH pu AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu
        |       FROM events),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_active,
        |         CAST(sum(c) AS BIGINT) AS s1,
        |         sum(CAST(c AS DECIMAL(38,0)) * c) AS s2
        |  FROM pu GROUP BY 1),
        |mv AS (
        |  SELECT event_type, n_active, nu,
        |         s1::DOUBLE / nu::DOUBLE AS m,
        |         (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / nu::DOUBLE)
        |           / (nu::DOUBLE - 1.0) AS v
        |  FROM g CROSS JOIN nu)
        |SELECT event_type, n_active, nu AS n_users,
        |       round(m, 6) AS mean, round(v, 6) AS variance,
        |       round(v / m, 6) AS dispersion,
        |       v > m AS overdispersed,
        |       round(CASE WHEN v > m THEN m * m / (v - m) ELSE 0.0 END, 6)
        |         AS nb_r,
        |       round(CASE WHEN v > m THEN m / v ELSE 1.0 END, 6) AS nb_p
        |FROM mv ORDER BY event_type""".stripMargin,
    "a_permutation_test" ->
      s"""WITH $dailySql,
         |dly AS (
         |  SELECT m, dayofweek(day) + 1 IN (1, 7) AS we,
         |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
         |  FROM daily),
         |obs AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
         |         CAST(sum(CASE WHEN we THEN m ELSE 0 END) AS BIGINT) AS s_we,
         |         CAST(sum(CASE WHEN NOT we THEN m ELSE 0 END) AS BIGINT) AS s_wd
         |  FROM dly),
         |obst AS (
         |  SELECT n_days, n_we,
         |         s_we::DOUBLE / n_we::DOUBLE
         |           - s_wd::DOUBLE / CAST(n_days - n_we AS DOUBLE) AS t_obs
         |  FROM obs),
         |grid AS (
         |  SELECT d.m, d.t, o.n_we, r.rep,
         |         md5(CAST(d.t AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)) AS key
         |  FROM dly d
         |  CROSS JOIN obs o
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${PermReps - 1})) AS rep) r),
         |perm AS (
         |  SELECT rep,
         |         CAST(count(*) AS BIGINT) AS n,
         |         max(n_we) AS nw,
         |         CAST(sum(CASE WHEN rn <= n_we THEN m ELSE 0 END) AS BIGINT) AS s1,
         |         CAST(sum(CASE WHEN rn > n_we THEN m ELSE 0 END) AS BIGINT) AS s0
         |  FROM (SELECT m, n_we, rep,
         |               CAST(row_number() OVER (PARTITION BY rep
         |                 ORDER BY key, t) AS BIGINT) AS rn
         |        FROM grid)
         |  GROUP BY rep),
         |ext AS (
         |  SELECT CAST(sum(CASE WHEN abs(
         |           s1::DOUBLE / nw::DOUBLE - s0::DOUBLE / CAST(n - nw AS DOUBLE))
         |           >= abs(o.t_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
         |  FROM perm CROSS JOIN obst o)
         |SELECT o.n_days, o.n_we AS n_weekend,
         |       round(o.t_obs / 100.0, 6) AS t_obs,
         |       e.n_extreme,
         |       round((e.n_extreme::DOUBLE + 1.0) / ${PermReps + 1}.0, 6) AS p_value
         |FROM obst o CROSS JOIN ext e""".stripMargin,
    "a_hodges_lehmann" ->
      s"""WITH $dailySql,
         |pairs AS (
         |  SELECT a.m + b.m AS w
         |  FROM daily a JOIN daily b ON a.day <= b.day),
         |rk AS (
         |  SELECT w, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS rk
         |  FROM pairs),
         |n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) + 1) // 2 AS np
         |  FROM daily)
         |SELECT n.n_days, n.np AS n_pairs,
         |       CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |         / 2.0 / 100.0 AS hl_estimate
         |FROM rk CROSS JOIN n
         |WHERE rk.rk >= (n.np + 1) // 2 AND rk.rk <= (n.np + 2) // 2
         |GROUP BY n.n_days, n.np""".stripMargin,
    "a_theil_index" ->
      """WITH cust AS (
        |  SELECT o.o_custkey, c.c_nationkey,
        |         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x) AS BIGINT)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE AS mu
        |  FROM cust),
        |tt AS (
        |  SELECT list_sum(list(x::DOUBLE / t.mu * ln(x::DOUBLE / t.mu)
        |           ORDER BY o_custkey)) / t.n::DOUBLE AS t_total
        |  FROM cust CROSS JOIN tot t GROUP BY t.n),
        |gs AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(x) AS BIGINT) AS sg,
        |         CAST(sum(x) AS BIGINT)::DOUBLE / t.sx::DOUBLE AS share,
        |         CAST(sum(x) AS BIGINT)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE AS xbar,
        |         t.mu AS mu
        |  FROM cust CROSS JOIN tot t
        |  GROUP BY c_nationkey, t.sx, t.mu),
        |tb AS (
        |  SELECT list_sum(list(share * ln(xbar / mu) ORDER BY c_nationkey))
        |    AS t_between
        |  FROM gs),
        |tgg AS (
        |  SELECT g.c_nationkey, g.share,
        |         list_sum(list(c.x::DOUBLE / g.xbar * ln(c.x::DOUBLE / g.xbar)
        |           ORDER BY c.o_custkey)) / g.ng::DOUBLE AS tg
        |  FROM cust c JOIN gs g ON g.c_nationkey = c.c_nationkey
        |  GROUP BY g.c_nationkey, g.share, g.ng),
        |tw AS (
        |  SELECT list_sum(list(share * tg ORDER BY c_nationkey)) AS t_within
        |  FROM tgg)
        |SELECT t.n AS n_customers, round(t.mu / 100.0, 6) AS mean_revenue,
        |       round(tt.t_total, 6) AS t_total,
        |       round(tb.t_between, 6) AS t_between,
        |       round(tw.t_within, 6) AS t_within
        |FROM tot t CROSS JOIN tt CROSS JOIN tb CROSS JOIN tw""".stripMargin,
    "a_runs_test" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM daily),
        |med AS (
        |  SELECT CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS med
        |  FROM (SELECT m, CAST(row_number() OVER (ORDER BY m, day) AS BIGINT)
        |          AS rk FROM daily) CROSS JOIN n0
        |  WHERE rk >= (n0 + 1) // 2 AND rk <= (n0 + 2) // 2),
        |signs AS (
        |  SELECT m::DOUBLE > med AS above,
        |         lag(m::DOUBLE > med, 1) OVER (ORDER BY day) AS prev
        |  FROM daily CROSS JOIN med
        |  WHERE m::DOUBLE <> med),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> above
        |           THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM signs),
        |f AS (
        |  SELECT n, n1, n - n1 AS n2, r,
        |         2.0 * n1::DOUBLE * (n - n1)::DOUBLE AS tw
        |  FROM agg)
        |SELECT n AS n_days_used, n1 AS n_above, n2 AS n_below, r AS n_runs,
        |       round((r::DOUBLE - (tw / n::DOUBLE + 1.0))
        |         / sqrt(tw * (tw - n::DOUBLE)
        |             / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))), 6) AS z,
        |       CASE WHEN abs((r::DOUBLE - (tw / n::DOUBLE + 1.0))
        |              / sqrt(tw * (tw - n::DOUBLE)
        |                  / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)))) > 1.96
        |            THEN 'non_random' ELSE 'random' END AS verdict
        |FROM f""".stripMargin,
    "a_beta_posterior" ->
      """WITH k AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT DISTINCT event_type, user_id FROM events)
        |  GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
        |m AS (
        |  SELECT event_type, k, n,
        |         (k::DOUBLE + 0.5) / (n::DOUBLE + 1.0) AS mean,
        |         sqrt((k::DOUBLE + 0.5) / (n::DOUBLE + 1.0)
        |           * (1.0 - (k::DOUBLE + 0.5) / (n::DOUBLE + 1.0))
        |           / (n::DOUBLE + 1.0)) AS se
        |  FROM k CROSS JOIN n)
        |SELECT event_type, k AS n_users_with, n AS n_users,
        |       round(k::DOUBLE / n::DOUBLE, 6) AS raw_share,
        |       round(mean, 6) AS posterior_mean,
        |       round(mean - 1.96 * se, 6) AS ci_lo,
        |       round(mean + 1.96 * se, 6) AS ci_hi
        |FROM m ORDER BY event_type""".stripMargin,
    "a_mcnemar_filters" ->
      """WITH f AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS awl,
        |         len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
        |           AS n_stop,
        |         list_max(list_transform(toks, t -> length(t))) AS max_wl,
        |         regexp_matches(text, '[{}\[\]<>]') AS sym,
        |         CAST(len(toks) AS DOUBLE) / 100.0 AS x_len,
        |         CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
        |           AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS x_stop,
        |         (CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE)) / 10.0 AS x_wlen,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS x_distinct
        |  FROM f),
        |dec AS (
        |  SELECT NOT (n_tokens < 20) AND NOT (n_tokens > 90)
        |           AND awl >= 3.0 AND awl <= 10.0 AND n_stop > 0
        |           AND NOT sym AND NOT (max_wl > 20) AS keep_a,
        |         -0.7 + 0.8 * x_len + 2.0 * x_stop + (-1.2) * x_wlen
        |           + 1.5 * x_distinct >= 0.0 AS keep_b
        |  FROM s),
        |cells AS (
        |  SELECT CAST(sum(CASE WHEN keep_a AND keep_b THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_both,
        |         CAST(sum(CASE WHEN keep_a AND NOT keep_b THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_a_only,
        |         CAST(sum(CASE WHEN NOT keep_a AND keep_b THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_b_only,
        |         CAST(sum(CASE WHEN NOT keep_a AND NOT keep_b THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_neither
        |  FROM dec)
        |SELECT n_both, n_a_only, n_b_only, n_neither,
        |       CASE WHEN n_a_only + n_b_only = 0 THEN NULL
        |            ELSE round((abs(n_a_only::DOUBLE - n_b_only::DOUBLE) - 1.0)
        |                   * (abs(n_a_only::DOUBLE - n_b_only::DOUBLE) - 1.0)
        |                   / (n_a_only::DOUBLE + n_b_only::DOUBLE), 6)
        |       END AS chi2,
        |       CASE WHEN n_a_only + n_b_only = 0 THEN 'no_discordance'
        |            WHEN (abs(n_a_only::DOUBLE - n_b_only::DOUBLE) - 1.0)
        |                   * (abs(n_a_only::DOUBLE - n_b_only::DOUBLE) - 1.0)
        |                   / (n_a_only::DOUBLE + n_b_only::DOUBLE) > 3.841
        |            THEN 'filters_differ' ELSE 'consistent' END AS verdict
        |FROM cells""".stripMargin,
    "a_lorenz_points" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT x,
        |         CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT)
        |           AS rk,
        |         CAST(sum(x) OVER (ORDER BY x, o_custkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cumx
        |  FROM cust),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
        |  FROM cust),
        |dec AS (
        |  SELECT decile, n, sx,
        |         CAST(ceil(n::DOUBLE * decile::DOUBLE / 10.0) AS BIGINT) AS rkb
        |  FROM (SELECT unnest(range(1, 11)) AS decile FROM (SELECT 1))
        |  CROSS JOIN tot)
        |SELECT CAST(decile AS INTEGER) AS decile,
        |       rk AS n_customers,
        |       round(cumx::DOUBLE / sx::DOUBLE, 6) AS cum_revenue_share
        |FROM ranked JOIN dec ON ranked.rk = dec.rkb
        |ORDER BY decile""".stripMargin,
    "a_partial_corr" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, x::DOUBLE AS xd, y::DOUBLE AS yd,
        |         y::DOUBLE / x::DOUBLE AS z
        |  FROM daily),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         list_sum(list(xd ORDER BY day)) AS sx,
        |         list_sum(list(yd ORDER BY day)) AS sy,
        |         list_sum(list(z ORDER BY day)) AS sz,
        |         list_sum(list(xd * yd ORDER BY day)) AS sxy,
        |         list_sum(list(xd * z ORDER BY day)) AS sxz,
        |         list_sum(list(yd * z ORDER BY day)) AS syz,
        |         list_sum(list(xd * xd ORDER BY day)) AS sxx,
        |         list_sum(list(yd * yd ORDER BY day)) AS syy,
        |         list_sum(list(z * z ORDER BY day)) AS szz
        |  FROM t),
        |rr AS (
        |  SELECT n,
        |         (n::DOUBLE * sxy - sx * sy)
        |           / (sqrt(n::DOUBLE * sxx - sx * sx)
        |              * sqrt(n::DOUBLE * syy - sy * sy)) AS rxy,
        |         (n::DOUBLE * sxz - sx * sz)
        |           / (sqrt(n::DOUBLE * sxx - sx * sx)
        |              * sqrt(n::DOUBLE * szz - sz * sz)) AS rxz,
        |         (n::DOUBLE * syz - sy * sz)
        |           / (sqrt(n::DOUBLE * syy - sy * sy)
        |              * sqrt(n::DOUBLE * szz - sz * sz)) AS ryz
        |  FROM m)
        |SELECT n AS n_days, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |       round(ryz, 6) AS r_yz,
        |       round((rxy - rxz * ryz)
        |         / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        |         AS partial_r_xy_given_z
        |FROM rr""".stripMargin,
    "a_tail_dependence" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |qxh AS (
        |  SELECT x AS qx_hi FROM (
        |    SELECT x, CAST(row_number() OVER (ORDER BY x, day) AS BIGINT) AS rk
        |    FROM daily) CROSS JOIN n
        |  WHERE rk = CAST(ceil(0.95 * n::DOUBLE) AS BIGINT)),
        |qyh AS (
        |  SELECT y AS qy_hi FROM (
        |    SELECT y, CAST(row_number() OVER (ORDER BY y, day) AS BIGINT) AS rk
        |    FROM daily) CROSS JOIN n
        |  WHERE rk = CAST(ceil(0.95 * n::DOUBLE) AS BIGINT)),
        |qxl AS (
        |  SELECT x AS qx_lo FROM (
        |    SELECT x, CAST(row_number() OVER (ORDER BY x, day) AS BIGINT) AS rk
        |    FROM daily) CROSS JOIN n
        |  WHERE rk = CAST(ceil(0.05 * n::DOUBLE) AS BIGINT)),
        |qyl AS (
        |  SELECT y AS qy_lo FROM (
        |    SELECT y, CAST(row_number() OVER (ORDER BY y, day) AS BIGINT) AS rk
        |    FROM daily) CROSS JOIN n
        |  WHERE rk = CAST(ceil(0.05 * n::DOUBLE) AS BIGINT)),
        |agg AS (
        |  SELECT max(n.n) AS n_days,
        |         CAST(sum(CASE WHEN x > qx_hi THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_x_hi,
        |         CAST(sum(CASE WHEN x > qx_hi AND y > qy_hi THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_both_hi,
        |         CAST(sum(CASE WHEN x < qx_lo THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_x_lo,
        |         CAST(sum(CASE WHEN x < qx_lo AND y < qy_lo THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_both_lo
        |  FROM daily CROSS JOIN qxh CROSS JOIN qyh CROSS JOIN qxl
        |  CROSS JOIN qyl CROSS JOIN n)
        |SELECT n_days, n_x_hi, n_both_hi, n_x_lo, n_both_lo,
        |       CASE WHEN n_x_hi > 0 THEN
        |         round(n_both_hi::DOUBLE / n_x_hi::DOUBLE, 6) END
        |         AS lambda_upper,
        |       CASE WHEN n_x_lo > 0 THEN
        |         round(n_both_lo::DOUBLE / n_x_lo::DOUBLE, 6) END
        |         AS lambda_lower
        |FROM agg""".stripMargin,
    "a_cohens_h" ->
      """WITH cells AS (
        |  SELECT CAST(sum(CASE WHEN we AND buy THEN 1 ELSE 0 END) AS BIGINT)
        |           AS k1,
        |         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN NOT we AND buy THEN 1 ELSE 0 END)
        |           AS BIGINT) AS k2,
        |         CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM (SELECT dayofweek(ts) + 1 IN (1, 7) AS we,
        |               event_type = 'purchase' AS buy
        |        FROM events)),
        |f AS (
        |  SELECT k1, n1, k2, n2,
        |         k1::DOUBLE / n1::DOUBLE AS p1,
        |         k2::DOUBLE / n2::DOUBLE AS p2,
        |         2.0 * asin(sqrt(k1::DOUBLE / n1::DOUBLE))
        |           - 2.0 * asin(sqrt(k2::DOUBLE / n2::DOUBLE)) AS h
        |  FROM cells)
        |SELECT k1 AS n_weekend_purchases, n1 AS n_weekend_events,
        |       k2 AS n_weekday_purchases, n2 AS n_weekday_events,
        |       round(p1, 6) AS p_weekend, round(p2, 6) AS p_weekday,
        |       round(h, 6) AS cohens_h,
        |       CASE WHEN abs(h) < 0.2 THEN 'negligible'
        |            WHEN abs(h) < 0.5 THEN 'small'
        |            WHEN abs(h) < 0.8 THEN 'medium'
        |            ELSE 'large' END AS magnitude
        |FROM f""".stripMargin,
    "a_dp_mean" ->
      s"""WITH agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(least(n_chars, $DpClampB)) AS BIGINT)
         |           AS clamped_sum
         |  FROM documents GROUP BY lang),
         |noised AS (
         |  SELECT lang, n_docs, clamped_sum,
         |         (CAST(list_reduce(list_transform(
         |              string_split(substr(md5('dpmean:' || lang), 1, 13), ''),
         |              c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |            (a, b) -> a * 16 + b) + 1 AS DOUBLE)
         |           / 4503599627370496.0) AS u
         |  FROM agg)
         |SELECT lang, n_docs,
         |       round(clamped_sum::DOUBLE / n_docs::DOUBLE, 6)
         |         AS clamped_mean,
         |       round(clamped_sum::DOUBLE / n_docs::DOUBLE
         |         + (-($DpClampB.0 / $DpEpsilon / n_docs::DOUBLE)
         |            * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
         |         AS dp_mean
         |FROM noised ORDER BY lang""".stripMargin,
    "a_hll_set_algebra" -> {
      val w13 = "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)"
      val nib = s"CAST(strpos('0123456789abcdef', substr($w13, " +
        s"length(regexp_extract($w13, '^(0*)', 1)) + 1, 1)) - 1 AS INT)"
      s"""WITH rows_ AS (
         |  SELECT o_orderpriority AS grp, o_custkey,
         |         CAST(${hexN("CAST(o_custkey AS VARCHAR)", 14, 2)} % 64
         |           AS INT) AS reg,
         |         CAST(length(regexp_extract($w13, '^(0*)', 1)) * 4
         |           + (4 - CASE WHEN $nib >= 8 THEN 4
         |                       WHEN $nib >= 4 THEN 3
         |                       WHEN $nib >= 2 THEN 2
         |                       WHEN $nib >= 1 THEN 1
         |                       ELSE 0 END) + 1 AS INT) AS rnk
         |  FROM orders),
         |regs AS (
         |  SELECT grp, reg, max(rnk) AS mx FROM rows_ GROUP BY 1, 2),
         |lattice AS (
         |  SELECT g.grp, CAST(j.j AS INT) AS j, coalesce(r.mx, 0) AS m
         |  FROM (SELECT DISTINCT grp FROM regs) g
         |  CROSS JOIN range(0, 64) j(j)
         |  LEFT JOIN regs r ON r.grp = g.grp AND r.reg = j.j),
         |pairsj AS (
         |  SELECT a.grp AS grp_a, b.grp AS grp_b, a.j,
         |         a.m AS ma, b.m AS mb, greatest(a.m, b.m) AS mu
         |  FROM lattice a JOIN lattice b
         |    ON a.j = b.j AND a.grp < b.grp),
         |folded AS (
         |  SELECT grp_a, grp_b,
         |         list_sum(list(0.5 ^ CAST(ma AS DOUBLE) ORDER BY j)) AS za,
         |         CAST(sum(CASE WHEN ma = 0 THEN 1 ELSE 0 END) AS BIGINT) AS va,
         |         list_sum(list(0.5 ^ CAST(mb AS DOUBLE) ORDER BY j)) AS zb,
         |         CAST(sum(CASE WHEN mb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vb,
         |         list_sum(list(0.5 ^ CAST(mu AS DOUBLE) ORDER BY j)) AS zu,
         |         CAST(sum(CASE WHEN mu = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vu
         |  FROM pairsj GROUP BY 1, 2),
         |est AS (
         |  SELECT grp_a, grp_b,
         |         CASE WHEN (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / za
         |                <= 160.0 AND va > 0
         |              THEN 64.0 * ln(64.0 / CAST(va AS DOUBLE))
         |              ELSE (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / za END AS ea,
         |         CASE WHEN (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / zb
         |                <= 160.0 AND vb > 0
         |              THEN 64.0 * ln(64.0 / CAST(vb AS DOUBLE))
         |              ELSE (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / zb END AS eb,
         |         CASE WHEN (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / zu
         |                <= 160.0 AND vu > 0
         |              THEN 64.0 * ln(64.0 / CAST(vu AS DOUBLE))
         |              ELSE (0.7213 / (1.0 + 1.079 / 64)) * 4096.0 / zu END AS eu
         |  FROM folded),
         |members AS (
         |  SELECT DISTINCT o_orderpriority AS grp, o_custkey FROM orders),
         |ex_side AS (
         |  SELECT grp, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n
         |  FROM members GROUP BY 1),
         |ex_union AS (
         |  SELECT e.grp_a, e.grp_b,
         |         CAST(count(DISTINCT m.o_custkey) AS BIGINT) AS n_exact_union
         |  FROM est e JOIN members m
         |    ON m.grp = e.grp_a OR m.grp = e.grp_b
         |  GROUP BY 1, 2)
         |SELECT e.grp_a, e.grp_b, sa.n AS n_exact_a, sb.n AS n_exact_b,
         |       u.n_exact_union,
         |       round(e.eu, 6) AS est_union,
         |       round(e.ea + e.eb - e.eu, 6) AS est_intersect,
         |       round(abs(e.eu - CAST(u.n_exact_union AS DOUBLE))
         |         / CAST(u.n_exact_union AS DOUBLE), 6) AS union_rel_error
         |FROM est e
         |JOIN ex_union u ON u.grp_a = e.grp_a AND u.grp_b = e.grp_b
         |JOIN ex_side sa ON sa.grp = e.grp_a
         |JOIN ex_side sb ON sb.grp = e.grp_b
         |ORDER BY e.grp_a, e.grp_b""".stripMargin
    },
    "a_mann_whitney" ->
      """WITH base AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS v,
        |         o_orderpriority = '1-URGENT' AS ga
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |byv AS (
        |  SELECT v,
        |         CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT)
        |           AS cb,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1),
        |cum AS (
        |  SELECT *, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) - c AS cb4
        |  FROM byv),
        |st AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |         CAST(sum(cb) AS BIGINT) AS n_b,
        |         CAST(sum(ca * (2 * cb4 + c + 1)) AS BIGINT) AS two_r_a,
        |         CAST(sum(c * c * c - c) AS BIGINT) AS tie_t
        |  FROM cum),
        |calc AS (
        |  SELECT n_a, n_b,
        |         two_r_a - n_a * (n_a + 1) AS u2a,
        |         n_a + n_b AS n,
        |         sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |           * (CAST(n_a + n_b + 1 AS DOUBLE)
        |              - CAST(tie_t AS DOUBLE)
        |                / (CAST(n_a + n_b AS DOUBLE)
        |                   * CAST(n_a + n_b - 1 AS DOUBLE)))) AS sigma,
        |         CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE)
        |           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0
        |           AS delta
        |  FROM st)
        |SELECT n_a, n_b, CAST(u2a AS DOUBLE) / 2.0 AS u_a,
        |       round((CAST(u2a AS DOUBLE)
        |         - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |         / (2.0 * sigma), 6) AS z,
        |       round(delta, 6) AS cliffs_delta,
        |       CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |            WHEN abs(delta) < 0.33 THEN 'small'
        |            WHEN abs(delta) < 0.474 THEN 'medium'
        |            ELSE 'large' END AS magnitude
        |FROM calc""".stripMargin,
    "a_cramers_v" -> {
      val o = "SELECT o_orderpriority AS x, o_orderstatus AS y FROM orders"
      val l = "SELECT l_returnflag AS x, l_linestatus AS y FROM lineitem"
      val e = "SELECT event_type AS x, CAST(hour(ts) AS VARCHAR) AS y" +
        " FROM events"
      s"""SELECT * FROM (
         |${cramerSql(o, "orders_priority_x_status")}
         |UNION ALL
         |${cramerSql(l, "lineitem_returnflag_x_linestatus")}
         |UNION ALL
         |${cramerSql(e, "events_type_x_hour")})
         |ORDER BY pair""".stripMargin
    },
    "a_hoeffding_sample" -> {
      val grid = HoeffGrid.map { case (e, dl, z) => s"($e, $dl, $z)" }
        .mkString(", ")
      s"""WITH base AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |st AS (
         |  -- HUGEINT, not DECIMAL(38): DuckDB promotes wide decimal
         |  -- products to DOUBLE (the a_bootstrap_bca 10x lesson);
         |  -- HUGEINT keeps n*ss - s*s exact 128-bit
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         min(cents) AS mn, max(cents) AS mx,
         |         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
         |         CAST(sum(CAST(cents AS HUGEINT)
         |           * CAST(cents AS HUGEINT)) AS HUGEINT) AS ss
         |  FROM base),
         |mo AS (
         |  SELECT n,
         |         CAST((s * 10000) // n AS BIGINT) / 1000000.0 AS mean_usd,
         |         CAST(((CAST(n AS HUGEINT) * ss - s * s) * 100)
         |           // (n * (n - 1)) AS BIGINT) / 1000000.0 AS var_usd2,
         |         CAST(mx - mn AS DOUBLE) / 100.0 AS range_usd
         |  FROM st),
         |g AS (SELECT * FROM (VALUES $grid) AS t(eps_rel, delta, z))
         |SELECT g.eps_rel, g.delta,
         |       round(g.eps_rel * mo.mean_usd, 6) AS eps_abs_usd,
         |       CAST(ceil(mo.range_usd * mo.range_usd * ln(2.0 / g.delta)
         |         / (2.0 * (g.eps_rel * mo.mean_usd)
         |                 * (g.eps_rel * mo.mean_usd))) AS BIGINT)
         |         AS n_hoeffding,
         |       CAST(ceil(g.z * g.z * mo.var_usd2
         |         / ((g.eps_rel * mo.mean_usd) * (g.eps_rel * mo.mean_usd)))
         |         AS BIGINT) AS n_clt,
         |       round(ceil(mo.range_usd * mo.range_usd * ln(2.0 / g.delta)
         |           / (2.0 * (g.eps_rel * mo.mean_usd)
         |                   * (g.eps_rel * mo.mean_usd)))
         |         / ceil(g.z * g.z * mo.var_usd2
         |           / ((g.eps_rel * mo.mean_usd)
         |              * (g.eps_rel * mo.mean_usd))), 6)
         |         AS hoeffding_penalty,
         |       CAST(ceil(g.z * g.z * mo.var_usd2
         |         / ((g.eps_rel * mo.mean_usd) * (g.eps_rel * mo.mean_usd)))
         |         AS BIGINT) <= mo.n AS clt_feasible
         |FROM mo CROSS JOIN g
         |ORDER BY g.eps_rel, g.delta""".stripMargin
    },
    "a_kendall_taub" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS x,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT sign(CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) AS sx,
        |         sign(CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE)) AS sy
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS dd,
        |         CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS tx,
        |         CAST(sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ty,
        |         CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS txy
        |  FROM pairs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
        |SELECT nn.n AS n_days, st.n0 AS n_pairs,
        |       st.c AS concordant, st.dd AS discordant,
        |       st.tx AS ties_x, st.ty AS ties_y,
        |       round(CAST(st.c - st.dd AS DOUBLE)
        |         / sqrt(CAST(st.n0 - st.tx - st.txy AS DOUBLE)
        |                * CAST(st.n0 - st.ty - st.txy AS DOUBLE)), 6)
        |         AS tau_b,
        |       round((3.0 * CAST(st.c - st.dd AS DOUBLE))
        |         / sqrt(CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE)
        |                * (2.0 * CAST(nn.n AS DOUBLE) + 5.0) / 2.0), 6)
        |         AS z
        |FROM st CROSS JOIN nn""".stripMargin,
    "a_bootstrap_bca" -> {
      val tList = poissonT.mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT event_id,
         |         CAST(floor(CAST(value AS DECIMAL(18,2)) * 1000000)
         |           AS BIGINT) AS m,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |rep AS (
         |  SELECT t.b,
         |         CAST(sum(CAST(len(list_filter($tList, x -> x <=
         |           ${hexSql(
        "CAST(base.event_id AS VARCHAR) || '#' || CAST(t.b AS VARCHAR)",
        12)})) AS BIGINT)) AS BIGINT) AS nb,
         |         CAST(sum(CAST(len(list_filter($tList, x -> x <=
         |           ${hexSql(
        "CAST(base.event_id AS VARCHAR) || '#' || CAST(t.b AS VARCHAR)",
        12)})) AS BIGINT) * base.m) AS BIGINT) AS sb
         |  FROM base CROSS JOIN (SELECT unnest(range(0, $BcaB)) AS b) t
         |  GROUP BY 1),
         |reps AS (
         |  SELECT list(struct_pack(mean_b := mb, b := b)
         |           ORDER BY mb, b) AS byv
         |  FROM (SELECT b, CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
         |          / 1000000.0 AS mb FROM rep)),
         |pt AS (
         |  -- HUGEINT, not DECIMAL(38): DuckDB silently promotes
         |  -- DECIMAL(38)x DECIMAL(38) to DOUBLE (precision loss, and a
         |  -- BIGINT-cast overflow at the 10x corpus); HUGEINT keeps
         |  -- the whole A2/A3 computation exact 128-bit like Spark's
         |  -- decimal path
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(m) AS BIGINT) AS sm,
         |         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1,
         |         CAST(sum(CAST(cents AS HUGEINT)
         |           * CAST(cents AS HUGEINT)) AS HUGEINT) AS s2,
         |         CAST(sum(CAST(cents AS HUGEINT)
         |           * CAST(cents AS HUGEINT)
         |           * CAST(cents AS HUGEINT)) AS HUGEINT) AS s3
         |  FROM base),
         |mo AS (
         |  SELECT n, CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
         |           AS theta,
         |         CAST((CAST(n AS HUGEINT) * s2 - s1 * s1) // 1000000
         |           AS BIGINT) * 1.0e6 AS a2d,
         |         CAST((CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
         |             * s3 - 3 * CAST(n AS HUGEINT) * s1 * s2
         |             + 2 * s1 * s1 * s1) // 1000000000000000 AS BIGINT)
         |           * 1.0e15 AS a3d
         |  FROM pt),
         |acc AS (
         |  SELECT n, theta,
         |         a3d / (6.0 * pow(a2d, 1.5) * sqrt(CAST(n AS DOUBLE)))
         |           AS accel
         |  FROM mo),
         |z0t AS (
         |  SELECT n, theta, accel, byv,
         |         least(greatest(
         |           CAST(len(list_filter(byv, x -> x.mean_b < theta))
         |             AS DOUBLE) / $BcaB.0,
         |           1.0 / ${BcaB + 1}), $BcaB.0 / ${BcaB + 1}) AS p0
         |  FROM acc CROSS JOIN reps),
         |zz AS (
         |  SELECT *, ${probitSql("p0")} AS z0 FROM z0t),
         |adj AS (
         |  SELECT *,
         |         z0 + (z0 - $ZAlpha) / (1.0 - accel * (z0 - $ZAlpha))
         |           AS zl,
         |         z0 + (z0 + $ZAlpha) / (1.0 - accel * (z0 + $ZAlpha))
         |           AS zu
         |  FROM zz),
         |ab AS (
         |  SELECT *, ${phiSql("zl")} AS al, ${phiSql("zu")} AS au
         |  FROM adj),
         |fin AS (
         |  SELECT *,
         |         least(greatest(CAST(floor(al * $BcaB) + 1 AS INT), 1),
         |           $BcaB) AS i1,
         |         least(greatest(CAST(floor(au * $BcaB) + 1 AS INT), 1),
         |           $BcaB) AS i2
         |  FROM ab)
         |SELECT n AS n_events, CAST($BcaB AS BIGINT) AS b_reps,
         |       round(theta, 6) AS point_mean,
         |       round(z0, 6) AS z0,
         |       round(accel, 6) AS accel,
         |       round(al, 6) AS alpha_lo,
         |       round(au, 6) AS alpha_hi,
         |       round(byv[i1].mean_b, 6) AS bca_lo,
         |       round(byv[i2].mean_b, 6) AS bca_hi,
         |       round(byv[2].mean_b, 6) AS pct_lo,
         |       round(byv[${BcaB - 1}].mean_b, 6) AS pct_hi
         |FROM fin""".stripMargin
    },
    "a_hypothetical_rank" -> {
      val grid = HypoValues.map(v => (v * 100).toLong).mkString(", ")
      s"""WITH cents AS (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    AS v
         |  FROM orders),
         |g AS (SELECT unnest([$grid]) AS x)
         |SELECT CAST(g.x AS DOUBLE) / 100.0 AS hypothetical_usd,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       CAST(sum(CASE WHEN v < g.x THEN 1 ELSE 0 END) + 1 AS BIGINT)
         |         AS rank,
         |       round(CAST(sum(CASE WHEN v < g.x THEN 1 ELSE 0 END)
         |           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |         AS percent_rank,
         |       round(CAST(sum(CASE WHEN v <= g.x THEN 1 ELSE 0 END)
         |           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS cume_dist
         |FROM cents CROSS JOIN g
         |GROUP BY g.x ORDER BY hypothetical_usd""".stripMargin
    },
    "a_anova_f" ->
      s"""WITH grp AS (
         |  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum($centsX) AS DECIMAL(38,0)) AS s,
         |         CAST(sum(CAST($centsX * $centsX AS DECIMAL(38,0)))
         |           AS DECIMAL(38,0)) AS ss
         |  FROM orders GROUP BY 1),
         |${anovaOracleTail("means_differ", "no_evidence")}""".stripMargin,
    "a_levene_bf" ->
      s"""WITH xs AS (
         |  SELECT o_orderpriority AS g, $centsX AS x FROM orders),
         |vals AS (
         |  SELECT g, x, CAST(count(*) AS BIGINT) AS c
         |  FROM xs GROUP BY 1, 2),
         |cum AS (
         |  SELECT g, x, c,
         |         CAST(sum(c) OVER (PARTITION BY g ORDER BY x) AS BIGINT)
         |           AS cum,
         |         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS ng
         |  FROM vals),
         |v1 AS (
         |  SELECT g, min(x) AS v1 FROM cum
         |  WHERE cum >= (ng + 1) // 2 GROUP BY g),
         |v2 AS (
         |  SELECT g, min(x) AS v2 FROM cum
         |  WHERE cum >= (ng + 2) // 2 GROUP BY g),
         |med AS (
         |  SELECT v1.g, CAST(v1.v1 + v2.v2 AS BIGINT) AS med2
         |  FROM v1 JOIN v2 ON v1.g = v2.g),
         |dev AS (
         |  SELECT xs.g, CAST(abs(xs.x * 2 - med.med2) AS BIGINT) AS x
         |  FROM xs JOIN med ON xs.g = med.g),
         |grp AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS DECIMAL(38,0)) AS s,
         |         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0))
         |           AS ss
         |  FROM dev GROUP BY 1),
         |${anovaOracleTail("spreads_differ", "homoscedastic")}""".stripMargin,
    "a_jarque_bera" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(CAST(sum(x) AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0))
         |           // n AS meanq
         |  FROM daily),
         |folds AS (
         |  SELECT st.n,
         |         list_sum(list(
         |           (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |           * (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |           ORDER BY d.day)) AS s2,
         |         list_sum(list(
         |           (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |           * (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |           * (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |           ORDER BY d.day)) AS s3,
         |         list_sum(list(
         |           ((CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |            * (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0))
         |           * ((CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0)
         |              * (CAST(d.x AS DOUBLE) - CAST(st.meanq AS BIGINT) / 1000000.0))
         |           ORDER BY d.day)) AS s4
         |  FROM daily d CROSS JOIN st GROUP BY st.n),
         |jb AS (
         |  SELECT n,
         |         (s3 / CAST(n AS DOUBLE))
         |           / ((s2 / CAST(n AS DOUBLE))
         |              * sqrt(s2 / CAST(n AS DOUBLE))) AS skew,
         |         (s4 / CAST(n AS DOUBLE))
         |           / ((s2 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE)))
         |           AS kurt
         |  FROM folds),
         |jb2 AS (
         |  SELECT n, skew, kurt,
         |         CAST(n AS DOUBLE) / 6.0 * (skew * skew
         |           + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jbv
         |  FROM jb),
         |jb3 AS (
         |  SELECT *, CAST(floor(jbv * 1.0e6) AS BIGINT) AS jbm FROM jb2)
         |SELECT n AS n_days, round(skew, 6) AS skewness,
         |       round(kurt, 6) AS kurtosis, round(jbv, 6) AS jb_stat,
         |       CASE WHEN jbm >= 13815510 THEN 'p<0.001'
         |            WHEN jbm >= 9210340 THEN 'p<0.01'
         |            WHEN jbm >= 5991464 THEN 'p<0.05'
         |            WHEN jbm >= 4605170 THEN 'p<0.10'
         |            ELSE 'p>=0.10' END AS p_bucket,
         |       CASE WHEN jbm >= 5991464 THEN 'non_normal'
         |            ELSE 'normal' END AS verdict
         |FROM jb3""".stripMargin,
    "a_qq_normal" -> {
      val grid = QqGrid.mkString(", ")
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(x AS HUGEINT)) * 1000000
         |           // count(*) AS BIGINT) / 1.0e6 AS mean_c,
         |         CAST((CAST(count(*) AS HUGEINT)
         |             * sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
         |             - CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT)
         |               * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT))
         |           // (count(*) * (count(*) - 1)) // 1000000 AS BIGINT)
         |           * 1.0e6 AS var_c
         |  FROM daily),
         |cum AS (
         |  SELECT x, CAST(sum(count(*)) OVER (ORDER BY x) AS BIGINT) AS cum
         |  FROM daily GROUP BY x),
         |g AS (SELECT CAST(unnest([$grid]) AS DOUBLE) AS p),
         |qs AS (
         |  SELECT g.p, min(c.x) AS q_c, mo.n, mo.mean_c,
         |         sqrt(mo.var_c) AS sd_c
         |  FROM g CROSS JOIN mo
         |  JOIN cum c ON c.cum >= CAST(ceil(g.p * CAST(mo.n AS DOUBLE))
         |    AS BIGINT)
         |  GROUP BY g.p, mo.n, mo.mean_c, mo.var_c),
         |pts AS (
         |  SELECT p, q_c, mean_c, sd_c, ${probitSql("p")} AS z FROM qs),
         |corr_ AS (
         |  SELECT (CAST(count(*) AS DOUBLE)
         |           * list_sum(list(CAST(q_c AS DOUBLE) * z ORDER BY p))
         |         - list_sum(list(CAST(q_c AS DOUBLE) ORDER BY p))
         |           * list_sum(list(z ORDER BY p)))
         |        / (sqrt(CAST(count(*) AS DOUBLE)
         |             * list_sum(list(CAST(q_c AS DOUBLE)
         |                 * CAST(q_c AS DOUBLE) ORDER BY p))
         |           - list_sum(list(CAST(q_c AS DOUBLE) ORDER BY p))
         |             * list_sum(list(CAST(q_c AS DOUBLE) ORDER BY p)))
         |          * sqrt(CAST(count(*) AS DOUBLE)
         |              * list_sum(list(z * z ORDER BY p))
         |            - list_sum(list(z ORDER BY p))
         |              * list_sum(list(z ORDER BY p)))) AS qq_corr
         |  FROM pts)
         |SELECT round(p, 2) AS p, round(z, 6) AS z_theoretical,
         |       round(CAST(q_c AS DOUBLE) / 100.0, 6) AS sample_usd,
         |       round((mean_c + sd_c * z) / 100.0, 6) AS fitted_usd,
         |       round(c.qq_corr, 6) AS qq_corr
         |FROM pts CROSS JOIN corr_ c
         |ORDER BY p""".stripMargin
    },
    "a_friedman_test" ->
      s"""WITH cell AS (
         |  SELECT date_trunc('month', o_orderdate) AS day,
         |         o_orderpriority AS trt,
         |         CAST(sum($centsX) AS BIGINT) AS v
         |  FROM orders GROUP BY 1, 2),
         |ka AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cell),
         |complete AS (
         |  SELECT day FROM cell CROSS JOIN ka
         |  GROUP BY day, ka.k HAVING count(*) = ka.k),
         |blocks AS (
         |  SELECT c.day, c.trt, c.v FROM cell c
         |  JOIN complete ON c.day = complete.day),
         |ranked AS (
         |  SELECT a.day, a.trt,
         |         CAST(1 + sum(CASE WHEN b.v < a.v THEN 2
         |                           WHEN b.v = a.v THEN 1
         |                           ELSE 0 END) AS BIGINT) AS rank2
         |  FROM blocks a JOIN blocks b ON a.day = b.day
         |  GROUP BY a.day, a.trt),
         |rsum AS (
         |  SELECT trt, CAST(count(*) AS BIGINT) AS n_blocks,
         |         CAST(sum(rank2) AS BIGINT) AS r2
         |  FROM ranked GROUP BY 1),
         |chi AS (
         |  SELECT n_blocks, k,
         |         3.0 * sr2 / (CAST(n_blocks AS DOUBLE)
         |           * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
         |           - 3.0 * CAST(n_blocks AS DOUBLE)
         |             * CAST(k + 1 AS DOUBLE) AS chi2
         |  FROM (
         |    SELECT n_blocks, ka.k,
         |           list_sum(list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
         |             ORDER BY trt)) AS sr2
         |    FROM rsum CROSS JOIN ka
         |    GROUP BY n_blocks, ka.k)),
         |pv AS (
         |  SELECT chi2,
         |         CASE WHEN k = 5 THEN
         |           CAST(floor(chi2 * 1.0e6) AS BIGINT)
         |         ELSE NULL END AS xm
         |  FROM chi)
         |SELECT r.trt AS priority, r.n_blocks,
         |       round(CAST(r.r2 AS DOUBLE) / 2.0
         |         / CAST(r.n_blocks AS DOUBLE), 6) AS mean_rank,
         |       round(p.chi2, 6) AS chi2_friedman,
         |       CASE WHEN p.xm >= 18466826 THEN 'p<0.001'
         |            WHEN p.xm >= 13276704 THEN 'p<0.01'
         |            WHEN p.xm >= 9487729 THEN 'p<0.05'
         |            WHEN p.xm >= 7779440 THEN 'p<0.10'
         |            WHEN p.xm IS NOT NULL THEN 'p>=0.10'
         |            ELSE NULL END AS p_bucket,
         |       CASE WHEN p.xm >= 9487729 THEN 'ranks_differ'
         |            ELSE 'consistent' END AS verdict
         |FROM rsum r CROSS JOIN pv p
         |ORDER BY priority""".stripMargin,
    "a_simpsons_slopes" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS y
        |  FROM lineitem),
        |mo AS (
        |  SELECT g AS grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
        |           // 1000000 AS BIGINT) * 1.0e6 AS sxy,
        |         CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
        |           // 1000000 AS BIGINT) * 1.0e6 AS sxx
        |  FROM rows_ GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(*) AS BIGINT),
        |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE),
        |         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE),
        |         CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
        |           // 1000000 AS BIGINT) * 1.0e6,
        |         CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
        |           // 1000000 AS BIGINT) * 1.0e6
        |  FROM rows_),
        |sl AS (
        |  SELECT grp, n,
        |         (CAST(n AS DOUBLE) * sxy - sx * sy)
        |           / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
        |  FROM mo)
        |SELECT g.grp AS group_flag, g.n AS n_rows,
        |       round(g.slope, 6) AS slope_cents_per_unit,
        |       round(p.slope, 6) AS pooled_slope,
        |       sign(g.slope) <> sign(p.slope) AS simpson_reversal
        |FROM sl g CROSS JOIN (SELECT * FROM sl WHERE grp = 'ALL') p
        |WHERE g.grp <> 'ALL'
        |ORDER BY group_flag""".stripMargin,
    "a_wilcoxon_signrank" ->
      s"""WITH monthly AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         |         CAST(sum($centsX) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |pairs AS (
         |  SELECT c.rev - p.rev AS dd, abs(c.rev - p.rev) AS ad
         |  FROM monthly c JOIN monthly p
         |    ON c.m = CAST(p.m + INTERVAL 12 MONTH AS DATE)
         |  WHERE c.rev <> p.rev),
         |ranked AS (
         |  SELECT a.dd, a.ad,
         |         CAST(sum(CASE WHEN b.ad < a.ad THEN 2
         |                       WHEN b.ad = a.ad THEN 1
         |                       ELSE 0 END) AS BIGINT) AS kr2m1
         |  FROM pairs a CROSS JOIN pairs b
         |  GROUP BY a.dd, a.ad),
         |mult AS (
         |  SELECT dd, ad, CAST(count(*) AS BIGINT) AS k
         |  FROM pairs GROUP BY 1, 2),
         |w2_ AS (
         |  SELECT CAST(sum(m.k) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN r.dd > 0
         |           THEN r.kr2m1 + m.k ELSE 0 END)
         |           AS BIGINT) AS w2
         |  FROM ranked r
         |  JOIN mult m ON r.dd = m.dd AND r.ad = m.ad),
         |ties AS (
         |  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
         |        FROM pairs GROUP BY ad)),
         |z_ AS (
         |  SELECT n, w2,
         |         CAST(w2 - n * (n + 1) // 2 AS DOUBLE)
         |           / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie3
         |               AS DOUBLE) / 12.0) AS z
         |  FROM w2_ CROSS JOIN ties),
         |zm_ AS (
         |  SELECT *, CAST(floor(abs(z) * 1.0e6) AS BIGINT) AS zm FROM z_)
         |SELECT n AS n_pairs, CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
         |       round(z, 6) AS z,
         |       CASE WHEN zm >= 3290526 THEN 'p<0.001'
         |            WHEN zm >= 2575829 THEN 'p<0.01'
         |            WHEN zm >= 1959963 THEN 'p<0.05'
         |            WHEN zm >= 1644853 THEN 'p<0.10'
         |            ELSE 'p>=0.10' END AS p_bucket,
         |       CASE WHEN zm >= 1959963
         |            THEN 'shifted' ELSE 'no_shift' END AS verdict
         |FROM zm_""".stripMargin,
    "a_ks_two_sample" ->
      s"""WITH daily AS (
         |  SELECT o_orderdate AS day, CAST(sum($centsX) AS BIGINT) AS x,
         |         CASE WHEN dayofweek(o_orderdate) IN (0, 6)
         |              THEN 1 ELSE 0 END AS we
         |  FROM orders GROUP BY 1),
         |grid AS (
         |  SELECT x, CAST(sum(we) AS BIGINT) AS g1,
         |         CAST(sum(1 - we) AS BIGINT) AS g2
         |  FROM daily GROUP BY 1),
         |cum AS (
         |  SELECT x,
         |         CAST(sum(g1) OVER (ORDER BY x) AS BIGINT) AS c1,
         |         CAST(sum(g2) OVER (ORDER BY x) AS BIGINT) AS c2
         |  FROM grid),
         |tot AS (
         |  SELECT CAST(sum(we) AS BIGINT) AS n1,
         |         CAST(sum(1 - we) AS BIGINT) AS n2
         |  FROM daily),
         |dm AS (
         |  SELECT t.n1, t.n2,
         |         CAST(max(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT)
         |           AS dnum
         |  FROM cum c CROSS JOIN tot t GROUP BY 1, 2),
         |st AS (
         |  SELECT n1, n2,
         |         CAST(dnum AS DOUBLE)
         |           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat,
         |         CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS ne
         |  FROM dm),
         |lm AS (
         |  SELECT n1, n2, d_stat,
         |         (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d_stat AS lam
         |  FROM st),
         |pk AS (
         |  SELECT n1, n2, d_stat, lam,
         |         CAST(floor(lam * 1.0e6) AS BIGINT) AS lmq
         |  FROM lm)
         |SELECT n1 AS n_weekend, n2 AS n_weekday,
         |       round(d_stat, 6) AS d_stat,
         |       round(lam, 6) AS lambda_ks,
         |       CASE WHEN lmq >= 1949474 THEN 'p<0.001'
         |            WHEN lmq >= 1627623 THEN 'p<0.01'
         |            WHEN lmq >= 1358098 THEN 'p<0.05'
         |            WHEN lmq >= 1223847 THEN 'p<0.10'
         |            ELSE 'p>=0.10' END AS p_bucket,
         |       CASE WHEN lmq >= 1358098 THEN 'distributions_differ'
         |            ELSE 'consistent' END AS verdict
         |FROM pk""".stripMargin)
}
