package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.QueryModule
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Data-platform operations audits: storage layout, encoding and
  * compaction advisors, zone maps, bloom and broadcast advisors,
  * partition skew, sampling, hashing, and training-order and token
  * budget planning.
  */
object OpsQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("o_")

  // Calendar spine gap-fill: generate the full day range (sequence +
  // explode), left-join actual daily revenue, surface missing /
  // present day accounting — the "did every partition arrive"
  // completeness check every ingest pipeline needs.
  val oDateSpine: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("rev"))
    val spine = daily
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left_outer")
      .groupBy(month(col("day")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_days"),
        count(when(col("rev").isNull, 1)).as("n_missing"),
        count(col("rev")).as("n_present"))
      .orderBy(col("mo"))
  }

  /** Deterministic training-order shuffle — the "global shuffle"
    * stage between corpus and trainer: every (doc, epoch) pair
    * routes to a hash shard and is ordered inside it by an md5 key
    * mixing doc and epoch, so the training order is reproducible,
    * uncorrelated with corpus order, spreads a doc's repeat epochs
    * far apart, and needs NO corpus-wide sort — shard count scales
    * with the corpus and each shard orders independently (here 16
    * shards via the key's first hex digit; sort_array inside the
    * aggregate, no Window or global Sort). Sources repeat w (1..4)
    * epochs. Emits per-shard counts plus an md5 fingerprint of the
    * ordered (doc_id:epoch) sequence so the oracle verifies the
    * ORDER itself, not just membership.
    */
  val oTrainingOrder: Q = (s, dir) => {
    val w = lit(1) + substring(col("source"), 4, 10).cast("int") % 4
    val expanded = docs(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("epoch", explode(sequence(lit(0), w - 1)))
      .withColumn("key", md5(concat_ws(":", col("doc_id"), col("epoch"))))
      .withColumn("shard", conv(substring(col("key"), 1, 1), 16, 10).cast("int"))
    expanded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("epoch").cast("long")).as("epoch_sum"),
        md5(concat_ws("|",
          transform(
            sort_array(collect_list(
              struct(col("key"), col("doc_id"), col("epoch")))),
            x => concat_ws(":", x.getField("doc_id"), x.getField("epoch")))))
          .as("order_fingerprint"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // o_token_budget — token-budget mixture planner: given target lang
  // weights and a total token budget, compute per-lang availability,
  // allocation, and a DETERMINISTIC document selection (md5-ranked
  // within lang, cumulative-sum cutoff). The cumsum window partitions
  // by lang — at 100 TB each lang's plan is an independent partition
  // stream, no global sort. The selection is reproducible under any
  // partitioning (content-hash order, not arrival order).
  // ---------------------------------------------------------------
  val oTokenBudget: Q = (s, dir) => {
    val budget = 20000L
    val weight = when(col("lang") === "en", lit(0.40))
      .when(col("lang") === "de", lit(0.20))
      .when(col("lang") === "es", lit(0.15))
      .when(col("lang") === "fr", lit(0.15))
      .otherwise(lit(0.10))
    val keyed = docs(s, dir).select(col("doc_id"), col("lang"),
      TF.tokenCount(col("text")).as("n_tok"),
      md5(col("doc_id").cast("string")).as("key"))
      .withColumn("alloc", floor(d(lit(budget)) * weight))
    val w = Window.partitionBy(col("lang")).orderBy(col("key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("selected", col("cum") <= col("alloc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("available_tokens"),
        max(col("alloc")).as("allocated_tokens"),
        sum(when(col("selected"), 1L).otherwise(0L)).cast("long").as("n_selected"),
        sum(when(col("selected"), col("n_tok")).otherwise(0L)).cast("long")
          .as("selected_tokens"))
      .withColumn("fill_rate",
        d(col("selected_tokens")) / d(col("allocated_tokens")))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // o_zorder_layout — Morton (z-order) clustering key over two join
  // dimensions, the layout primitive behind multi-dimensional file
  // skipping: interleave the low 8 bits of (partkey, suppkey), cut
  // the z-curve into 256 contiguous buckets, and report each
  // bucket's bounding box. The per-bucket (max-min+1)² cell span is
  // the data-skipping story made measurable: a z-ordered file
  // covers a tiny x×y rectangle, so a predicate on EITHER dimension
  // prunes most buckets. Pure integer bit arithmetic — identical in
  // both engines by construction.
  // ---------------------------------------------------------------
  private def mortonSql(x: String, y: String): String =
    (0 until 8).map(i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)}")
      .mkString(" + ")

  val oZorderLayout: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      pmod(col("l_partkey"), lit(256)).cast("long").as("x"),
      pmod(col("l_suppkey"), lit(256)).cast("long").as("y"))
    val z = (0 until 8).map(i =>
      shiftright(col("x"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(col("y"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
      .reduce(_ + _)
    li.withColumn("bucket", shiftright(z, 8))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .withColumn("cell_span",
        (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------
  // o_compaction_plan — small-partition compaction planning via
  // first-fit-decreasing bin packing (the table-maintenance step
  // that rewrites a fragmented 100 TB table: many small (lang,
  // source) partitions packed into target-sized shards). Capacity =
  // 2·max partition size (data-derived, so the plan is meaningful at
  // every sf); groups place largest-first into the first bin that
  // fits, else open a new bin — the classic 11/9·OPT+1 heuristic.
  // FFD is sequential by definition, but over the PARTITION LIST
  // (bounded by lang×source), never the row stream: the corpus
  // reduces to per-group counts first, and the greedy fold runs over
  // ≤100 structs. Integer-exact throughout; the DuckDB oracle steps
  // the same greedy rule as a recursive CTE (list_reduce's
  // multi-field accumulator mutation is avoided, as w_holt_winters
  // documents).
  // ---------------------------------------------------------------
  val oCompactionPlan: Q = (s, dir) => {
    val groups = docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val packedInput = groups.agg(
      (lit(2) * max(col("n"))).as("cap"),
      sort_array(collect_list(struct((-col("n")).as("negn"), col("lang"),
        col("source"), col("n")))).as("gs"))
    val POS = "array_position(transform(st.loads, l -> l + x.n <= cap), true)"
    val BIN = s"CAST(CASE WHEN ($POS) = 0 THEN size(st.loads) + 1" +
      s" ELSE ($POS) END AS INT)"
    val LOADS = s"CASE WHEN ($POS) = 0 THEN concat(st.loads, array(x.n))" +
      s" ELSE transform(st.loads, (l, i) -> CASE WHEN i = ($BIN) - 1" +
      s" THEN l + x.n ELSE l END) END"
    val fold =
      s"""aggregate(
         |  gs,
         |  named_struct(
         |    'loads', CAST(array() AS ARRAY<BIGINT>),
         |    'out', CAST(array() AS
         |      ARRAY<STRUCT<lang: STRING, source: STRING, n: BIGINT, bin: INT>>)),
         |  (st, x) -> named_struct(
         |    'loads', $LOADS,
         |    'out', concat(st.out, array(named_struct(
         |      'lang', x.lang, 'source', x.source, 'n', x.n, 'bin', $BIN)))))""".stripMargin
    packedInput
      .select(col("cap"), explode(expr(s"($fold).out")).as("o"))
      .select(col("o.lang").as("lang"), col("o.source").as("source"),
        col("o.n").as("n_docs"), col("o.bin").as("bin"), col("cap"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // o_partition_skew — partition-skew audit of the (lang, source)
  // layout (the diagnostic a 100 TB writer consults before choosing
  // salting/AQE settings, and the read-side twin of
  // o_compaction_plan): per lang, cell count, max/mean skew factor,
  // Shannon entropy of the within-lang source distribution and its
  // balance ratio entropy/ln(cells) (1 = perfectly even). Scale
  // shape: the corpus reduces through the ≤ lang×source count
  // aggregate first; entropy folds source-ascending over ≤ 20
  // values (the sorted-fold float policy); skew is exact-integer
  // arithmetic with two divisions at the edge.
  // ---------------------------------------------------------------
  val oPartitionSkew: Q = (s, dir) => {
    docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_cells"), sum(col("c")).cast("long").as("n_docs"),
        max(col("c")).cast("long").as("max_cell"),
        sort_array(collect_list(struct(col("source"), col("c")))).as("cs"))
      .withColumn("entropy", expr(
        "aggregate(cs, CAST(0.0 AS DOUBLE), (a, x) ->" +
          " a - (CAST(x.c AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
          " * ln(CAST(x.c AS DOUBLE) / CAST(n_docs AS DOUBLE)))"))
      .select(col("lang"), col("n_cells"), col("n_docs"), col("max_cell"),
        round(d(col("max_cell")) * d(col("n_cells")) / d(col("n_docs")), 6)
          .as("skew_factor"),
        round(col("entropy"), 6).as("entropy"),
        round(col("entropy") / log(d(col("n_cells"))), 6).as("balance"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // o_histogram_equiheight — the equi-height histogram of
  // l_extendedprice (the ANALYZE-style statistics object a
  // cost-based optimizer reads for selectivity): rows rank globally
  // by (value, orderkey, linenumber) through the TWO-PHASE rank
  // (range partition + carries — the a_gini/a_ks shape, never a
  // single-partition sort), then bucket = ⌊(rk−1)·10/n⌋ + 1 — pure
  // integer arithmetic, so bucket populations differ by at most
  // one row. Per bucket: row count, exact NDV, exact decimal
  // lo/hi bounds cast double at the edge. One range exchange + one
  // 10-group aggregate.
  // ---------------------------------------------------------------
  val oHistogramEquiheight: Q = (s, dir) => {
    val rows = Tables.table(s, dir, "lineitem")
      .select(col("l_extendedprice").cast("decimal(18,2)").as("v"),
        col("l_orderkey"), col("l_linenumber"))
      .transform(Barrier.materialize) // consumed by the count + the rank pass
    val n = rows.count()
    Ranking
      .withGlobalRank(rows, "rk", col("v"), col("l_orderkey"),
        col("l_linenumber"))
      // `div`, not `/`: the Column `/` is double division, and the
      // bucket rule must stay integer-exact
      .withColumn("bucket", expr(s"CAST(((rk - 1) * 10) div $n + 1 AS INT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("v")).as("ndv"),
        min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------
  // o_quota_allocation — exact largest-remainder (Hare quota)
  // allocation of a fixed sample budget across (lang, source) cells:
  // floor(B·nᵢ/N) seats first, then the B − Σfloor leftovers go to
  // the largest remainders (ties → lang, source order) — the
  // standard way to draw an EXACTLY-B-row stratified sample whose
  // strata shares are within one row of proportional (what
  // t_stratified_sample's per-stratum rates cannot guarantee).
  // Floors and remainders are exact integer div/mod; the remainder
  // ranking runs through the two-phase global rank on the tiny cell
  // frame. Σ allocated = B by construction (pinned in the spec).
  // ---------------------------------------------------------------
  val oQuotaAllocation: Q = (s, dir) => {
    val budget = 1000L
    val cells = docs(s, dir).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .transform(Barrier.materialize) // totals + rank pass
    val tot = cells.agg(sum(col("c"))).head().getLong(0)
    val base = cells
      .withColumn("fl", expr(s"CAST((c * $budget) div $tot AS BIGINT)"))
      .withColumn("rem", expr(s"CAST((c * $budget) % $tot AS BIGINT)"))
      .transform(Barrier.materialize) // floor total + rank pass
    val leftover = budget - base.agg(sum(col("fl"))).head().getLong(0)
    Ranking
      .withGlobalRank(base, "rk", -col("rem"), col("lang"), col("source"))
      .select(col("lang"), col("source"), col("c").as("n_docs"),
        round(d(col("c")) / lit(tot.toDouble), 6).as("exact_share"),
        col("fl").as("floor_alloc"),
        (col("fl") + when(col("rk") <= leftover, 1L).otherwise(0L))
          .as("allocated"))
      .orderBy(col("lang"), col("source"))
  }

  /** The 60-bit portable md5 hash of the ring point label, computed
    * on the DRIVER (the ring is a constant of the partitioner) with
    * the exact hex-prefix rule Spark/DuckDB replay on data:
    * first 15 hex chars of md5, base-16. */
  private def ringPointHash(label: String): Long = {
    val dgst = java.security.MessageDigest.getInstance("MD5")
      .digest(label.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      dgst.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  private def ringLit(nShards: Int, vnodes: Int): Column =
    array((for (sh <- 0 until nShards; v <- 0 until vnodes) yield
      struct(lit(ringPointHash(s"shard-$sh#$v")).as("ph"),
        lit(sh.toLong).as("shard"))): _*)

  // ---------------------------------------------------------------
  // o_consistent_hash — consistent-hash ring resharding audit
  // (Karger et al. 1997; the Dynamo/Cassandra partitioner): docs
  // hash to a 60-bit portable md5 point; a ring of 8 shards × 4
  // virtual nodes assigns each doc to the first ring point
  // clockwise (smallest point ≥ key, wrapping to the ring minimum);
  // the audit then adds shard 8 and reports, per original shard,
  // how many docs move. Consistent hashing's contract — the ONLY
  // docs that move are those captured by the new shard's points —
  // is pinned in the spec and visible in the output (every move
  // lands on shard 8). The ring is a 32/36-element LITERAL array;
  // assignment is a pure map-side expression (filter → sorted head
  // → wrap fallback) — the whole operator is ONE scan + an 8-group
  // aggregate, exactly how a real ring partitioner behaves at
  // 100 TB (no join, no shuffle of the corpus beyond 8 groups).
  // All integer comparisons on md5 grids — bit-exact everywhere.
  // ---------------------------------------------------------------
  val oConsistentHash: Q = (s, dir) => {
    // get() (0-based) is null-on-out-of-bounds in BOTH ANSI modes —
    // the filter result is legitimately empty past the last ring point
    val assign = coalesce(
      expr("get(array_sort(filter(__ring, r -> r.ph >= __kh)), 0)")
        .getField("shard"),
      expr("get(array_sort(__ring), 0)").getField("shard"))
    docs(s, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("__kh"))
      .withColumn("__ring", ringLit(8, 4))
      .withColumn("old_shard", assign)
      .withColumn("__ring", ringLit(9, 4))
      .withColumn("new_shard", assign)
      .groupBy(col("old_shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("new_shard") =!= col("old_shard"), 1L).otherwise(0L))
          .as("n_moved"),
        max(when(col("new_shard") =!= col("old_shard"), col("new_shard")))
          .as("moved_to"))
      .select(col("old_shard"), col("n_docs"), col("n_moved"),
        round(d(col("n_moved")) / d(col("n_docs")), 6).as("move_rate"),
        col("moved_to"))
      .orderBy(col("old_shard"))
  }

  // ---------------------------------------------------------------
  // o_zonemap_prune — zone-map (min/max statistics) file-skipping
  // audit: lineitem is laid out into 64 equal row-groups under two
  // layouts — arrival order (l_orderkey, l_linenumber) and
  // price-sorted — zone maps (per-group min/max of the exact
  // DECIMAL price) are computed for each, and the audit reports how
  // many groups a `price BETWEEN 40000 AND 50000` scan can skip
  // under each layout plus the rows it still reads. This is the
  // measurement behind every clustering decision at 100 TB: the
  // same predicate reads ~all arrival-order groups but prunes a
  // sorted layout to the value range. Group assignment is the
  // integer two-phase-rank bucket rule (the o_histogram_equiheight
  // shape — never a single-partition sort); min/max and counts are
  // exact; skip tests are exact DECIMAL comparisons.
  // ---------------------------------------------------------------
  val oZonemapPrune: Q = (s, dir) => {
    val rows = Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      .transform(Barrier.materialize) // count + both layout rank passes
    val n = rows.count()
    val lo = lit("40000.00").cast("decimal(18,2)")
    val hi = lit("50000.00").cast("decimal(18,2)")
    def layout(name: String, sort: Seq[Column]): DataFrame =
      Ranking.withGlobalRank(rows, "rk", sort: _*)
        .withColumn("grp", expr(s"CAST(((rk - 1) * 64) div $n AS INT)"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"), min(col("price")).as("mn"),
          max(col("price")).as("mx"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("mx") < lo || col("mn") > hi, 1L).otherwise(0L))
            .as("n_skipped"),
          sum(when(col("mx") < lo || col("mn") > hi, 0L)
            .otherwise(col("n_rows"))).cast("long").as("rows_scanned"))
        .select(lit(name).as("layout"), col("n_groups"), col("n_skipped"),
          round(d(col("n_skipped")) / d(col("n_groups")), 6).as("skip_rate"),
          col("rows_scanned"))
    layout("arrival", Seq(col("l_orderkey"), col("l_linenumber")))
      .unionAll(layout("price_sorted",
        Seq(col("price"), col("l_orderkey"), col("l_linenumber"))))
      .orderBy(col("layout"))
  }

  // ---------------------------------------------------------------
  // o_join_cardinality_est — the System-R cardinality-estimate
  // audit (Selinger 1979): for every FK join edge of the star,
  // estimate |A ⋈ B| as |A|·|B|/max(ndv_A, ndv_B) from exact
  // per-side NDVs, run the join, and report the q-error — the
  // check a cost-based optimizer's statistics pipeline runs to
  // decide whether its histograms are stale. Exact integer counts;
  // the estimate and q-error are single double divisions of exact
  // sub-2⁵³ integers (engine-identical). Scale shape: per edge two
  // map-side-combining distinct aggregates and one join count —
  // dims broadcast, the fact side shuffles once per fact-keyed
  // distinct; everything reduces before it leaves an executor.
  // ---------------------------------------------------------------
  val oJoinCardinalityEst: Q = (s, dir) => {
    def edge(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String, bcast: Boolean): DataFrame = {
      val la = left.agg(count(lit(1)).as("n_left"),
        countDistinct(col(lk)).as("ndv_left"))
      val ra = right.agg(count(lit(1)).as("n_right"),
        countDistinct(col(rk)).as("ndv_right"))
      val rside = if (bcast) broadcast(right) else right
      val actual = left.join(rside, col(lk) === col(rk))
        .agg(count(lit(1)).as("actual_rows"))
      // three one-row aggregates — the accepted broadcast-scalar cross
      la.crossJoin(broadcast(ra)).crossJoin(broadcast(actual))
        .select(lit(name).as("edge"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          round(d(col("n_left")) * d(col("n_right")) /
            d(greatest(col("ndv_left"), col("ndv_right"))), 6)
            .as("est_rows"),
          col("actual_rows"))
    }
    val li = Tables.table(s, dir, "lineitem")
    val rows = Seq(
      edge("lineitem_orders", li, "l_orderkey",
        Tables.table(s, dir, "orders").select(col("o_orderkey")),
        "o_orderkey", bcast = false),
      edge("lineitem_part", li, "l_partkey",
        Tables.table(s, dir, "part").select(col("p_partkey")),
        "p_partkey", bcast = true),
      edge("lineitem_supplier", li, "l_suppkey",
        Tables.table(s, dir, "supplier").select(col("s_suppkey")),
        "s_suppkey", bcast = true),
      edge("orders_customer",
        Tables.table(s, dir, "orders").select(col("o_custkey")), "o_custkey",
        Tables.table(s, dir, "customer").select(col("c_custkey")),
        "c_custkey", bcast = true))
    rows.reduce(_ unionAll _)
      .withColumn("q_error",
        round(greatest(d(col("actual_rows")) / col("est_rows"),
          col("est_rows") / d(col("actual_rows"))), 6))
      .orderBy(col("edge"))
  }

  // ---------------------------------------------------------------
  // o_systematic_sample — systematic sampling (Madow 1944): order
  // the population by a deterministic hash (md5 of the key — the
  // classic "random order without randomness"), take every k-th
  // row, and audit representativeness: per order-priority stratum,
  // population share vs sample share. Systematic sampling is the
  // cheapest fixed-rate sampler that still guarantees spread — and
  // the audit is the check that hash order didn't alias a stratum.
  // The global row index comes from the two-phase rank (range
  // partitions + per-partition row_number + broadcast offsets —
  // never a single-partition sort). Counts and shares are exact
  // integers through the micro-unit division. Scale shape: one rank
  // pass over the population, map-side-combining stratum aggregates,
  // one broadcast join of two ≤5-row frames.
  // ---------------------------------------------------------------
  val oSystematicSample: Q = (s, dir) => {
    val pop = Tables.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        md5(col("o_orderkey").cast("string")).as("h"))
    val ranked = Ranking.withGlobalRank(pop, "rk", col("h"), col("o_orderkey"))
      .transform(Barrier.materialize) // count + sample both read the ranked frame
    val n = ranked.count()
    val k = math.max(1L, n / 256L)
    val sample = ranked.filter((col("rk") - 1) % k === 0)
    val popAgg = ranked.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_pop"))
    val samAgg = sample.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sample"))
    popAgg.join(samAgg, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"), col("n_pop"),
        coalesce(col("n_sample"), lit(0L)).as("n_sample"),
        (expr(s"CAST((n_pop * 1000000) div $n AS BIGINT)") /
          lit(1000000.0)).as("pop_share"),
        (expr(s"CAST((coalesce(n_sample, 0L) * 1000000)" +
          s" div ${math.max(1L, (n + k - 1) / k)} AS BIGINT)") /
          lit(1000000.0)).as("sample_share"),
        lit(k).as("step_k"))
      .orderBy(col("o_orderpriority"))
  }

  // ---------------------------------------------------------------
  // o_hash_uniformity — χ² uniformity guardrail over the engine's
  // own hash-routing primitive: md5(doc_id) routed to 64 buckets
  // must be uniform, or every split/sample/shard built on it (split
  // assignment, systematic sampling, shard manifests, LSH banding)
  // inherits the bias — the same statistic an A/B platform runs as
  // the sample-ratio-mismatch (SRM) alarm. χ² = Σ (o − e)²/e over
  // 64 buckets with e = n/64; the audit publishes the statistic and
  // the decision against the χ²₆₃ 99th-percentile literal (92.01,
  // Wilson–Hilferty-free — a fixed table constant, not a libm CDF).
  // Exactness: counts are integers; χ² folds the 64 (o·64 − n)²
  // integer numerators and leaves integer space in one double
  // division per bucket folded in bucket order (sorted-fold policy).
  // Scale shape: one map-side-combining 64-bucket aggregate, then a
  // bounded fold.
  // ---------------------------------------------------------------
  val oHashUniformity: Q = (s, dir) => {
    val b = 64
    val buckets = Tables.table(s, dir, "documents")
      .select((conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % b).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("o"))
    buckets
      .agg(sum(col("o")).cast("long").as("n"),
        count(lit(1)).as("n_buckets"),
        min(col("o")).as("min_bucket"), max(col("o")).as("max_bucket"),
        sort_array(collect_list(struct(col("bucket"), col("o")))).as("bs"))
      .select(col("n"), col("n_buckets"), col("min_bucket"),
        col("max_bucket"),
        expr(
          // chi2 = sum (o - n/64)^2 / (n/64)
          //      = (64/n) * sum (o - n/64)^2 ; fold integer (64*o - n)^2
          //      then one division by (64*n) — exact ints until the edge
          s"""round(CAST(aggregate(bs, CAST(0 AS DECIMAL(38,0)),
             |  (acc, x) -> acc + CAST(($b * x.o - n) AS DECIMAL(19,0))
             |    * CAST(($b * x.o - n) AS DECIMAL(19,0)))
             |  AS DOUBLE) / (CAST($b AS DOUBLE) * CAST(n AS DOUBLE)), 6)"""
            .stripMargin).as("chi2"),
        lit(92.01).as("crit_99"))
      .withColumn("uniform", col("chi2") <= col("crit_99"))
  }

  // ---------------------------------------------------------------
  // o_pareto_frontier — 2-D skyline over part (Börzsönyi et al.
  // 2001): the set of parts where no other part is both cheaper and
  // larger — minimize price, maximize size. The naive formulation is
  // the quadratic NOT-EXISTS dominance self-join; in 2-D the skyline
  // is a LINEAR sweep: reduce to one best-size row per distinct
  // price, then a running max of size over ascending price — a point
  // survives iff it strictly beats every cheaper point's best size.
  // The sweep runs through Ranking.withGlobalCumMinExclusive (on
  // negated size), the same two-phase range-partition + P-row-carry
  // machinery as the global ranks — never a single-partition window.
  // The frontier itself is tiny (O(log n) expected for independent
  // dims), so the tie-collecting join back to part broadcasts it.
  // The oracle replays the identical per-price reduce + running-max
  // sweep; the quadratic dominance definition is differential-pinned
  // in the spec instead, where n is small.
  // ---------------------------------------------------------------
  val oParetoFrontier: Q = (s, dir) => {
    val p = Tables.table(s, dir, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size"))
    val perPrice = p.groupBy(col("price_c"))
      .agg(max(col("p_size")).as("best_size"))
      .withColumn("negbest", -col("best_size").cast("long"))
    val frontier = Ranking
      .withGlobalCumMinExclusive(perPrice, "negbest", "prevmin",
        col("price_c"))
      .filter(col("negbest") < col("prevmin"))
      .select(col("price_c").as("f_price_c"),
        col("best_size").as("f_best_size"))
      .transform(Barrier.materialize) // tiny; also severs the self-join lineage
    p.join(broadcast(frontier),
        col("price_c") === col("f_price_c") &&
          col("p_size") === col("f_best_size"))
      .groupBy(col("f_price_c"), col("f_best_size"))
      .agg(count(lit(1)).as("n_tied"),
        min(col("p_partkey")).as("sample_partkey"))
      .select(
        (expr("CAST(f_price_c * 10000 AS BIGINT)") / lit(1000000.0))
          .as("price"),
        col("f_best_size").as("best_size"), col("n_tied"),
        col("sample_partkey"), col("f_price_c"))
      .orderBy(col("f_price_c"))
      .drop("f_price_c")
  }

  // ---------------------------------------------------------------
  // o_encoding_advisor — per-column layout advisor over orders in
  // o_orderkey (write) order: exact NDV (dictionary benefit =
  // rows/ndv) and run count (RLE benefit = rows/runs). The numbers
  // a parquet writer's encoding chooser works from; a column with
  // rle_ratio ≈ 1 in write order may still compress sorted — pair
  // with o_zorder_layout for the sort decision. Scale shape: NDV is
  // a map-combining distinct aggregate; the run count is TWO-PHASE
  // (the Ranking discipline): range-partition on the key (frozen),
  // per-partition local change counts via a partition-LOCAL lag, and
  // the P boundary seams close on the driver from P carry rows —
  // never a single global window over the row stream.
  // ---------------------------------------------------------------
  private val AdvisorCols = Seq("o_orderstatus", "o_orderpriority")

  val oEncodingAdvisor: Q = (s, dir) => {
    // the seam-close below collects ONE carry row per range partition
    // (the Ranking.scala carry discipline) — cap P so a caller setting
    // spark.sql.shuffle.partitions=100k can't turn that bounded driver
    // collect into a 100k-row funnel; 4096 ranges is plenty of
    // parallelism for a single-column run count at any corpus size
    val nPart = math.min(math.max(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1), 4096)
    val parts = Tables.table(s, dir, "orders")
      .select(col("o_orderkey") +: AdvisorCols.map(col): _*)
      .repartitionByRange(nPart, col("o_orderkey"))
      .withColumn("__pid", spark_partition_id())
      .transform(Barrier.materialize) // carries AND the local-lag pass share one assignment
    val w = Window.partitionBy(col("__pid")).orderBy(col("o_orderkey"))
    val lagged = AdvisorCols.foldLeft(parts) { (df, c) =>
      df.withColumn(s"chg_$c",
        when(lag(col(c), 1).over(w).isNotNull &&
          lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L))
    }
    val carries = lagged.groupBy(col("__pid"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        AdvisorCols.flatMap(c => Seq(
          sum(col(s"chg_$c")).cast("long").as(s"lchg_$c"),
          min_by(col(c), col("o_orderkey")).as(s"first_$c"),
          max_by(col(c), col("o_orderkey")).as(s"last_$c"))): _*)
      .collect().sortBy(_.getAs[Int]("__pid"))
      .filter(_.getAs[Long]("cnt") > 0)
    // close the P−1 partition seams on the driver (P carry rows —
    // the withGlobalRank offset-map class, constant at any scale)
    val runsByCol = AdvisorCols.map { c =>
      val localChanges = carries.map(_.getAs[Long](s"lchg_$c")).sum
      val seams = carries.sliding(2).count {
        case Array(p, q) =>
          p.getAs[String](s"last_$c") != q.getAs[String](s"first_$c")
        case _ => false
      }
      c -> (localChanges + seams + 1)
    }.toMap
    val ndv = Tables.table(s, dir, "orders")
      .agg(count(lit(1)).cast("long").as("rows"),
        AdvisorCols.map(c => countDistinct(col(c)).cast("long").as(s"ndv_$c")): _*)
    ndv.select(explode(array(AdvisorCols.map(c =>
        struct(lit(c).as("column"), col("rows"), col(s"ndv_$c").as("ndv"),
          lit(runsByCol(c)).as("n_runs"))): _*)).as("r"))
      .select(col("r.column"), col("r.rows"), col("r.ndv"), col("r.n_runs"),
        round(d(col("r.rows")) / d(col("r.ndv")), 6).as("dict_ratio"),
        round(d(col("r.rows")) / d(col("r.n_runs")), 6).as("rle_ratio"))
      .orderBy(col("column"))
  }

  // ---------------------------------------------------------------
  // o_storage_tiers — lifecycle tiering audit: order rows binned by
  // age relative to the newest order date (hot < 365 days, warm
  // < 1095, cold otherwise) with row and revenue mass per tier —
  // the numbers a storage-policy decision (compaction cadence,
  // compression level, archival) reads. Scale shape: ONE scan with
  // the broadcast max-date scalar; integer counts and exact DECIMAL
  // revenue; a 3-row result.
  // ---------------------------------------------------------------
  val oStorageTiers: Q = (s, dir) => {
    val maxd = Tables.table(s, dir, "orders").agg(max(col("o_orderdate")).as("mx"))
    val tiered = Tables.table(s, dir, "orders").crossJoin(broadcast(maxd))
      .withColumn("age_days", datediff(col("mx"), col("o_orderdate")))
      .withColumn("tier",
        when(col("age_days") < 365, "hot")
          .when(col("age_days") < 1095, "warm")
          .otherwise(lit("cold")))
    val tot = Tables.table(s, dir, "orders")
      .agg(count(lit(1)).cast("long").as("n_total"))
    tiered.groupBy(col("tier"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .cast("long").as("revenue_cents"),
        min(col("age_days")).cast("long").as("min_age_days"),
        max(col("age_days")).cast("long").as("max_age_days"))
      .crossJoin(broadcast(tot))
      .select(col("tier"), col("n_orders"),
        round(d(col("n_orders")) / d(col("n_total")), 6).as("row_share"),
        (d(col("revenue_cents")) / 100.0).as("revenue"),
        col("min_age_days"), col("max_age_days"))
      .orderBy(col("min_age_days"))
  }

  // ---------------------------------------------------------------
  // o_rowgroup_advisor — per table: EXACT average row width from
  // fixed column sizes + measured string lengths (Σ length exact
  // longs, ONE division), then rows-per-128MiB-row-group and the
  // projected row-group count for the table — the writer-side twin
  // of o_compaction_plan (which fixes file sizes after the fact)
  // and o_encoding_advisor (which picks encodings within the
  // group). In-memory widths, deliberately pre-compression: the
  // advisor sets the UPPER bound a writer flushes at. Scale shape:
  // one map-side sum per table over the string columns only.
  // ---------------------------------------------------------------
  private val RowGroupBytes = 128L * 1024 * 1024

  val oRowgroupAdvisor: Q = (s, dir) => {
    // (table, fixed bytes per row, string columns)
    def leg(name: String, fixed: Long, strCols: Seq[String]): DataFrame = {
      val t = Tables.table(s, dir, name)
      val strLen =
        if (strCols.isEmpty) lit(0L)
        else strCols.map(c => length(col(c)).cast("long")).reduce(_ + _)
      t.agg(count(lit(1)).cast("long").as("n_rows"),
        sum(strLen).cast("long").as("str_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"),
          // integral division (the DuckDB // twin) — widths stay long
          (lit(fixed) + expr("str_bytes div n_rows")).as("avg_row_bytes"))
    }
    val legs = Seq(
      leg("orders", 8L + 8 + 8 + 8, Seq("o_orderstatus", "o_orderpriority")),
      leg("lineitem", 8L * 7, Seq("l_returnflag", "l_linestatus")),
      leg("events", 8L * 4, Seq("event_type", "props")),
      leg("documents", 8L * 2, Seq("text", "lang", "source")))
    legs.reduce(_.unionAll(_))
      .withColumn("rows_per_group",
        least(col("n_rows"), expr(s"${RowGroupBytes}L div avg_row_bytes")))
      .select(col("table_name"), col("n_rows"), col("avg_row_bytes"),
        col("rows_per_group"),
        ceil(d(col("n_rows")) / d(col("rows_per_group"))).cast("long")
          .as("n_row_groups"))
      .orderBy(col("table_name"))
  }

  // ---------------------------------------------------------------
  // o_bloom_advisor — for each join key a runtime filter would
  // guard (customer, part, supplier, orders keys): exact NDV n,
  // then over fpp ∈ {1%, 0.1%}: optimal bits m = ⌈−n·ln p / ln²2⌉,
  // hashes k = max(1, round((m/n)·ln 2)), bytes and bits/key. Pure
  // closed forms over exact counts — the sizing table that decides
  // whether a_bloom_prune's sketch fits the broadcast budget.
  // ---------------------------------------------------------------
  private val BloomFpp = Seq(0.01, 0.001)

  val oBloomAdvisor: Q = (s, dir) => {
    val keys = Seq(
      ("customer", "c_custkey"), ("part", "p_partkey"),
      ("supplier", "s_suppkey"), ("orders", "o_orderkey"))
    val counts = keys.map { case (t, k) =>
      Tables.table(s, dir, t)
        .agg(countDistinct(col(k)).cast("long").as("n"))
        .select(lit(t).as("table_name"), lit(k).as("key_col"), col("n"))
    }.reduce(_ unionAll _)
    val grid = array(BloomFpp.map(lit): _*)
    val ln2 = math.log(2.0)
    counts.select(col("table_name"), col("key_col"), col("n"),
        explode(grid).as("fpp"))
      .withColumn("m_bits",
        ceil(-d(col("n")) * log(col("fpp")) / lit(ln2 * ln2)).cast("long"))
      .withColumn("k_hashes",
        greatest(lit(1L),
          round(d(col("m_bits")) / d(col("n")) * lit(ln2)).cast("long")))
      .select(col("table_name"), col("key_col"), col("n").as("n_keys"),
        col("fpp"), col("m_bits"),
        expr("CAST((m_bits + 7) div 8 AS BIGINT)").as("n_bytes"),
        col("k_hashes"),
        round(d(col("m_bits")) / d(col("n")), 6).as("bits_per_key"))
      .orderBy(col("table_name"), col("fpp"))
  }

  // ---------------------------------------------------------------
  // o_broadcast_advisor — est_row_bytes = fixed-type widths + the
  // exact integral-division mean of each string column; est_bytes =
  // rows × est_row_bytes, compared to the 10 MiB default
  // autoBroadcastJoinThreshold now and at a 100× fact-growth
  // extrapolation (dimensions that stop fitting at 100× are exactly
  // the ones that silently flip a plan from broadcast to shuffle on
  // the cluster). All arithmetic integer-exact. Scale shape: one
  // count + string-length aggregate per dimension table.
  // ---------------------------------------------------------------
  private val BroadcastThreshold = 10L * 1024L * 1024L

  private[operators] val AdvisorTables: Seq[(String, Long, Seq[String])] =
    Seq(
      ("region", 4L, Seq("r_name")),
      ("nation", 8L, Seq("n_name")),
      ("customer", 20L, Seq("c_name", "c_mktsegment")),
      ("supplier", 20L, Seq("s_name")),
      ("part", 20L, Seq("p_name", "p_brand", "p_type")))

  val oBroadcastAdvisor: Q = (s, dir) => {
    AdvisorTables.map { case (t, fixed, strs) =>
      val tab = Tables.table(s, dir, t)
      val aggs = count(lit(1)).cast("long").as("n_rows") +:
        strs.map(c => sum(length(col(c)).cast("long")).cast("decimal(38,0)")
          .as(s"sl_$c"))
      val base = tab.agg(aggs.head, aggs.tail: _*)
      val widthExpr = strs.map(c =>
        s"CAST(sl_$c div n_rows AS BIGINT)").mkString(" + ")
      base.select(lit(t).as("table_name"), col("n_rows"),
        (lit(fixed) + expr(widthExpr)).cast("long").as("est_row_bytes"))
    }.reduce(_ unionAll _)
      .withColumn("est_bytes", (col("n_rows") * col("est_row_bytes"))
        .cast("long"))
      .select(col("table_name"), col("n_rows"), col("est_row_bytes"),
        col("est_bytes"),
        when(col("est_bytes") <= BroadcastThreshold, "broadcast")
          .otherwise(lit("shuffle")).as("advice"),
        when(col("est_bytes") * 100L <= BroadcastThreshold, "broadcast")
          .otherwise(lit("shuffle")).as("advice_100x"))
      .orderBy(col("table_name"))
  }

  val queries: Map[String, Q] = Map(
    "o_date_spine" -> oDateSpine,
    "o_training_order" -> oTrainingOrder,
    "o_token_budget" -> oTokenBudget,
    "o_zorder_layout" -> oZorderLayout,
    "o_compaction_plan" -> oCompactionPlan,
    "o_partition_skew" -> oPartitionSkew,
    "o_histogram_equiheight" -> oHistogramEquiheight,
    "o_quota_allocation" -> oQuotaAllocation,
    "o_consistent_hash" -> oConsistentHash,
    "o_zonemap_prune" -> oZonemapPrune,
    "o_join_cardinality_est" -> oJoinCardinalityEst,
    "o_systematic_sample" -> oSystematicSample,
    "o_hash_uniformity" -> oHashUniformity,
    "o_pareto_frontier" -> oParetoFrontier,
    "o_encoding_advisor" -> oEncodingAdvisor,
    "o_storage_tiers" -> oStorageTiers,
    "o_rowgroup_advisor" -> oRowgroupAdvisor,
    "o_bloom_advisor" -> oBloomAdvisor,
    "o_broadcast_advisor" -> oBroadcastAdvisor)

  val oracles: Map[String, String] = Map(
    "o_date_spine" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT CAST(unnest(generate_series((SELECT min(day) FROM daily),
        |                                     (SELECT max(day) FROM daily),
        |                                     INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT CAST(month(s.day) AS BIGINT) AS mo, count(*) AS n_days,
        |       count(CASE WHEN d.rev IS NULL THEN 1 END) AS n_missing,
        |       count(d.rev) AS n_present
        |FROM spine s LEFT JOIN daily d USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // training order: replay the epoch expansion, md5 shard routing,
    // and the in-shard order itself (ordered string_agg fingerprint)
    "o_training_order" ->
      """WITH e AS (
        |  SELECT doc_id,
        |         unnest(range(0, 1 + (CAST(substr(source, 4) AS INT) % 4))) AS epoch
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, epoch,
        |         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS key
        |  FROM e)
        |SELECT CAST(strpos('0123456789abcdef', substr(key, 1, 1)) - 1 AS INT) AS shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(epoch) AS BIGINT) AS epoch_sum,
        |       md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR), '|'
        |           ORDER BY key, doc_id, epoch)) AS order_fingerprint
        |FROM k GROUP BY 1 ORDER BY shard""".stripMargin,
    "o_token_budget" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
        |         md5(CAST(doc_id AS VARCHAR)) AS key,
        |         CAST(floor(CAST(20000 AS DOUBLE) *
        |           CASE lang WHEN 'en' THEN CAST(0.40 AS DOUBLE)
        |                     WHEN 'de' THEN CAST(0.20 AS DOUBLE)
        |                     WHEN 'es' THEN CAST(0.15 AS DOUBLE)
        |                     WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
        |                     ELSE CAST(0.10 AS DOUBLE) END) AS BIGINT) AS alloc
        |  FROM documents),
        |cum AS (
        |  SELECT lang, n_tok, alloc,
        |         SUM(n_tok) OVER (PARTITION BY lang ORDER BY key, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= alloc AS selected
        |  FROM keyed)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS available_tokens,
        |       max(alloc) AS allocated_tokens,
        |       CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        |       CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT) AS selected_tokens,
        |       CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS DOUBLE)
        |         / CAST(max(alloc) AS DOUBLE) AS fill_rate
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    "o_zorder_layout" ->
      s"""WITH xy AS (
         |  SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
         |         CAST(l_suppkey % 256 AS BIGINT) AS y
         |  FROM lineitem),
         |zed AS (SELECT x, y, (${mortonSql("x", "y")}) >> 8 AS bucket FROM xy)
         |SELECT bucket, count(*) AS n,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y,
         |       (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS cell_span
         |FROM zed GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the greedy FFD rule steps group by group as a RECURSIVE CTE
    // (the w_holt_winters replay technique — list_reduce's
    // multi-field accumulator mutation is avoided)
    "o_compaction_plan" ->
      """WITH RECURSIVE g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |cp AS (SELECT 2 * max(n) AS cap FROM g),
        |r AS (
        |  SELECT lang, source, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, lang, source)
        |           AS INTEGER) AS rk
        |  FROM g),
        |ffd(rk, lang, source, n, bin, loads) AS (
        |  SELECT rk, lang, source, n, 1, [n] FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT rk, lang, source, n, bin,
        |         -- DuckDB list_position returns 0 (not NULL) when absent,
        |         -- matching Spark's array_position
        |         CASE WHEN pos = 0 THEN list_append(loads0, n)
        |              ELSE list_transform(range(1, len(loads0) + 1),
        |                     j -> CASE WHEN j = bin THEN loads0[j] + n
        |                          ELSE loads0[j] END)
        |         END AS loads
        |  FROM (SELECT rk, lang, source, n, loads0, bin, pos FROM (
        |          SELECT r2.rk AS rk, r2.lang AS lang, r2.source AS source,
        |                 r2.n AS n, f.loads AS loads0,
        |                 CAST(CASE WHEN list_position(list_transform(f.loads,
        |                        l -> l + r2.n <= cp.cap), true) = 0
        |                      THEN len(f.loads) + 1
        |                      ELSE list_position(list_transform(f.loads,
        |                        l -> l + r2.n <= cp.cap), true)
        |                      END AS INTEGER) AS bin,
        |                 list_position(list_transform(f.loads,
        |                   l -> l + r2.n <= cp.cap), true) AS pos
        |          FROM ffd f JOIN r r2 ON r2.rk = f.rk + 1 CROSS JOIN cp)))
        |SELECT ffd.lang, ffd.source, ffd.n AS n_docs, ffd.bin,
        |       CAST(cp.cap AS BIGINT) AS cap
        |FROM ffd CROSS JOIN cp
        |ORDER BY ffd.lang, ffd.source""".stripMargin,
    "o_partition_skew" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
        |tl AS (SELECT lang, sum(c) AS t FROM cells GROUP BY 1),
        |by_lang AS (
        |  SELECT c.lang, CAST(count(*) AS BIGINT) AS n_cells,
        |         CAST(sum(c.c) AS BIGINT) AS n_docs,
        |         CAST(max(c.c) AS BIGINT) AS max_cell,
        |         list_sum(list(-(CAST(c.c AS DOUBLE) / CAST(tl.t AS DOUBLE))
        |           * ln(CAST(c.c AS DOUBLE) / CAST(tl.t AS DOUBLE))
        |           ORDER BY c.source)) AS entropy
        |  FROM cells c JOIN tl ON c.lang = tl.lang GROUP BY 1)
        |SELECT lang, n_cells, n_docs, max_cell,
        |       round(CAST(max_cell AS DOUBLE) * CAST(n_cells AS DOUBLE)
        |         / CAST(n_docs AS DOUBLE), 6) AS skew_factor,
        |       round(entropy, 6) AS entropy,
        |       round(entropy / ln(CAST(n_cells AS DOUBLE)), 6) AS balance
        |FROM by_lang ORDER BY lang""".stripMargin,
    "o_histogram_equiheight" ->
      """WITH r AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |         row_number() OVER (ORDER BY
        |           CAST(l_extendedprice AS DECIMAL(18,2)), l_orderkey,
        |           l_linenumber) AS rk
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r)
        |SELECT CAST((rk - 1) * 10 // n.n + 1 AS INTEGER) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT v) AS BIGINT) AS ndv,
        |       CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
        |FROM r CROSS JOIN n
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "o_quota_allocation" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |base AS (
        |  SELECT lang, source, c,
        |         CAST((c * 1000) // n.n AS BIGINT) AS fl,
        |         CAST((c * 1000) % n.n AS BIGINT) AS rem,
        |         n.n AS n
        |  FROM cells CROSS JOIN n),
        |lo AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS leftover FROM base),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
        |  FROM base)
        |SELECT lang, source, c AS n_docs,
        |       round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS exact_share,
        |       fl AS floor_alloc,
        |       CAST(fl + (CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END)
        |         AS BIGINT) AS allocated
        |FROM rk CROSS JOIN lo
        |ORDER BY lang, source""".stripMargin,
    "o_consistent_hash" ->
      s"""WITH ring8 AS (
        |  SELECT list(struct_pack(
        |           ph := ${hex15("'shard-' || CAST(s AS VARCHAR) || '#' || CAST(v AS VARCHAR)")},
        |           shard := CAST(s AS BIGINT))) AS ring
        |  FROM (SELECT unnest(range(0, 8)) AS s) CROSS JOIN
        |       (SELECT unnest(range(0, 4)) AS v)),
        |ring9 AS (
        |  SELECT list(struct_pack(
        |           ph := ${hex15("'shard-' || CAST(s AS VARCHAR) || '#' || CAST(v AS VARCHAR)")},
        |           shard := CAST(s AS BIGINT))) AS ring
        |  FROM (SELECT unnest(range(0, 9)) AS s) CROSS JOIN
        |       (SELECT unnest(range(0, 4)) AS v)),
        |a AS (
        |  SELECT doc_id,
        |         coalesce(list_sort(list_filter(ring8.ring,
        |             r -> r.ph >= kh))[1].shard,
        |           list_sort(ring8.ring)[1].shard) AS old_shard,
        |         coalesce(list_sort(list_filter(ring9.ring,
        |             r -> r.ph >= kh))[1].shard,
        |           list_sort(ring9.ring)[1].shard) AS new_shard
        |  FROM (SELECT doc_id,
        |               ${hex15("CAST(doc_id AS VARCHAR)")} AS kh
        |        FROM documents)
        |  CROSS JOIN ring8 CROSS JOIN ring9)
        |SELECT old_shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_moved,
        |       round(CAST(sum(CASE WHEN new_shard <> old_shard
        |                     THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE), 6) AS move_rate,
        |       max(CASE WHEN new_shard <> old_shard THEN new_shard END)
        |         AS moved_to
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "o_zonemap_prune" ->
      """WITH rows_ AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
        |a AS (
        |  SELECT CAST(((row_number() OVER (ORDER BY l_orderkey,
        |           l_linenumber) - 1) * 64) // n.n AS INT) AS grp, price
        |  FROM rows_ CROSS JOIN n),
        |ag AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |         min(price) AS mn, max(price) AS mx
        |  FROM a GROUP BY 1),
        |astats AS (
        |  SELECT 'arrival' AS layout, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(CASE WHEN mx < 40000.00 OR mn > 50000.00
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |         CAST(sum(CASE WHEN mx < 40000.00 OR mn > 50000.00
        |           THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
        |  FROM ag),
        |s_ AS (
        |  SELECT CAST(((row_number() OVER (ORDER BY price, l_orderkey,
        |           l_linenumber) - 1) * 64) // n.n AS INT) AS grp, price
        |  FROM rows_ CROSS JOIN n),
        |sg AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |         min(price) AS mn, max(price) AS mx
        |  FROM s_ GROUP BY 1),
        |sstats AS (
        |  SELECT 'price_sorted' AS layout, CAST(count(*) AS BIGINT)
        |           AS n_groups,
        |         CAST(sum(CASE WHEN mx < 40000.00 OR mn > 50000.00
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |         CAST(sum(CASE WHEN mx < 40000.00 OR mn > 50000.00
        |           THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
        |  FROM sg)
        |SELECT layout, n_groups, n_skipped,
        |       round(CAST(n_skipped AS DOUBLE) / CAST(n_groups AS DOUBLE), 6)
        |         AS skip_rate,
        |       rows_scanned
        |FROM (SELECT * FROM astats UNION ALL SELECT * FROM sstats)
        |ORDER BY layout""".stripMargin,
    "o_join_cardinality_est" ->
      """WITH e1 AS (
        |  SELECT 'lineitem_orders' AS edge,
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_left,
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_right,
        |         (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |            FROM lineitem) AS ndv_left,
        |         (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |            FROM orders) AS ndv_right,
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |           AS actual_rows),
        |e2 AS (
        |  SELECT 'lineitem_part',
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |         (SELECT CAST(count(*) AS BIGINT) FROM part),
        |         (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
        |            FROM lineitem),
        |         (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part),
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |            JOIN part p ON l.l_partkey = p.p_partkey)),
        |e3 AS (
        |  SELECT 'lineitem_supplier',
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |         (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |         (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT)
        |            FROM lineitem),
        |         (SELECT CAST(count(DISTINCT s_suppkey) AS BIGINT)
        |            FROM supplier),
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |            JOIN supplier s ON l.l_suppkey = s.s_suppkey)),
        |e4 AS (
        |  SELECT 'orders_customer',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |         (SELECT CAST(count(*) AS BIGINT) FROM customer),
        |         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |            FROM orders),
        |         (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |            FROM customer),
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |            JOIN customer c ON o.o_custkey = c.c_custkey)),
        |u AS (
        |  SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
        |SELECT edge, n_left, n_right, ndv_left, ndv_right,
        |       round(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
        |         / CAST(greatest(ndv_left, ndv_right) AS DOUBLE), 6)
        |         AS est_rows,
        |       actual_rows,
        |       round(greatest(
        |         CAST(actual_rows AS DOUBLE)
        |           / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
        |              / CAST(greatest(ndv_left, ndv_right) AS DOUBLE)),
        |         (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
        |           / CAST(greatest(ndv_left, ndv_right) AS DOUBLE))
        |           / CAST(actual_rows AS DOUBLE)), 6) AS q_error
        |FROM u ORDER BY edge""".stripMargin,
    "o_systematic_sample" ->
      """WITH pop AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         md5(CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM orders),
        |n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pop),
        |k_ AS (SELECT greatest(1, n // 256) AS k, n FROM n_),
        |ranked AS (
        |  SELECT o_orderpriority,
        |         CAST(row_number() OVER (ORDER BY h, o_orderkey) AS BIGINT)
        |           AS rk
        |  FROM pop),
        |sam AS (
        |  SELECT r.o_orderpriority
        |  FROM ranked r CROSS JOIN k_
        |  WHERE (r.rk - 1) % k_.k = 0),
        |pa AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_pop
        |  FROM ranked GROUP BY 1),
        |sa AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_sample
        |  FROM sam GROUP BY 1)
        |SELECT pa.o_orderpriority, pa.n_pop,
        |       coalesce(sa.n_sample, 0) AS n_sample,
        |       CAST((pa.n_pop * 1000000) // k_.n AS BIGINT) / 1000000.0
        |         AS pop_share,
        |       CAST((coalesce(sa.n_sample, 0) * 1000000)
        |         // greatest(1, (k_.n + k_.k - 1) // k_.k) AS BIGINT)
        |         / 1000000.0 AS sample_share,
        |       k_.k AS step_k
        |FROM pa LEFT JOIN sa USING (o_orderpriority) CROSS JOIN k_
        |ORDER BY pa.o_orderpriority""".stripMargin,
    "o_hash_uniformity" -> {
      s"""WITH buckets AS (
        |  SELECT CAST(${hex15("CAST(doc_id AS VARCHAR)")} % 64 AS BIGINT)
        |           AS bucket,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS n_buckets,
        |         min(o) AS min_bucket, max(o) AS max_bucket,
        |         list({'bucket': bucket, 'o': o} ORDER BY bucket) AS bs
        |  FROM buckets)
        |SELECT n, n_buckets, min_bucket, max_bucket,
        |       round(CAST(list_sum(list_transform(bs,
        |           x -> CAST((64 * x.o - n) AS HUGEINT)
        |             * CAST((64 * x.o - n) AS HUGEINT))) AS DOUBLE)
        |         / (CAST(64 AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS chi2,
        |       92.01 AS crit_99,
        |       round(CAST(list_sum(list_transform(bs,
        |           x -> CAST((64 * x.o - n) AS HUGEINT)
        |             * CAST((64 * x.o - n) AS HUGEINT))) AS DOUBLE)
        |         / (CAST(64 AS DOUBLE) * CAST(n AS DOUBLE)), 6) <= 92.01
        |         AS uniform
        |FROM tot""".stripMargin
    },
    "o_pareto_frontier" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |         p_size
        |  FROM part),
        |perx AS (
        |  SELECT price_c, max(p_size) AS best_size FROM p GROUP BY 1),
        |fr AS (
        |  SELECT price_c, best_size FROM (
        |    SELECT price_c, best_size,
        |           max(best_size) OVER (ORDER BY price_c
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             AS prevmax
        |    FROM perx) t
        |  WHERE prevmax IS NULL OR best_size > prevmax)
        |SELECT CAST(f.price_c * 10000 AS BIGINT) / 1000000.0 AS price,
        |       f.best_size,
        |       CAST(count(*) AS BIGINT) AS n_tied,
        |       CAST(min(p.p_partkey) AS BIGINT) AS sample_partkey
        |FROM fr f
        |JOIN p ON p.price_c = f.price_c AND p.p_size = f.best_size
        |GROUP BY f.price_c, f.best_size
        |ORDER BY f.price_c""".stripMargin,
    "o_encoding_advisor" -> {
      val cols = AdvisorCols.map { c =>
        s"""SELECT '$c' AS "column",
           |       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS "rows",
           |       (SELECT CAST(count(DISTINCT $c) AS BIGINT) FROM orders)
           |         AS ndv,
           |       (SELECT CAST(1 + sum(CASE WHEN prev IS NOT NULL
           |             AND prev <> $c THEN 1 ELSE 0 END) AS BIGINT)
           |        FROM (SELECT $c,
           |                     lag($c, 1) OVER (ORDER BY o_orderkey) AS prev
           |              FROM orders)) AS n_runs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH per AS (
         |$cols)
         |SELECT "column", "rows", ndv, n_runs,
         |       round("rows"::DOUBLE / ndv::DOUBLE, 6) AS dict_ratio,
         |       round("rows"::DOUBLE / n_runs::DOUBLE, 6) AS rle_ratio
         |FROM per ORDER BY "column"""".stripMargin
    },
    "o_storage_tiers" ->
      """WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
        |tiered AS (
        |  SELECT datediff('day', o_orderdate, mx) AS age_days,
        |         CASE WHEN datediff('day', o_orderdate, mx) < 365 THEN 'hot'
        |              WHEN datediff('day', o_orderdate, mx) < 1095 THEN 'warm'
        |              ELSE 'cold' END AS tier,
        |         o_totalprice
        |  FROM orders CROSS JOIN maxd),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(CAST(count(*) AS BIGINT)::DOUBLE / n_total::DOUBLE, 6)
        |         AS row_share,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT)::DOUBLE / 100.0 AS revenue,
        |       CAST(min(age_days) AS BIGINT) AS min_age_days,
        |       CAST(max(age_days) AS BIGINT) AS max_age_days
        |FROM tiered CROSS JOIN tot
        |GROUP BY tier, n_total ORDER BY min_age_days""".stripMargin,
    "o_rowgroup_advisor" -> {
      def legSql(name: String, fixed: Long, strCols: Seq[String]): String = {
        val strLen =
          if (strCols.isEmpty) "0"
          else strCols.map(c => s"CAST(length($c) AS BIGINT)").mkString(" + ")
        s"""SELECT '$name' AS table_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       $fixed + CAST(sum($strLen) AS BIGINT) // count(*)
           |         AS avg_row_bytes
           |FROM $name""".stripMargin
      }
      val legs = Seq(
        legSql("orders", 8L + 8 + 8 + 8,
          Seq("o_orderstatus", "o_orderpriority")),
        legSql("lineitem", 8L * 7, Seq("l_returnflag", "l_linestatus")),
        legSql("events", 8L * 4, Seq("event_type", "props")),
        legSql("documents", 8L * 2, Seq("text", "lang", "source")))
      s"""WITH base AS (
         |${legs.mkString("\nUNION ALL\n")}),
         |adv AS (
         |  SELECT table_name, n_rows, avg_row_bytes,
         |         least(n_rows, ${RowGroupBytes} // avg_row_bytes)
         |           AS rows_per_group
         |  FROM base)
         |SELECT table_name, n_rows, avg_row_bytes, rows_per_group,
         |       CAST(ceil(CAST(n_rows AS DOUBLE)
         |         / CAST(rows_per_group AS DOUBLE)) AS BIGINT)
         |         AS n_row_groups
         |FROM adv ORDER BY table_name""".stripMargin
    },
    "o_bloom_advisor" -> {
      val grid = BloomFpp.mkString(", ")
      s"""WITH counts AS (
         |  SELECT 'customer' AS table_name, 'c_custkey' AS key_col,
         |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS n
         |  FROM customer
         |  UNION ALL
         |  SELECT 'part', 'p_partkey',
         |         CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part
         |  UNION ALL
         |  SELECT 'supplier', 's_suppkey',
         |         CAST(count(DISTINCT s_suppkey) AS BIGINT) FROM supplier
         |  UNION ALL
         |  SELECT 'orders', 'o_orderkey',
         |         CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders),
         |g AS (SELECT unnest([$grid]) AS fpp),
         |sized AS (
         |  SELECT table_name, key_col, n, fpp,
         |         CAST(ceil(-CAST(n AS DOUBLE) * ln(fpp)
         |           / (ln(2.0) * ln(2.0))) AS BIGINT) AS m_bits
         |  FROM counts CROSS JOIN g)
         |SELECT table_name, key_col, n AS n_keys,
         |       CAST(fpp AS DOUBLE) AS fpp, m_bits,
         |       CAST((m_bits + 7) // 8 AS BIGINT) AS n_bytes,
         |       greatest(1, CAST(round(CAST(m_bits AS DOUBLE)
         |         / CAST(n AS DOUBLE) * ln(2.0)) AS BIGINT)) AS k_hashes,
         |       round(CAST(m_bits AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |         AS bits_per_key
         |FROM sized ORDER BY table_name, fpp""".stripMargin
    },
    "o_broadcast_advisor" -> {
      val per = AdvisorTables.map { case (t, fixed, strs) =>
        val widths = strs.map(c =>
          s"CAST(CAST(sum(length($c)) AS HUGEINT) // count(*) AS BIGINT)")
          .mkString(" + ")
        s"""SELECT '$t' AS table_name,
           |       CAST(count(*) AS BIGINT) AS rows_,
           |       CAST($fixed + $widths AS BIGINT) AS est_row_bytes
           |FROM $t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |$per)
         |SELECT table_name, rows_ AS n_rows, est_row_bytes,
         |       CAST(rows_ * est_row_bytes AS BIGINT) AS est_bytes,
         |       CASE WHEN rows_ * est_row_bytes <= 10485760
         |            THEN 'broadcast' ELSE 'shuffle' END AS advice,
         |       CASE WHEN rows_ * est_row_bytes * 100 <= 10485760
         |            THEN 'broadcast' ELSE 'shuffle' END AS advice_100x
         |FROM base ORDER BY table_name""".stripMargin
    })
}
