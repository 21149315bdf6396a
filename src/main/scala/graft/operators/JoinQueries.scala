package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Join shapes: semi, anti and outer joins, broadcast, as-of and
  * range joins, interval overlap, null-safe joins, table diff and
  * spatial k-NN.
  */
object JoinQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("j_")

  // Left-semi: customers with ≥1 finished order, per segment
  val jSemiActiveCustomers: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val fOrders = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    c.join(fOrders, c("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  }

  // Left-anti: customers with no orders at all, per nation
  val jAntiNoOrders: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey"))
    c.join(o, c("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))
  }

  // Left-outer join preserving empty nations
  val jOuterNationCustomerCounts: Q = (s, dir) => {
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left_outer")
      .groupBy(col("n_name")).agg(count(col("c_custkey")).as("n_customers"))
      .orderBy(col("n_name"))
  }

  // Broadcast-hash dim join: fact never shuffles
  val jBroadcastBrandVolume: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))

  // Dim-dim join over the remaining table: supplier balances by nation
  val jSupplierNation: Q = (s, dir) =>
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(dec(col("s_acctbal"))).cast("double").as("total_acctbal"),
        max(col("s_acctbal")).as("max_acctbal"))
      .orderBy(col("n_name"))

  // FULL OUTER join of two deliberately-sparse per-nation aggregates
  // (nations can appear on either side alone), coalesced to a dense
  // result — completes the outer-join family next to the left-outer
  // and anti variants.
  val jFullOuterSegments: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val hi = c.filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_high"))
    val lo = c.filter(col("c_acctbal") < -900)
      .groupBy(col("c_nationkey").as("nk2")).agg(count(lit(1)).as("n_low"))
    hi.join(lo, col("nk") === col("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        coalesce(col("n_high"), lit(0L)).as("n_high"),
        coalesce(col("n_low"), lit(0L)).as("n_low"))
      .orderBy(col("nationkey"))
  }

  // As-of join: each purchase event paired with the user's latest
  // prior (inclusive) 'view' event — checked against DuckDB's native
  // ASOF JOIN. View side deduped per (user, ts) for determinism.
  val jAsofPurchaseView: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    AsOf.asOfJoin(purchases, views, "user_id", "ts", Seq("view_id"))
      .select(col("purchase_id"), col("user_id"),
        col("asof.view_id").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof.__rts"))).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  // Bounded-staleness as-of (ASOF ... TOLERANCE): same purchase→view
  // attribution, but a view older than 24 h does not count — the
  // feature-store freshness contract. The bound is a post-carry
  // scalar predicate (AsOf.asOfJoinTolerance), so the plan is
  // identical to jAsofPurchaseView's one-shuffle carry; the oracle
  // is DuckDB's native ASOF with the staleness CASE applied on top.
  // On this corpus the 24 h bound expires roughly half the matches —
  // both branches exercised.
  val jAsofTolerance: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    AsOf.asOfJoinTolerance(purchases, views, "user_id", "ts", Seq("view_id"),
        toleranceSec = 86400L)
      .select(col("purchase_id"), col("user_id"),
        col("asof.view_id").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof.__rts"))).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  // Forward as-of: each (deduped) view event paired with the user's
  // EARLIEST following (inclusive) purchase — next-purchase
  // attribution, the mirror of jAsofPurchaseView. Purchase side
  // deduped per (user, ts) for determinism.
  val jAsofNextPurchase: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("purchase_id"))
    AsOf.asOfJoinForward(views, purchases, "user_id", "ts", Seq("purchase_id"))
      .select(col("view_id"), col("user_id"),
        col("asof.purchase_id").as("purchase_id"),
        (unix_micros(col("asof.__rts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy(col("view_id"))
  }

  // Range (interval) join: events within 1h after each purchase by
  // the same user. Equality on user_id keys the shuffle; the range
  // predicate filters within the sorted partition.
  val jRangeFollowOn: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
    val e = ev.select(col("user_id"), col("event_id").as("follow_id"),
      unix_micros(col("ts")).as("eus"))
    p.join(e, p("user_id") === e("user_id") &&
        col("eus") > col("pus") && col("eus") - col("pus") <= 3600000000L)
      .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_follow_on"))
      .orderBy(col("purchase_id"))
  }

  // UNION BY NAME with missing-column fill — schema-evolution union
  // across differently-shaped inputs (position-based union would
  // misalign or reject)
  val jUnionByName: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
      .withColumn("src", lit("cust"))
    val supp = t(s, dir, "supplier")
      .select(col("s_acctbal").as("bal"), col("s_suppkey").as("k"))
      .withColumn("src", lit("supp"))
    cust.unionByName(supp, allowMissingColumns = true)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"),
        count(when(col("seg").isNull, 1)).as("n_null_seg"),
        sum(dec(col("bal"))).cast("double").as("total_bal"))
      .orderBy(col("src"))
  }

  // ---------------------------------------------------------------
  // j_nullsafe — null-safe equality join (<=> / IS NOT DISTINCT
  // FROM): the NULL-keyed group on each side must pair up instead of
  // disappearing, the semantics MERGE/dedup pipelines rely on when
  // join keys are genuinely nullable. Still a plain hash join (NULL
  // hashes like any key under null-safe equality) — no plan penalty.
  // ---------------------------------------------------------------
  val jNullsafe: Q = (s, dir) => {
    val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
    val cust = t(s, dir, "customer")
      .groupBy(seg.as("seg")).agg(count(lit(1)).as("n_customers"))
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(seg.as("seg"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    cust.as("a").join(rev.as("b"), col("a.seg") <=> col("b.seg"), "left")
      .select(col("a.seg").as("seg"), col("n_customers"), col("revenue"))
      .orderBy(asc_nulls_first("seg"))
  }

  // ---------------------------------------------------------------
  // j_interval_overlap — interval-overlap join, DAY-BUCKETED (the
  // standard scale technique for genomic/telemetry range joins):
  // per-(user, day) activity intervals [first event, last event],
  // overlap theta only ever inside one day bucket — pair work is
  // Σ per-day active-user², never corpus². On this dense synthetic
  // corpus every user pair overlaps daily, so the CONTRACT is the
  // per-day aggregate (pair count, longest overlap, its argmax pair
  // via min(struct) with the (u1,u2) tiebreak), keeping the output
  // bounded by day count while the join itself is the full bucketed
  // interval meet. Overlap is exact integer microseconds.
  // ---------------------------------------------------------------
  val jIntervalOverlap: Q = (s, dir) => {
    val iv = Tables.table(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val a = iv.alias("a"); val b = iv.alias("b")
    a.join(b, col("a.day") === col("b.day") &&
        col("a.user_id") < col("b.user_id") &&
        col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.day").as("day"),
        col("a.user_id").as("u1"), col("b.user_id").as("u2"),
        (expr("unix_micros(least(a.e, b.e))") -
          expr("unix_micros(greatest(a.s, b.s))")).as("overlap_us"))
      .filter(col("overlap_us") >= 600L * 1000000L)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct((-col("overlap_us")).as("neg"), col("u1").as("u1"),
          col("u2").as("u2"))).as("top"))
      .select(col("day"), col("n_pairs"),
        (-col("top.neg")).cast("long").as("max_overlap_us"),
        col("top.u1").cast("long").as("top_u1"),
        col("top.u2").cast("long").as("top_u2"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // j_table_diff — snapshot reconciliation (the data-diff staple for
  // pipeline regression testing): key-level diff of two table
  // versions into added / removed / changed / unchanged counts plus
  // per-column change counts. The "next" snapshot is a deterministic
  // simulated drift of orders (every 89th key deleted, every 97th
  // price bumped by an exact DECIMAL 1.00, every 83rd status
  // flipped, every 101st re-inserted under a shifted key), so the
  // diff exercises all four statuses and both compared columns.
  // Scale shape: ONE full-outer join hashed on the key; every
  // column comparison is a map-side expression above it — at 100 TB
  // this is the cheapest possible reconciliation (no sort, no
  // per-column joins). Money compares as exact DECIMAL(18,2).
  // ---------------------------------------------------------------
  val jTableDiff: Q = (s, dir) => {
    val base = Tables.table(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        expr("CAST(o_totalprice AS DECIMAL(18,2))").as("price"),
        col("o_orderstatus").as("status"))
    val next = base
      .filter(col("k") % 89 =!= 0)
      .withColumn("price",
        when(col("k") % 97 === 0, col("price") + expr("CAST(1.00 AS DECIMAL(18,2))"))
          .otherwise(col("price")))
      .withColumn("status",
        when(col("k") % 83 === 0, lit("X")).otherwise(col("status")))
      .unionByName(base.filter(col("k") % 101 === 0)
        .select((col("k") + lit(100000000L)).as("k"), col("price"), col("status")))
    val a = base.select(col("k"), col("price").as("p0"), col("status").as("s0"))
    val b = next.select(col("k"), col("price").as("p1"), col("status").as("s1"))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("st",
        when(col("p0").isNull, "added")
          .when(col("p1").isNull, "removed")
          .when(col("p0") =!= col("p1") || col("s0") =!= col("s1"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("st").as("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p0").isNotNull && col("p1").isNotNull &&
          col("p0") =!= col("p1"), 1L).otherwise(0L)).cast("long")
          .as("n_price_changed"),
        sum(when(col("s0").isNotNull && col("s1").isNotNull &&
          col("s0") =!= col("s1"), 1L).otherwise(0L)).cast("long")
          .as("n_status_changed"))
      .orderBy(col("status"))
  }

  // ---------------------------------------------------------------
  // j_spatial_knn — grid-bucketed spatial k-NN: points get
  // deterministic [0,1)² coordinates (two disjoint 52-bit md5
  // windows of the event id — exact dyadic rationals), a 16×16 grid
  // cell key, and each of 16 scattered lattice query points probes
  // only its 3×3 cell neighborhood — the standard cell-pruned
  // spatial join that replaces the corpus×queries distance scan
  // with candidates ∝ occupancy of 9 cells. Top-3 per query by
  // (distance, point_id); distance via IEEE sqrt (correctly rounded,
  // engine-identical). Scale shape: the query→cell fan-out (16×9
  // rows) BROADCASTS onto the points scan as an equi-join on the
  // cell key — the corpus never shuffles; the per-query top-3 is a
  // WindowGroupLimit over the pruned candidates (~9/256 of points
  // per query). The ring guarantee is the grid-join contract:
  // any point within one cell width (1/16) of a query is caught.
  // ---------------------------------------------------------------
  val jSpatialKnn: Q = (s, dir) => {
    val G = 16
    val denom = 4503599627370496.0 // 2^52
    val hex = md5(col("event_id").cast("string"))
    val points = Tables.table(s, dir, "events")
      .select(col("event_id").as("point_id"),
        (d(conv(substring(hex, 1, 13), 16, 10).cast("long")) / denom).as("x"),
        (d(conv(substring(hex, 14, 13), 16, 10).cast("long")) / denom)
          .as("y"))
      .withColumn("cx", floor(col("x") * G).cast("int"))
      .withColumn("cy", floor(col("y") * G).cast("int"))
    val queries = s.range(16)
      .select(col("id").cast("int").as("q_id"),
        ((d(col("id") * 7 % G) + 0.5) / G).as("qx"),
        ((d(col("id") * 11 % G) + 0.5) / G).as("qy"))
    val qCells = queries
      .withColumn("dxy", explode(expr(
        "flatten(transform(sequence(-1, 1)," +
          " dx -> transform(sequence(-1, 1), dy -> struct(dx, dy))))")))
      .select(col("q_id"), col("qx"), col("qy"),
        (floor(col("qx") * G).cast("int") + col("dxy.dx")).as("cx"),
        (floor(col("qy") * G).cast("int") + col("dxy.dy")).as("cy"))
    val cand = points.join(broadcast(qCells), Seq("cx", "cy"))
      .withColumn("dist2",
        (col("x") - col("qx")) * (col("x") - col("qx")) +
          (col("y") - col("qy")) * (col("y") - col("qy")))
    cand
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("dist2"), col("point_id"))))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("rk").as("rank"), col("point_id"),
        round(sqrt(col("dist2")), 6).as("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---------------------------------------------------------------
  // j_asof_hit_rate — for each view event, the time since the same
  // user's most recent PRIOR purchase (one backward carry — the
  // AsOf union+carry shape, one shuffle), then the hit rate at
  // tolerance 60 s / 1 h / 1 d: the fraction of lookups a feature
  // with that freshness SLA would serve non-null. ONE carry pass
  // prices the whole grid (each tolerance is a predicate over the
  // same gap), vs one join per SLA. Scale shape: one per-user
  // ordered window, then a 3-row constant fan-out aggregate.
  // ---------------------------------------------------------------
  private val HitTolerances = Seq(60L, 3600L, 86400L)

  val jAsofHitRate: Q = (s, dir) => {
    val ev = Tables.table(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .filter(col("event_type").isin("view", "purchase"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gaps = ev
      .withColumn("last_purchase",
        last(when(col("event_type") === "purchase", col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "view")
      .select(((col("us") - col("last_purchase")) / 1000000L).as("gap_s"))
    gaps
      .select(explode(array(HitTolerances.map(lit): _*)).as("tolerance_sec"),
        col("gap_s"))
      .groupBy(col("tolerance_sec"))
      .agg(count(lit(1)).cast("long").as("n_views"),
        sum(when(col("gap_s").isNotNull &&
            col("gap_s") <= d(col("tolerance_sec")), 1L).otherwise(0L))
          .cast("long").as("n_hits"))
      .withColumn("hit_rate",
        round(d(col("n_hits")) / d(col("n_views")), 6))
      .orderBy(col("tolerance_sec"))
  }

  val queries: Map[String, Q] = Map(
    "j_union_by_name" -> jUnionByName,
    "j_semi_active_customers" -> jSemiActiveCustomers,
    "j_anti_no_orders" -> jAntiNoOrders,
    "j_outer_nation_customer_counts" -> jOuterNationCustomerCounts,
    "j_broadcast_brand_volume" -> jBroadcastBrandVolume,
    "j_supplier_nation" -> jSupplierNation,
    "j_full_outer_segments" -> jFullOuterSegments,
    "j_asof_purchase_view" -> jAsofPurchaseView,
    "j_asof_next_purchase" -> jAsofNextPurchase,
    "j_asof_tolerance" -> jAsofTolerance,
    "j_range_follow_on" -> jRangeFollowOn,
    "j_nullsafe" -> jNullsafe,
    "j_table_diff" -> jTableDiff,
    "j_interval_overlap" -> jIntervalOverlap,
    "j_spatial_knn" -> jSpatialKnn,
    "j_asof_hit_rate" -> jAsofHitRate)

  val oracles: Map[String, String] = Map(
    "j_union_by_name" ->
      """SELECT src, count(*) AS n,
        |       count(*) FILTER (WHERE seg IS NULL) AS n_null_seg,
        |       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM (SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg,
        |             'cust' AS src
        |      FROM customer
        |      UNION ALL BY NAME
        |      SELECT s_acctbal AS bal, s_suppkey AS k, 'supp' AS src
        |      FROM supplier)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_semi_active_customers" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_anti_no_orders" ->
      """SELECT c_nationkey, count(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_outer_nation_customer_counts" ->
      """SELECT n_name, count(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_broadcast_brand_volume" ->
      """SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_supplier_nation" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |       max(s_acctbal) AS max_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_full_outer_segments" ->
      """SELECT COALESCE(h.nk, l.nk) AS nationkey,
        |       COALESCE(n_high, 0) AS n_high, COALESCE(n_low, 0) AS n_low
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_high
        |      FROM customer WHERE c_acctbal > 9000 GROUP BY 1) h
        |FULL OUTER JOIN
        |     (SELECT c_nationkey AS nk, count(*) AS n_low
        |      FROM customer WHERE c_acctbal < -900 GROUP BY 1) l
        |  ON h.nk = l.nk
        |ORDER BY nationkey""".stripMargin,
    "j_range_follow_on" ->
      """SELECT p.purchase_id, count(*) AS n_follow_on
        |FROM (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id AS follow_id, epoch_us(ts) AS eus
        |      FROM events) e
        |  ON p.user_id = e.user_id
        | AND e.eus > p.pus AND e.eus - p.pus <= 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_asof_purchase_view" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, v.view_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY purchase_id""".stripMargin,
    "j_asof_tolerance" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.purchase_id, p.user_id, v.view_id,
        |         epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
        |SELECT purchase_id, user_id,
        |       CASE WHEN gap_us <= 86400000000 THEN view_id END AS view_id,
        |       CASE WHEN gap_us <= 86400000000 THEN gap_us END AS gap_us
        |FROM m ORDER BY purchase_id""".stripMargin,
    "j_asof_next_purchase" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, min(event_id) AS purchase_id
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.view_id, v.user_id, p.purchase_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
        |ORDER BY view_id""".stripMargin,
    "j_nullsafe" ->
      """WITH cust AS (
        |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
        |         count(*) AS n_customers
        |  FROM customer GROUP BY 1),
        |rev AS (
        |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1)
        |SELECT a.seg, a.n_customers, b.revenue
        |FROM cust a LEFT JOIN rev b ON a.seg IS NOT DISTINCT FROM b.seg
        |ORDER BY a.seg NULLS FIRST""".stripMargin,
    "j_table_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         o_orderstatus AS status
        |  FROM orders),
        |nxt AS (
        |  SELECT k,
        |         CASE WHEN k % 97 = 0 THEN price + CAST(1.00 AS DECIMAL(18,2))
        |              ELSE price END AS price,
        |         CASE WHEN k % 83 = 0 THEN 'X' ELSE status END AS status
        |  FROM base WHERE k % 89 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, price, status FROM base WHERE k % 101 = 0),
        |d AS (
        |  SELECT coalesce(a.k, b.k) AS k, a.price AS p0, a.status AS s0,
        |         b.price AS p1, b.status AS s1
        |  FROM base a FULL OUTER JOIN nxt b ON a.k = b.k)
        |SELECT CASE WHEN p0 IS NULL THEN 'added'
        |            WHEN p1 IS NULL THEN 'removed'
        |            WHEN p0 <> p1 OR s0 <> s1 THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN p0 IS NOT NULL AND p1 IS NOT NULL
        |                      AND p0 <> p1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_price_changed,
        |       CAST(sum(CASE WHEN s0 IS NOT NULL AND s1 IS NOT NULL
        |                      AND s0 <> s1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_status_changed
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "j_interval_overlap" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(ts) AS s, max(ts) AS e
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.day AS day, a.user_id AS u1, b.user_id AS u2,
        |         epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS overlap_us
        |  FROM iv a JOIN iv b
        |    ON a.day = b.day AND a.user_id < b.user_id
        |   AND a.s <= b.e AND b.s <= a.e
        |  WHERE epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) >= 600000000),
        |ranked AS (
        |  SELECT day, n_pairs, overlap_us, u1, u2,
        |         row_number() OVER (PARTITION BY day
        |           ORDER BY overlap_us DESC, u1, u2) AS rk
        |  FROM (SELECT *, count(*) OVER (PARTITION BY day) AS n_pairs FROM pairs))
        |SELECT day, CAST(n_pairs AS BIGINT) AS n_pairs,
        |       CAST(overlap_us AS BIGINT) AS max_overlap_us,
        |       CAST(u1 AS BIGINT) AS top_u1, CAST(u2 AS BIGINT) AS top_u2
        |FROM ranked WHERE rk = 1 ORDER BY day""".stripMargin,
    "j_spatial_knn" -> {
      val hx = hexN("CAST(event_id AS VARCHAR)", 1, 13)
      val hy = hexN("CAST(event_id AS VARCHAR)", 14, 13)
      s"""WITH pts AS (
        |  SELECT event_id AS point_id,
        |         CAST($hx AS DOUBLE) / 4503599627370496.0 AS x,
        |         CAST($hy AS DOUBLE) / 4503599627370496.0 AS y
        |  FROM events),
        |qs AS (
        |  SELECT CAST(q_id AS INT) AS q_id,
        |         (CAST(q_id * 7 % 16 AS DOUBLE) + 0.5) / 16 AS qx,
        |         (CAST(q_id * 11 % 16 AS DOUBLE) + 0.5) / 16 AS qy
        |  FROM range(16) t(q_id)),
        |cand AS (
        |  SELECT q.q_id, p.point_id,
        |         (p.x - q.qx) * (p.x - q.qx)
        |           + (p.y - q.qy) * (p.y - q.qy) AS dist2
        |  FROM pts p JOIN qs q
        |    ON abs(CAST(floor(p.x * 16) AS INT)
        |         - CAST(floor(q.qx * 16) AS INT)) <= 1
        |   AND abs(CAST(floor(p.y * 16) AS INT)
        |         - CAST(floor(q.qy * 16) AS INT)) <= 1)
        |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
        |         ORDER BY dist2, point_id) AS INT) AS rank,
        |       point_id, round(sqrt(dist2), 6) AS dist
        |FROM cand
        |QUALIFY rank <= 3
        |ORDER BY q_id, rank""".stripMargin
    },
    "j_asof_hit_rate" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
         |  FROM events WHERE event_type IN ('view', 'purchase')),
         |gaps AS (
         |  SELECT (us - last_purchase) / 1000000 AS gap_s
         |  FROM (
         |    SELECT event_type, us,
         |           last_value(CASE WHEN event_type = 'purchase' THEN us END
         |               IGNORE NULLS)
         |             OVER (PARTITION BY user_id ORDER BY us, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |             AS last_purchase
         |    FROM ev)
         |  WHERE event_type = 'view'),
         |grid AS (
         |  SELECT unnest([${HitTolerances.mkString(", ")}]) AS tolerance_sec)
         |SELECT CAST(tolerance_sec AS BIGINT) AS tolerance_sec,
         |       CAST(count(*) AS BIGINT) AS n_views,
         |       CAST(sum(CASE WHEN gap_s IS NOT NULL
         |             AND gap_s <= tolerance_sec::DOUBLE THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hits,
         |       round(CAST(sum(CASE WHEN gap_s IS NOT NULL
         |               AND gap_s <= tolerance_sec::DOUBLE THEN 1 ELSE 0 END)
         |           AS BIGINT)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE, 6)
         |         AS hit_rate
         |FROM gaps CROSS JOIN grid
         |GROUP BY tolerance_sec ORDER BY tolerance_sec""".stripMargin)
}
