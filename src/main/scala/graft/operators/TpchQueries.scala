package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables
import ColumnIdioms._

/** TPC-H query shapes (`q1_` … `q22_`) and data-quality checks
  * over the TPC-H tables (`q_`).
  */
object TpchQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("q_") ++ (1 to 22).map(n => s"q${n}_")

  // TPC-H Q1-shaped pricing summary: filter → wide agg (A-family at scale)
  val q1Agg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (d(sum(col("l_quantity").cast("long"))) / count(lit(1))).as("avg_qty"),
        (d(sum(dec(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // 5-way star join: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem.
  // Aggregate-below-join: lineitem collapses to one exact-decimal
  // revenue row per order BEFORE meeting orders, so the fact-fact
  // join (the only non-broadcast exchange) moves |orders| rows
  // instead of |lineitem| (4× fewer at TPC-H shape), and the
  // downstream countDistinct(o_orderkey) degenerates to count(*)
  // (no Expand). Result is bit-identical: decimal sums re-associate
  // exactly.
  val q3RevenueByNation: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = broadcast(t(s, dir, "nation"))
    val r = broadcast(t(s, dir, "region"))
    val orderRev = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("order_rev"))
    orderRev.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("order_rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  // TPC-H Q5 shape (6-way): local-supplier volume — lineitem ⋈ orders
  // ⋈ customer ⋈ supplier with the customer and supplier in the SAME
  // nation, region-filtered. The only shuffled joins are the two
  // fact-fact edges (lineitem⋈orders, ⋈customer); supplier/nation/
  // region broadcast, and the region filter prunes through the
  // broadcast before the fact shuffle.
  val q5SupplierVolume: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter(to_date(col("o_orderdate")).between("1996-01-01", "1997-12-31"))
    val c = t(s, dir, "customer")
    // resolve supplier → ASIA nation as ONE broadcast dimension and
    // apply it to lineitem FIRST: Catalyst keeps the written join
    // order (no CBO stats here), so putting the most selective
    // broadcast at the bottom means the fact side enters the
    // fact-fact shuffles already pruned to ASIA-supplier lines
    // (~1/5 of rows) — the written-order equivalent of what a
    // cost-based reorder would pick at 100 TB.
    val asiaSup = broadcast(t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name")))
    li.join(asiaSup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  // TPC-H Q7 shape: bilateral trade volume — supplier nation ×
  // customer nation (both directions of one pair), yearly exact
  // revenue. The nation dimension joins twice under different roles
  // (broadcast both); the pair filter prunes through the broadcasts
  // before the fact-fact shuffles.
  val q7TradeVolume: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    // supplier side of the pair filter resolves through broadcasts
    // alone — apply it to lineitem BEFORE the fact-fact shuffles, so
    // only FRANCE/GERMANY-supplier lines (2/25 of rows) ride the
    // orderkey exchange; the customer side of the pair prunes at the
    // customer join (same bottom-up ordering rationale as q5)
    val pairSup = broadcast(t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("FRANCE", "GERMANY"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation")
      .filter(col("n_name").isin("FRANCE", "GERMANY"))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    li.join(pairSup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "FRANCE" && col("cust_nation") === "GERMANY") ||
        (col("supp_nation") === "GERMANY" && col("cust_nation") === "FRANCE"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  // TPC-H Q6 shape: pure scan-side filter + global agg — the
  // pushdown showcase (all three predicates reach the parquet scan;
  // no shuffle beyond the final single-row reduce)
  val q6RevenueForecast: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31") &&
        col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  // Additional TPC-H query shapes (Q10, Q14, Q15, Q18, Q22-adapted),
  // completing the canonical star-schema suite alongside q1/q3/q5/q6/
  // q7/q8/q19 elsewhere in the repo — the standard proof that the
  // relational surface handles selective fact filters, conditional
  // ratios, max-equality subqueries, HAVING-driven semi joins, and
  // anti-join aggregates with the repo's exact-decimal money policy.
  //
  // Reference behavior basis: the reference's dashboard aggregates
  // (streamlit_app/dashboard.py) are simple GROUP BYs; these are the
  // standard analytic supersets over the same star layout.

  private def rev: Column = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))

  // Q14: promo revenue share in one month — conditional exact-decimal
  // numerator over the same join, one double division; the date range
  // pushes into the fact scan.
  val q14PromoRatio: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(rev).cast("double")).as("promo_revenue_pct"),
        count(lit(1)).as("n_lines"))

  // Q10: top-20 customers by returned-item revenue — selective flag
  // filter on the fact, star join, exact-decimal revenue ranking
  // with a key tiebreak.
  val q10ReturnedRevenue: Q = (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)

  // Q15: supplier(s) achieving the quarter's MAX revenue — the
  // max-equality compares EXACT decimals (never doubles), so ties
  // resolve identically in both engines.
  val q15TopSupplier: Q = (s, dir) => {
    val srev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("total_rev"))
      // supplier-bounded (≤ #suppliers rows); the checkpoint stops the
      // max-rev scalar and the filter branch from EACH re-scanning and
      // re-aggregating lineitem — one quarter-of-lineitem scan total
      .localCheckpoint(eager = false)
    srev.crossJoin(broadcast(srev.agg(max(col("total_rev")).as("max_rev"))))
      .filter(col("total_rev") === col("max_rev"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  // Q18: large-volume orders — exact-decimal HAVING over the fact
  // aggregate, then the order/customer decoration joins only the
  // tiny surviving set.
  val q18LargeOrders: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("sum_qty"))
      .filter(col("sum_qty") > 300)
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))

  // Q22 (adapted to this schema): per-nation count/balance of
  // above-average-balance customers with NO orders — scalar-subquery
  // threshold from exact moments, anti join, decimal rollup.
  val q22IdleCustomers: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val avgPos = c.filter(col("c_acctbal") > 0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") /
        count(lit(1)).cast("double")).as("avg_pos"))
    c.join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgPos))
      .filter(col("c_acctbal") > col("avg_pos"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_balance"))
      .orderBy(col("n_name"))
  }

  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  // The remaining ten TPC-H query shapes (q2, q4, q9, q11, q12, q13,
  // q16, q17, q20, q21), completing the 22-query suite alongside
  // [[TpchQueries]] and the shapes in [[AnalyticsQueries]]/[[AnalyticsQueries]].
  //
  // The driver testdata has no `partsupp` table and lineitem carries
  // no commit/receipt dates or ship modes, so the queries are ADAPTED
  // to this schema the same way q22 was: every adaptation preserves
  // the query's optimizer-shape — the thing being tested — while
  // substituting available columns:
  //   - the part–supplier relation is derived from lineitem
  //     (distinct (l_partkey, l_suppkey) + aggregates);
  //   - "late delivery" (q4/q21's commit<receipt) becomes
  //     `l_returnflag = 'R'`;
  //   - ship modes (q12) become order-priority buckets.
  //
  // Shape checklist (what the plans must decorrelate to at 100 TB):
  //   q4  EXISTS            → left-semi join, never a per-row subquery
  //   q21 EXISTS+NOT EXISTS → semi + anti join on the same fact
  //   q17 correlated scalar AVG → aggregate-then-join; the avg
  //       comparison is exact-integer (5·qty·cnt < Σqty), no floats
  //   q20 correlated scalar-agg chain → two aggregate levels + semi
  //   q2  correlated MIN       → per-part aggregate + min-equality join
  //   q11 scalar-subquery threshold → one-row broadcast
  //   q13 outer join with ON-clause filter + double aggregate
  //   q16 NOT IN             → anti join + count(distinct)
  //   q9/q12 multi-join aggregates with conditional sums
  //
  // Money policy is the repo standard: DECIMAL(18,2) sums, one cast
  // to double at the end; counts stay integer; every output totally
  // ordered with a unique tiebreak.

  // Q4: order-priority checking — COUNT of 1996-H2 orders with at
  // least one returned line. The EXISTS decorrelates to a left-semi
  // join on l_orderkey (one shuffle, no per-order probe).
  val q4OrderPriority: Q = (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  // Q21: suppliers who, in a finished multi-supplier order, were the
  // ONLY supplier with a returned line — the classic double-correlated
  // EXISTS / NOT EXISTS, decorrelated to a semi join (another supplier
  // exists) plus an anti join (no OTHER supplier had a returned line)
  // over the same lineitem fact.
  val q21WaitingSupplier: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey").as("k1"), col("l_suppkey").as("sk1"))
    val others = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2"))
    val othersR = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3"))
    l1
      .join(others, col("k2") === col("k1") && col("sk2") =!= col("sk1"),
        "left_semi")
      .join(othersR, col("k3") === col("k1") && col("sk3") =!= col("sk1"),
        "left_anti")
      .join(t(s, dir, "supplier"), col("sk1") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(100)
  }

  // Q17: small-quantity-order revenue — lines of Brand#2 small parts
  // whose quantity is below 20% of that part's corpus-wide average.
  // The correlated AVG becomes one per-part (count, sum) aggregate
  // joined back; the 0.2·avg comparison is the exact-integer
  // cross-multiplication 5·qty·cnt < Σqty (zero float drift).
  val q17SmallQuantity: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val parts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#2" && col("p_size") < 5)
      .select(col("p_partkey"))
    // quantities are integer-valued in this corpus, so the 0.2·avg
    // comparison runs entirely in BIGINT — no decimal-width capping
    // on either engine
    val perPart = li
      .join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .withColumnRenamed("l_partkey", "agg_partkey")
    li.join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(lit(5L) * col("l_quantity").cast("long") * col("cnt") <
        col("sum_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0)
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  // Q20: suppliers with an outsized share of a PROMO part's 1996
  // shipments — per-(supplier,part) quantities, a per-part
  // (count, sum) carry, the exact 2·qty·cnt > Σqty share test, then
  // a semi join into supplier. Correlated scalar-agg chain →
  // two aggregate levels, zero per-row subqueries.
  val q20PromoShare: Q = (s, dir) => {
    val promoParts = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val sp = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1996)
      .join(promoParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty")) // integer-exact
    val perPart = sp.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("qty")).as("tot_qty"))
      .withColumnRenamed("l_partkey", "agg_partkey")
    val qualifying = sp
      .join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(lit(2L) * col("qty") * col("n_supp") > col("tot_qty"))
      .select(col("l_suppkey"))
    t(s, dir, "supplier")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  // Q2: minimum-"cost" supplier per part — the supply relation is
  // derived from lineitem (min extended price a supplier ever quoted
  // for the part); for size-15 STANDARD parts, keep the EUROPE
  // suppliers matching the part's EUROPE-wide minimum. Correlated MIN
  // → per-part aggregate + min-equality join on exact decimals.
  val q2MinCostSupplier: Q = (s, dir) => {
    val europeSupp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = t(s, dir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_brand"))
    val cost = t(s, dir, "lineitem")
      .join(parts.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(dec(col("l_extendedprice"))).as("cost"))
      .join(europeSupp, col("l_suppkey") === col("s_suppkey"))
    val minCost = cost.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("cost")).as("min_cost"))
    cost.join(minCost,
        col("l_partkey") === col("mk") && col("cost") === col("min_cost"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        col("cost").cast("double").as("supply_cost"))
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  // Q9: product-type profit by nation and year — profit proxy
  // rev − 0.8·retail·qty (no partsupp supplycost), green-ish parts by
  // name prefix, supplier nation, exact-decimal sum per (nation, year).
  val q9ProductProfit: Q = (s, dir) => {
    val profit = rev -
      lit(0.8).cast("decimal(2,1)") * dec(col("p_retailprice")) *
        dec(col("l_quantity"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_name").like("%gear%")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  // Q11: important stock — per-part shipped value from NATION_3's
  // suppliers, kept where it exceeds 0.1% of that nation's total;
  // the threshold is a one-row broadcast scalar, not a re-aggregation.
  val q11ImportantStock: Q = (s, dir) => {
    val n3supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation").filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = t(s, dir, "lineitem")
      .join(n3supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("value"))
    // SUM's (38,2) must narrow to (24,2) before the multiply: at full
    // width Spark caps the product's precision and REDUCES scale
    // (truncating the threshold) while DuckDB keeps (38,5) — the
    // narrow cast keeps both engines exact
    val threshold = value.agg(
      (sum(col("value")).cast("decimal(24,2)") *
        lit(0.001).cast("decimal(4,3)")).as("thr"))
    value.join(broadcast(threshold), col("value") > col("thr"))
      .select(col("l_partkey"), col("value").cast("double").as("value"))
      .orderBy(desc("value"), col("l_partkey"))
  }

  // Q12: shipping "modes" (order-priority buckets, no l_shipmode in
  // this schema) — per linestatus, how many 1996-shipped lines belong
  // to critical (URGENT/HIGH) vs other orders. Join + two conditional
  // counts.
  val q12PriorityClasses: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1996)
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))

  // Q13: customer order-count distribution — left outer join with the
  // non-trivial ON-clause filter (status <> 'F'), then the
  // count-of-counts double aggregate.
  val q13OrderDistribution: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  // Q16: supplier count per part attribute — the part–supplier
  // relation from distinct lineitem pairs, excluding negative-balance
  // suppliers (the NOT IN → anti join), count(DISTINCT supplier).
  val q16SupplierCount: Q = (s, dir) => {
    val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    t(s, dir, "lineitem")
      .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(t(s, dir, "part").filter(col("p_brand") =!= "Brand#4" &&
          col("p_type") =!= "PROMO" && col("p_size").isin(2, 3, 19, 29, 35, 48)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  // ---------------------------------------------------------------
  // q19_disjunctive — TPC-H Q19's shape: an OR of (brand × size ×
  // quantity) conjunction triples across a join. The optimizer
  // splits the disjunction: the part-only conjuncts prune the
  // build side before the join and the lineitem-only bounds
  // (quantity ∈ [1,30] overall) push into the fact scan, so the
  // join sees a fraction of both inputs — the classic
  // pushdown-through-OR test. Money math follows the repo decimal
  // policy (cast-then-multiply, exact sum, double at the edge).
  // ---------------------------------------------------------------
  val q19Disjunctive: Q = (s, dir) => {
    val pred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(10, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 40) &&
        col("l_quantity").between(20, 30))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // ---------------------------------------------------------------
  // q8_market_share — TPC-H Q8's shape: one supplier-nation's share
  // of a region's PROMO-part market per order year. Numerator and
  // denominator are exact conditional decimal sums over the same
  // 6-way star (dims broadcast, one fact shuffle), divided once at
  // the edge — the "ratio of two exact money sums" policy.
  // ---------------------------------------------------------------
  val q8MarketShare: Q = (s, dir) => {
    val rev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    val joined = t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey").as("cn_key"),
        col("n_regionkey").as("cn_region")), col("c_nationkey") === col("cn_key"))
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("cn_region") === col("r_regionkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation")), col("s_nationkey") === col("sn_key"))
    joined
      .select(year(col("o_orderdate")).as("o_year"), rev.as("rev"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_3", col("rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nation_rev"),
        sum(col("rev")).as("total_rev"))
      .select(col("o_year"),
        col("nation_rev").cast("double").as("nation_revenue"),
        col("total_rev").cast("double").as("total_revenue"),
        (col("nation_rev").cast("double") / col("total_rev").cast("double"))
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  // ---------------------------------------------------------------
  // q_dq_referential — the data-quality gate a warehouse runs before
  // publishing a snapshot: referential-integrity orphan counts for
  // every foreign key of the star (lineitem→orders/part/supplier,
  // orders→customer) plus row-level expectation checks (quantity in
  // its domain, discount in its domain, positive order value). Scale
  // shape: ONE pass over each fact table — the three lineitem FK
  // probes ride a single scan (part and supplier key sets broadcast;
  // the orders key set is the one genuinely shuffled leg at fact
  // scale), all expectation predicates fold into the same aggregate,
  // and `stack` unpivots the one-row summary into the per-check
  // contract. Integer counts — exact.
  // ---------------------------------------------------------------
  val qDqReferential: Q = (s, dir) => {
    val li = Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_discount"))
    val okeys = Tables.table(s, dir, "orders")
      .select(col("o_orderkey").as("__ok"))
    val pkeys = Tables.table(s, dir, "part")
      .select(col("p_partkey").as("__pk"))
    val skeys = Tables.table(s, dir, "supplier")
      .select(col("s_suppkey").as("__sk"))
    val liAgg = li
      .join(okeys, col("l_orderkey") === col("__ok"), "left")
      .join(broadcast(pkeys), col("l_partkey") === col("__pk"), "left")
      .join(broadcast(skeys), col("l_suppkey") === col("__sk"), "left")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__ok").isNull, 1L).otherwise(0L)).cast("long").as("v_ord"),
        sum(when(col("__pk").isNull, 1L).otherwise(0L)).cast("long").as("v_part"),
        sum(when(col("__sk").isNull, 1L).otherwise(0L)).cast("long").as("v_supp"),
        sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L))
          .cast("long").as("v_qty"),
        sum(when(!col("l_discount").between(0.0, 0.1), 1L).otherwise(0L))
          .cast("long").as("v_disc"))
    val liRows = liAgg.selectExpr(
      "stack(5, 'fk_lineitem_orders', v_ord, 'fk_lineitem_part', v_part," +
        " 'fk_lineitem_supplier', v_supp, 'chk_quantity_domain', v_qty," +
        " 'chk_discount_domain', v_disc) AS (check_name, n_violations)",
      "n_total")
    val ckeys = Tables.table(s, dir, "customer")
      .select(col("c_custkey").as("__ck"))
    val oAgg = Tables.table(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .join(broadcast(ckeys), col("o_custkey") === col("__ck"), "left")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__ck").isNull, 1L).otherwise(0L)).cast("long").as("v_cust"),
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
          .cast("long").as("v_price"))
    val oRows = oAgg.selectExpr(
      "stack(2, 'fk_orders_customer', v_cust," +
        " 'chk_positive_totalprice', v_price) AS (check_name, n_violations)",
      "n_total")
    liRows.unionAll(oRows)
      .select(col("check_name"), col("n_violations"), col("n_total"),
        (col("n_violations") === 0L).as("passed"))
      .orderBy(col("check_name"))
  }

  // ---------------------------------------------------------------
  // q_basket_pairs — frequent brand-pair mining over order baskets
  // (Agrawal–Srikant Apriori / the SON two-pass shape): baskets are
  // orders, items are the distinct part brands in each order. The
  // Apriori prune runs first — only items with support ≥ 5% of
  // baskets generate candidates (monotonicity: no pair can beat its
  // rarer member) — then pairs come from an ordered self-join of the
  // pruned per-basket postings on the basket key: pair work is
  // Σ per-basket items², bounded by basket size (≤ the order's line
  // count), never corpus². Support thresholds are integer
  // cross-multiplications (supp·20 ≥ n — no float shares); lift is
  // the one rounded libm-touched output. The frequent-item set and
  // the one-row basket count broadcast; top-20 on the total
  // (supp desc, brand_a, brand_b) order plans as TakeOrdered.
  // ---------------------------------------------------------------
  val qBasketPairs: Q = (s, dir) => {
    val items = Tables.table(s, dir, "lineitem")
      .join(Tables.table(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
      .localCheckpoint(eager = false) // three consumers: count, supports, postings
    val nb = items.agg(countDistinct(col("ok")).as("n_baskets"))
    val itemSupp = items.groupBy(col("brand"))
      .agg(count(lit(1)).as("supp_item"))
    val freq = itemSupp.crossJoin(broadcast(nb))
      .filter(col("supp_item") * 20 >= col("n_baskets"))
      .select(col("brand"), col("supp_item"))
    val fi = items.join(broadcast(freq), Seq("brand"))
      .select(col("ok"), col("brand"))
    val pairs = fi.as("a")
      .join(fi.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("supp_pair"))
    pairs.crossJoin(broadcast(nb))
      .filter(col("supp_pair") * 100 >= col("n_baskets"))
      .join(broadcast(freq.select(col("brand").as("brand_a"),
        col("supp_item").as("supp_a"))), Seq("brand_a"))
      .join(broadcast(freq.select(col("brand").as("brand_b"),
        col("supp_item").as("supp_b"))), Seq("brand_b"))
      .select(col("brand_a"), col("brand_b"), col("supp_pair"),
        round(d(col("supp_pair")) * d(col("n_baskets")) /
          (d(col("supp_a")) * d(col("supp_b"))), 6).as("lift"))
      .orderBy(desc("supp_pair"), col("brand_a"), col("brand_b"))
      .limit(20)
  }

  // ---------------------------------------------------------------
  // q_dq_freshness — cross-table staleness audit: each table's
  // newest temporal column against the warehouse-wide newest
  // timestamp, in days — the first check a scheduled pipeline runs
  // (a stale upstream silently freezes every derived metric). Scale
  // shape: one max-aggregate scan per table (min/max are
  // footer-level statistics in parquet — effectively free), a
  // 3-row result.
  // ---------------------------------------------------------------
  val qDqFreshness: Q = (s, dir) => {
    def leg(table: String, tsCol: Column): DataFrame =
      Tables.table(s, dir, table)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          max(to_date(tsCol)).as("max_date"))
        .select(lit(table).as("table_name"), col("n_rows"), col("max_date"))
    val legs = leg("orders", col("o_orderdate"))
      .unionAll(leg("lineitem", col("l_shipdate")))
      .unionAll(leg("events", col("ts")))
      .localCheckpoint(eager = false) // the global max AND the output rows
    val ref = legs.agg(max(col("max_date")).as("ref_date"))
    legs.crossJoin(broadcast(ref))
      .select(col("table_name"), col("n_rows"), col("max_date"),
        datediff(col("ref_date"), col("max_date")).cast("long")
          .as("staleness_days"))
      .orderBy(col("table_name"))
  }

  // ---------------------------------------------------------------
  // q_dq_profile — per column: rows, nulls, exact NDV, uniqueness.
  // Multiple exact count-distincts per table are the profiler's
  // honest cost (Catalyst expands one scan per distinct column —
  // the standard profile-job shape; swap in HLL sketches via
  // a_approx_distinct when 2% error is acceptable at 100 TB). The
  // unpivot is an 18-row literal explode.
  // ---------------------------------------------------------------
  private val ProfileCols: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice", "o_orderdate"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_quantity",
      "l_returnflag"),
    "events" -> Seq("event_id", "user_id", "event_type", "value"),
    "documents" -> Seq("doc_id", "lang", "source", "text"))

  val qDqProfile: Q = (s, dir) => {
    val legs = ProfileCols.map { case (tname, cols) =>
      val t = Tables.table(s, dir, tname)
      val aggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long")
          .as(s"null_$c"),
          countDistinct(col(c)).cast("long").as(s"ndv_$c"))
      }
      val st = t.agg(count(lit(1)).cast("long").as("n_rows"),
        aggs: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("column_name"), col(s"null_$c").as("n_null"),
          col(s"ndv_$c").as("ndv"))
      }
      st.select(lit(tname).as("table_name"), col("n_rows"),
        explode(array(rows: _*)).as("r"))
        .select(col("table_name"), col("r.column_name").as("column_name"),
          col("n_rows"), col("r.n_null").as("n_null"),
          round(d(col("r.n_null")) / d(col("n_rows")), 6).as("null_rate"),
          col("r.ndv").as("ndv"),
          (col("r.ndv") === col("n_rows") - col("r.n_null")).as("is_unique"))
    }
    legs.reduce(_.unionAll(_)).orderBy(col("table_name"), col("column_name"))
  }

  // ---------------------------------------------------------------
  // q_referential_integrity — per FK edge: child rows, orphan rows
  // (left-anti against the parent key), orphan rate. Anti joins
  // hash on the key; parents project keys only. The audit a 100 TB
  // ingest runs before anything else trusts the joins.
  // ---------------------------------------------------------------
  val qReferentialIntegrity: Q = (s, dir) => {
    def edge(child: String, ck: String, parent: String,
        pk: String): DataFrame = {
      val c = Tables.table(s, dir, child).select(col(ck).as("k"))
        .localCheckpoint(eager = false) // total + anti-join legs share one scan
      val p = Tables.table(s, dir, parent).select(col(pk).as("k"))
      val tot = c.agg(count(lit(1)).cast("long").as("n_child_rows"))
      val orp = c.join(p, Seq("k"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_orphans"))
      tot.crossJoin(orp)
        .select(lit(s"$child.$ck").as("child_key"),
          lit(s"$parent.$pk").as("parent_key"),
          col("n_child_rows"), col("n_orphans"))
    }
    edge("lineitem", "l_orderkey", "orders", "o_orderkey")
      .unionAll(edge("lineitem", "l_partkey", "part", "p_partkey"))
      .unionAll(edge("lineitem", "l_suppkey", "supplier", "s_suppkey"))
      .unionAll(edge("orders", "o_custkey", "customer", "c_custkey"))
      .select(col("child_key"), col("parent_key"),
        col("n_child_rows").cast("long").as("n_child_rows"),
        col("n_orphans").cast("long").as("n_orphans"),
        round(d(col("n_orphans")) / d(col("n_child_rows")), 6)
          .as("orphan_rate"),
        when(col("n_orphans") === 0L, "intact").otherwise(lit("broken"))
          .as("verdict"))
      .orderBy(col("child_key"))
  }

  val queries: Map[String, Q] = Map(
    "q5_supplier_volume" -> q5SupplierVolume,
    "q7_trade_volume" -> q7TradeVolume,
    "q6_revenue_forecast" -> q6RevenueForecast,
    "q1_agg" -> q1Agg,
    "q3_revenue_by_nation" -> q3RevenueByNation,
    "q14_promo_ratio" -> q14PromoRatio,
    "q10_returned_revenue" -> q10ReturnedRevenue,
    "q15_top_supplier" -> q15TopSupplier,
    "q18_large_orders" -> q18LargeOrders,
    "q22_idle_customers" -> q22IdleCustomers,
    "q2_min_cost_supplier" -> q2MinCostSupplier,
    "q4_order_priority" -> q4OrderPriority,
    "q9_product_profit" -> q9ProductProfit,
    "q11_important_stock" -> q11ImportantStock,
    "q12_priority_classes" -> q12PriorityClasses,
    "q13_order_distribution" -> q13OrderDistribution,
    "q16_supplier_count" -> q16SupplierCount,
    "q17_small_quantity" -> q17SmallQuantity,
    "q20_promo_share" -> q20PromoShare,
    "q21_waiting_supplier" -> q21WaitingSupplier,
    "q8_market_share" -> q8MarketShare,
    "q19_disjunctive" -> q19Disjunctive,
    "q_dq_referential" -> qDqReferential,
    "q_basket_pairs" -> qBasketPairs,
    "q_dq_freshness" -> qDqFreshness,
    "q_dq_profile" -> qDqProfile,
    "q_referential_integrity" -> qReferentialIntegrity)

  val oracles: Map[String, String] = Map(
    "q5_supplier_volume" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q7_trade_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
        |   OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q6_revenue_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q14_promo_ratio" ->
      s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql
         |                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |         / CAST(SUM($revSql) AS DOUBLE) AS promo_revenue_pct,
         |       count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q10_returned_revenue" ->
      s"""SELECT c_custkey, c_name, n_name, c_acctbal,
         |       CAST(SUM($revSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH srev AS (
         |  SELECT l_suppkey, SUM($revSql) AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
         |FROM srev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = (SELECT max(total_rev) FROM srev)
         |ORDER BY s_suppkey""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |       CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q22_idle_customers" ->
      """WITH avg_pos AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS avg_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |CROSS JOIN avg_pos
        |WHERE c_acctbal > avg_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q17_small_quantity" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#2' AND p_size < 5
        |  AND 5 * CAST(l_quantity AS DECIMAL(18,2))
        |        * (SELECT count(*) FROM lineitem l2
        |           WHERE l2.l_partkey = l1.l_partkey)
        |      < (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
        |         WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q20_promo_share" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1996
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE EXISTS (
        |  SELECT 1 FROM sp
        |  WHERE sp.l_suppkey = s_suppkey
        |    AND 2 * qty * (SELECT count(*) FROM sp s2
        |                   WHERE s2.l_partkey = sp.l_partkey)
        |        > (SELECT SUM(qty) FROM sp s2 WHERE s2.l_partkey = sp.l_partkey))
        |ORDER BY s_suppkey""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_size = 15 AND p_type = 'STANDARD')
        |  GROUP BY 1, 2),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |       CAST(cost AS DOUBLE) AS supply_cost
        |FROM cost c
        |JOIN eu ON c.l_suppkey = eu.s_suppkey
        |JOIN part ON c.l_partkey = p_partkey
        |WHERE cost = (SELECT MIN(cost) FROM cost c2
        |              JOIN eu e2 ON c2.l_suppkey = e2.s_suppkey
        |              WHERE c2.l_partkey = c.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |       CAST(SUM($revSql
         |                - CAST(0.8 AS DECIMAL(2,1))
         |                  * CAST(p_retailprice AS DECIMAL(18,2))
         |                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH value AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_name = 'NATION_3')
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS value
        |FROM value
        |WHERE value > (SELECT SUM(value) * CAST(0.001 AS DECIMAL(4,3)) FROM value)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q12_priority_classes" ->
      """SELECT l_linestatus,
        |       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                  THEN 1 END) AS high_line_count,
        |       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                  THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(l_shipdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_order_distribution" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |                        AND o_orderstatus <> 'F'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
        |  AND p_size IN (2, 3, 19, 29, 35, 48)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q8_market_share" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
        |SELECT o_year,
        |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |         AS nation_revenue,
        |       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
        |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |         / CAST(SUM(rev) AS DOUBLE) AS mkt_share
        |FROM j GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_dq_referential" ->
      """WITH li AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v_ord,
        |         CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v_part,
        |         CAST(sum(CASE WHEN su.s_suppkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v_supp,
        |         CAST(sum(CASE WHEN NOT (l.l_quantity BETWEEN 1.0 AND 50.0)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |         CAST(sum(CASE WHEN NOT (l.l_discount BETWEEN 0.0 AND 0.1)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
        |  FROM lineitem l
        |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |  LEFT JOIN supplier su ON l.l_suppkey = su.s_suppkey),
        |oa AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v_cust,
        |         CAST(sum(CASE WHEN o.o_totalprice <= 0.0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v_price
        |  FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |rows_ AS (
        |  SELECT 'fk_lineitem_orders' AS check_name, v_ord AS n_violations,
        |         n_total FROM li
        |  UNION ALL SELECT 'fk_lineitem_part', v_part, n_total FROM li
        |  UNION ALL SELECT 'fk_lineitem_supplier', v_supp, n_total FROM li
        |  UNION ALL SELECT 'chk_quantity_domain', v_qty, n_total FROM li
        |  UNION ALL SELECT 'chk_discount_domain', v_disc, n_total FROM li
        |  UNION ALL SELECT 'fk_orders_customer', v_cust, n_total FROM oa
        |  UNION ALL SELECT 'chk_positive_totalprice', v_price, n_total FROM oa)
        |SELECT check_name, n_violations, n_total,
        |       n_violations = 0 AS passed
        |FROM rows_ ORDER BY check_name""".stripMargin,
    "q_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |nb AS (
        |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
        |  FROM items),
        |isupp AS (
        |  SELECT brand, CAST(count(*) AS BIGINT) AS supp_item
        |  FROM items GROUP BY 1),
        |freq AS (
        |  SELECT i.brand, i.supp_item
        |  FROM isupp i CROSS JOIN nb
        |  WHERE i.supp_item * 20 >= nb.n_baskets),
        |fi AS (
        |  SELECT it.ok, it.brand
        |  FROM items it JOIN freq f ON it.brand = f.brand),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b,
        |         CAST(count(*) AS BIGINT) AS supp_pair
        |  FROM fi a JOIN fi b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT p.brand_a, p.brand_b, p.supp_pair,
        |       round(CAST(p.supp_pair AS DOUBLE)
        |           * CAST(nb.n_baskets AS DOUBLE)
        |         / (CAST(fa.supp_item AS DOUBLE)
        |           * CAST(fb.supp_item AS DOUBLE)), 6) AS lift
        |FROM pairs p
        |CROSS JOIN nb
        |JOIN freq fa ON fa.brand = p.brand_a
        |JOIN freq fb ON fb.brand = p.brand_b
        |WHERE p.supp_pair * 100 >= nb.n_baskets
        |ORDER BY p.supp_pair DESC, p.brand_a, p.brand_b
        |LIMIT 20""".stripMargin,
    "q_dq_freshness" ->
      """WITH legs AS (
        |  SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(max(o_orderdate) AS DATE) AS max_date
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |         CAST(max(l_shipdate) AS DATE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events', CAST(count(*) AS BIGINT),
        |         CAST(max(ts) AS DATE)
        |  FROM events),
        |ref AS (SELECT max(max_date) AS ref_date FROM legs)
        |SELECT table_name, n_rows, max_date,
        |       CAST(datediff('day', max_date, ref_date) AS BIGINT)
        |         AS staleness_days
        |FROM legs CROSS JOIN ref
        |ORDER BY table_name""".stripMargin,
    "q_dq_profile" -> {
      val legs = ProfileCols.flatMap { case (t, cols) =>
        cols.map { c =>
          s"""SELECT '$t' AS table_name, '$c' AS column_name,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |       round(CAST(count(*) - count($c) AS DOUBLE)
             |         / CAST(count(*) AS DOUBLE), 6) AS null_rate,
             |       CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
             |       count(DISTINCT $c) = count($c) AS is_unique
             |FROM $t""".stripMargin
        }
      }
      legs.mkString("", "\nUNION ALL\n",
        "\nORDER BY table_name, column_name")
    },
    "q_referential_integrity" ->
      """WITH e AS (
        |  SELECT 'lineitem.l_orderkey' AS child_key,
        |         'orders.o_orderkey' AS parent_key,
        |         (SELECT count(*) FROM lineitem) AS n_child_rows,
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_orderkey = l.l_orderkey))
        |           AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', 'part.p_partkey',
        |         (SELECT count(*) FROM lineitem),
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM part p
        |                            WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
        |         (SELECT count(*) FROM lineitem),
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                            WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL
        |  SELECT 'orders.o_custkey', 'customer.c_custkey',
        |         (SELECT count(*) FROM orders),
        |         (SELECT count(*) FROM orders o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey)))
        |SELECT child_key, parent_key,
        |       CAST(n_child_rows AS BIGINT) AS n_child_rows,
        |       CAST(n_orphans AS BIGINT) AS n_orphans,
        |       round(CAST(n_orphans AS DOUBLE)
        |         / CAST(n_child_rows AS DOUBLE), 6) AS orphan_rate,
        |       CASE WHEN n_orphans = 0 THEN 'intact' ELSE 'broken' END
        |         AS verdict
        |FROM e ORDER BY child_key""".stripMargin)
}
