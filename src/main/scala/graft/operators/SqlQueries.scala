package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Barrier, Grain, QueryModule}
import graft.sources.Tables
import ColumnIdioms._

/** SQL-surface shapes: subqueries, pivots (`r5_`), recursive
  * CTEs, lateral joins, cube aggregation and set operations
  * (`set_`).
  */
object SqlQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("sql_", "set_", "r5_")

  // Set operations: INTERSECT / EXCEPT / UNION ALL
  val setOpsCustomerOrders: Q = (s, dir) => {
    val custKeys = t(s, dir, "customer").select(col("c_custkey"))
    val orderCust = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val withOrders = custKeys.intersect(orderCust)
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("with_orders"))
    val noOrders = custKeys.except(orderCust)
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("no_orders"))
    noOrders.unionByName(withOrders).select(col("tag"), col("n")).orderBy(col("tag"))
  }

  // SQL-parser surface: scalar subquery (decorrelated to a broadcast
  // single-row join) + correlated EXISTS (planned as a left-semi
  // join) through spark.sql — the threshold is an exact-decimal
  // average so the predicate is deterministic cross-engine.
  val sqlSubqueries: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_rich_active
        |FROM customer_v c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                          / count(*) FROM customer_v)
        |  AND EXISTS (SELECT 1 FROM orders_v o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  // ---------------------------------------------------------------
  // sql_lateral — correlated LATERAL subquery (top-2 customers by
  // balance per nation) through the SQL parser: Catalyst rewrites
  // the correlated LIMIT into a DomainJoin + ranked window, so the
  // executed plan is the same shuffle-once top-k as the DataFrame
  // form — declared semantics, optimizer-chosen execution.
  // ---------------------------------------------------------------
  val sqlLateral: Q = (s, dir) => {
    t(s, dir, "nation").createOrReplaceTempView("nation")
    t(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql("""
      SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS acctbal
      FROM nation n JOIN LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY n.n_name, acctbal DESC, t.c_name""")
  }

  // ---------------------------------------------------------------
  // r5_pivot_multi — pivot with MULTIPLE aggregates per cell
  // (revenue + order count per status column): one shuffle, the
  // pivot columns are conditional aggregates, money stays exact
  // decimal until the edge.
  // ---------------------------------------------------------------
  val r5PivotMulti: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("rev"),
        count(lit(1)).as("n"))
      .orderBy(col("o_year"))

  // ---------------------------------------------------------------
  // sql_recursive — recursive CTE (Spark 4 WITH RECURSIVE) computing
  // a compounded YEARLY growth index: a RUNNING PRODUCT, which no
  // window frame expresses exactly (exp(Σln) would trip the
  // transcendental policy). The recursion pins the evaluation order
  // — each step is one double multiply/divide — so the float chain
  // is bit-identical in both engines. Yearly, not monthly: Spark
  // executes one JOB per recursion level, so level count is the cost
  // driver — and, crucially, the UnionLoop re-evaluates the step's
  // INPUT every level, so the yearly aggregate must be materialized
  // BEFORE the recursion. With `seq` inline as a CTE each of the 7
  // levels re-aggregated the full orders table (~3-4.5 s at sf0.1,
  // 28 s at 80 monthly levels); a barrier on the 7-row frame
  // first makes each level a scan of 7 stored rows (~job-overhead
  // only). Same plan shape at 100 TB: the recursion input is always
  // a years-count row set, never the fact table.
  // ---------------------------------------------------------------
  val sqlRecursive: Q = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("yr"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("rev"))
      // bounded single-partition window: one row per YEAR, regardless
      // of fact-table scale
      .withColumn("k", row_number().over(Grain.bounded(col("yr"))))
      .transform(Barrier.materialize)
      .createOrReplaceTempView("seq_rec")
    s.sql("""
      WITH RECURSIVE r(k, yr, rev, idx) AS (
        SELECT k, yr, rev, CAST(100.0 AS DOUBLE) FROM seq_rec WHERE k = 1
        UNION ALL
        SELECT seq_rec.k, seq_rec.yr, seq_rec.rev, r.idx * (seq_rec.rev / r.rev)
        FROM seq_rec JOIN r ON seq_rec.k = r.k + 1)
      SELECT yr, rev, round(idx, 6) AS growth_index FROM r ORDER BY yr""")
  }

  // ---------------------------------------------------------------
  // sql_recursive_batched — the MONTHLY (~80-level) growth index,
  // with the recursion's one-job-per-level floor cut by LEVEL
  // BATCHING: levels group into batches of 16, each batch's ratios
  // ride as one sorted array, and the recursive step advances a
  // whole batch at a time via aggregate(ratios, prev_end,
  // (a, x) -> a * x) — a left fold seeded with the previous batch's
  // end value, which is EXACTLY the sequential recursion's
  // multiply order (so a plain one-level-at-a-time DuckDB recursion
  // is a bit-identical oracle). Per-level values rematerialize
  // outside the recursion as prefix folds of the batch array from
  // the batch-start seed — same association again. 80 levels ⇒ 5
  // recursion iterations instead of 80 Spark jobs; at any scale the
  // recursion input is the batch count, never the fact table (both
  // frames go through a barrier before the UnionLoop re-evaluates them
  // per iteration — the sql_recursive lesson).
  // ---------------------------------------------------------------
  val sqlRecursiveBatched: Q = (s, dir) => {
    val batchSize = 16
    val wk = Grain.bounded(col("yr"), col("mo"))
    t(s, dir, "orders")
      .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("yr"),
        expr("CAST(month(o_orderdate) AS BIGINT)").as("mo"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("rev"))
      // bounded single-partition window: one row per MONTH
      .withColumn("k", row_number().over(wk))
      .withColumn("ratio", col("rev") / lag(col("rev"), 1).over(wk))
      .withColumn("b", expr(s"CAST((k - 1) div $batchSize AS BIGINT)"))
      // position of this level's ratio inside its batch's array
      // (k=1 has no ratio; batch 0's array starts at k=2)
      .withColumn("p", when(col("b") === 0, col("k") - 1)
        .otherwise(col("k") - col("b") * batchSize))
      .transform(Barrier.materialize)
      .createOrReplaceTempView("recb_lvl")
    s.table("recb_lvl").filter(col("k") >= 2)
      .groupBy(col("b"))
      .agg(expr("transform(sort_array(collect_list(struct(k, ratio)))," +
        " x -> x.ratio)").as("ratios"))
      .transform(Barrier.materialize)
      .createOrReplaceTempView("recb_bat")
    s.sql("""
      WITH RECURSIVE rb(b, endv) AS (
        SELECT b, aggregate(ratios, CAST(100.0 AS DOUBLE), (a, x) -> a * x)
        FROM recb_bat WHERE b = 0
        UNION ALL
        SELECT recb_bat.b, aggregate(recb_bat.ratios, rb.endv, (a, x) -> a * x)
        FROM recb_bat JOIN rb ON recb_bat.b = rb.b + 1)
      SELECT l.yr, l.mo, l.rev,
             CASE WHEN l.k = 1 THEN CAST(100.0 AS DOUBLE)
                  ELSE round(aggregate(slice(bb.ratios, 1, CAST(l.p AS INT)),
                         coalesce(st.startv, CAST(100.0 AS DOUBLE)),
                         (a, x) -> a * x), 6)
             END AS growth_index
      FROM recb_lvl l
      LEFT JOIN recb_bat bb ON l.b = bb.b
      LEFT JOIN (SELECT b + 1 AS b, endv AS startv FROM rb) st ON l.b = st.b
      ORDER BY l.yr, l.mo""")
  }

  // ---------------------------------------------------------------
  // sql_pivot — the SQL-syntax PIVOT and UNPIVOT clauses through the
  // parser, round-tripped: wide per-status revenue columns, then
  // back to long form (UNPIVOT drops the NULL cells, mirroring the
  // GROUP BY oracle's absent groups). Money stays exact decimal
  // inside the pivot; one cast at the edge.
  // ---------------------------------------------------------------
  val sqlPivot: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      WITH base AS (
        SELECT year(o_orderdate) AS o_year, o_orderstatus AS st,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders),
      piv AS (
        SELECT * FROM base PIVOT (SUM(p) FOR st IN ('F' AS f, 'O' AS o, 'P' AS pp))),
      unp AS (
        SELECT o_year, status, CAST(rev AS DOUBLE) AS revenue
        FROM piv UNPIVOT (rev FOR status IN (f AS `F`, o AS `O`, pp AS `P`)))
      SELECT o_year, status, revenue FROM unp ORDER BY o_year, status""")
  }

  // ---------------------------------------------------------------
  // set_ops_all_multiset — multiset set-operations (INTERSECT ALL /
  // EXCEPT ALL, the bag semantics SQL:1999 adds over the distinct
  // forms set_ops_customer_orders covers): part keys shipped by
  // even suppliers vs part keys on high-quantity lines, with
  // per-key multiplicities after each bag operation. Spark's
  // intersectAll/exceptAll plan as hash aggregates + joins (no
  // sort); per-key output counts are exact and hash-stable. Top-50
  // by (count desc, key) bounds the output.
  // ---------------------------------------------------------------
  val setOpsAllMultiset: Q = (s, dir) => {
    val li = Tables.table(s, dir, "lineitem").transform(Barrier.materialize)
    val a = li.filter(col("l_suppkey") % 2 === 0).select(col("l_partkey"))
    val b = li.filter(col("l_quantity") > 25).select(col("l_partkey"))
    val ia = a.intersectAll(b).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_intersect_all"))
    val ea = a.exceptAll(b).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_except_all"))
    ia.join(ea, Seq("l_partkey"), "full_outer")
      .select(col("l_partkey"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
      .orderBy(desc("n_intersect_all"), desc("n_except_all"), col("l_partkey"))
      .limit(50)
  }

  // CUBE / grouping-sets aggregation — the one
  // relational surface the sql_* family (lateral, pivot, recursive,
  // subqueries) was still missing. Spark plans a cube as ONE pass
  // with an Expand node (4 grouping sets materialized map-side, then
  // a single hash aggregate with partial combine) — the shape that
  // replaces four separate scans of a 100 TB fact table.

  // ---------------------------------------------------------------
  // sql_cube — order count and exact-decimal revenue at every
  // (status, priority) granularity: the detail cells, each one-way
  // margin, and the grand total, disambiguated by grouping_id (bit
  // 2 = status aggregated, bit 1 = priority aggregated — the same
  // MSB-first convention DuckDB's GROUPING() uses, replayed not
  // assumed). NULL group values only appear where gid says the
  // column is rolled up. Scale shape: one scan → Expand(4 sets) →
  // one two-phase hash aggregate; output bounded by
  // (|status|+1)·(|priority|+1).
  // ---------------------------------------------------------------
  val sqlCube: Q = (s, dir) =>
    Tables.table(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).cast("long").as("n_orders"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("revenue"))
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("gid"), col("n_orders"), col("revenue"))
      .orderBy(col("gid"), asc_nulls_first("status"),
        asc_nulls_first("priority"))

  val queries: Map[String, Q] = Map(
    "sql_subqueries" -> sqlSubqueries,
    "set_ops_customer_orders" -> setOpsCustomerOrders,
    "sql_pivot" -> sqlPivot,
    "sql_recursive" -> sqlRecursive,
    "sql_recursive_batched" -> sqlRecursiveBatched,
    "r5_pivot_multi" -> r5PivotMulti,
    "sql_lateral" -> sqlLateral,
    "set_ops_all_multiset" -> setOpsAllMultiset,
    "sql_cube" -> sqlCube)

  val oracles: Map[String, String] = Map(
    "sql_subqueries" ->
      """SELECT c_mktsegment, count(*) AS n_rich_active
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                          / count(*) FROM customer)
        |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "set_ops_customer_orders" ->
      """SELECT 'no_orders' AS tag, count(*) AS n
        |FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'with_orders', count(*)
        |FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |ORDER BY tag""".stripMargin,
    "sql_pivot" ->
      """SELECT year(o_orderdate) AS o_year, o_orderstatus AS status,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY 1, 2 ORDER BY o_year, status""".stripMargin,
    "sql_recursive" ->
      """WITH RECURSIVE m AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |seq AS (SELECT yr, rev, row_number() OVER (ORDER BY yr) AS k FROM m),
        |r AS (
        |  SELECT k, yr, rev, CAST(100.0 AS DOUBLE) AS idx FROM seq WHERE k = 1
        |  UNION ALL
        |  SELECT seq.k, seq.yr, seq.rev, r.idx * (seq.rev / r.rev)
        |  FROM seq JOIN r ON seq.k = r.k + 1)
        |SELECT yr, rev, round(idx, 6) AS growth_index FROM r ORDER BY yr""".stripMargin,
    // plain sequential recursion — the batched engine fold reproduces
    // its multiply association exactly (see sqlRecursiveBatched doc)
    "sql_recursive_batched" ->
      """WITH RECURSIVE m AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(month(o_orderdate) AS BIGINT) AS mo,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1, 2),
        |seq AS (SELECT yr, mo, rev,
        |               row_number() OVER (ORDER BY yr, mo) AS k FROM m),
        |r AS (
        |  SELECT k, yr, mo, rev, CAST(100.0 AS DOUBLE) AS idx FROM seq WHERE k = 1
        |  UNION ALL
        |  SELECT s.k, s.yr, s.mo, s.rev, r.idx * (s.rev / r.rev)
        |  FROM seq s JOIN r ON s.k = r.k + 1)
        |SELECT yr, mo, rev,
        |       CASE WHEN k = 1 THEN CAST(100.0 AS DOUBLE)
        |            ELSE round(idx, 6) END AS growth_index
        |FROM r ORDER BY yr, mo""".stripMargin,
    "r5_pivot_multi" ->
      """SELECT year(o_orderdate) AS o_year,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS F_rev,
        |       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F_n,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS O_rev,
        |       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O_n,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS P_rev,
        |       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P_n
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,
    "sql_lateral" ->
      """SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, acctbal DESC, t.c_name""".stripMargin,
    "set_ops_all_multiset" ->
      """WITH a AS (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 0),
        |b AS (SELECT l_partkey FROM lineitem WHERE l_quantity > 25),
        |ia AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_intersect_all
        |  FROM (SELECT l_partkey FROM a INTERSECT ALL
        |        SELECT l_partkey FROM b)
        |  GROUP BY 1),
        |ea AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_except_all
        |  FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
        |  GROUP BY 1)
        |SELECT coalesce(ia.l_partkey, ea.l_partkey) AS l_partkey,
        |       coalesce(ia.n_intersect_all, 0) AS n_intersect_all,
        |       coalesce(ea.n_except_all, 0) AS n_except_all
        |FROM ia FULL OUTER JOIN ea ON ia.l_partkey = ea.l_partkey
        |ORDER BY n_intersect_all DESC, n_except_all DESC, l_partkey
        |LIMIT 50""".stripMargin,
    "sql_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
        |         AS gid,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status NULLS FIRST, priority NULLS FIRST""".stripMargin)
}
