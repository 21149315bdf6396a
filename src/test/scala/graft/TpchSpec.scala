package graft

import org.apache.spark.sql.functions._


/** Semantic checks for the TPC-H-shape queries (the DuckDB oracle
  * checks cross-engine equivalence; these check the business math).
  */
class TpchSpec extends SparkTestBase {
  import spark.implicits._

  test("q14: promo share is a percentage of the month's revenue") {
    val (pct, n) = SparkEntry.queries("q14_promo_ratio")(spark, sf)
      .as[(Double, Long)].head()
    assert(n > 0 && pct >= 0.0 && pct <= 100.0)
  }

  test("q10: top-20 returned revenue is rank-ordered") {
    val r = SparkEntry.queries("q10_returned_revenue")(spark, sf)
      .select("revenue").as[Double].collect()
    assert(r.nonEmpty && r.length <= 20)
    assert(r.zip(r.tail).forall { case (a, b) => a >= b })
  }

  test("q15: winners all share the exact maximum revenue") {
    val r = SparkEntry.queries("q15_top_supplier")(spark, sf)
      .select("total_revenue").as[Double].collect()
    assert(r.nonEmpty && r.toSet.size == 1)
  }

  test("q18: every large order's quantity exceeds the threshold") {
    val r = SparkEntry.queries("q18_large_orders")(spark, sf)
      .select("sum_qty").as[Double].collect()
    r.foreach(q => assert(q > 300.0))
  }

  test("q22: idle customers have no orders and above-average balance") {
    val total = SparkEntry.queries("q22_idle_customers")(spark, sf)
      .agg(sum($"n_customers")).as[Option[Long]].head().getOrElse(0L)
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val avg = c.filter($"c_acctbal" > 0)
      .agg(sum($"c_acctbal".cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as[Double].head()
    val expected = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .filter($"c_acctbal" > avg).count()
    assert(total == expected)
  }
}
