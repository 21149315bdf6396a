package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-22 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData27Spec extends SparkTestBase {

  test("ivm delta: maintained view equals direct recompute everywhere") {
    val out = SparkEntry.queries("w_ivm_delta")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("ivm_matches_direct")),
      "insert+retract merge must reproduce the recomputed view bit-exactly")
    // the maintained view genuinely differs from the base view:
    // inserts and deletes both land
    val o = graft.sources.Tables.table(spark, sf, "orders")
    val nBase = o.filter(col("o_orderkey") % 10 < 8).count()
    val nDel = o.filter(col("o_orderkey") % 10 < 8 &&
      substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0").count()
    val nIns = o.filter(col("o_orderkey") % 10 >= 8).count()
    assert(nDel > 0 && nIns > 0, "the change batch exercises both signs")
    assert(out.map(_.getAs[Long]("n_orders")).sum == nBase - nDel + nIns)
  }

  test("max drawdown: matches a driver replay of the deviation series") {
    val r = SparkEntry.queries("w_max_drawdown")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      .orderBy(col("day")).collect()
      .map(x => (x.getDate(0), x.getLong(1)))
    val n = daily.length.toLong
    assert(row.getAs[Long]("n_days") == n)
    val total = daily.map(_._2).sum
    var cum = BigInt(0); var peak = BigInt(Long.MinValue)
    var bestDd = BigInt(-1); var bestDay: java.sql.Date = null
    daily.foreach { case (day, rev) =>
      cum += BigInt(rev) * n - total
      if (cum > peak) peak = cum
      val dd = peak - cum
      if (dd > bestDd) { bestDd = dd; bestDay = day }
    }
    assert(row.getAs[java.sql.Date]("trough_day") == bestDay)
    val expect = (bestDd / n).toLong * 10000L / 1e6
    assert(row.getAs[Double]("max_drawdown") == expect)
    assert(row.getAs[Double]("max_drawdown") >= 0.0)
    assert(row.getAs[Double]("peak_dev") >= 0.0)
  }
}
