package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-16 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData21Spec extends SparkTestBase {

  test("changepoint: split maximizes the between-segment score (driver replay)") {
    val out = SparkEntry.queries("w_changepoint_binseg")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // replay one year's argmax from the raw daily series
    val r = out.maxBy(_.getAs[Long]("n_days"))
    val yr = r.getAs[Int]("yr")
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      .orderBy(col("day"))
      .collect().map(x => (x.getDate(0), x.getLong(1)))
    val n = daily.length
    assert(r.getAs[Long]("n_days") == n.toLong)
    val total = daily.map(_._2).sum
    var bestK = 0; var bestV = Double.NegativeInfinity; var sL = 0L
    for (k <- 1 until n) {
      sL += daily(k - 1)._2
      val sR = total - sL
      val v = sL.toDouble * sL / k + sR.toDouble * sR / (n - k)
      if (v > bestV) { bestV = v; bestK = k }
    }
    assert(r.getAs[Long]("n_days_before") == bestK.toLong)
    assert(r.getAs[java.sql.Date]("changepoint_day") == daily(bestK)._1)
    val meanB = daily.take(bestK).map(_._2).sum.toDouble / (100.0 * bestK)
    assert(math.abs(r.getAs[Double]("mean_before") - meanB) < 1e-4)
    assert(r.getAs[Double]("gain") >= 0.0,
      "between-segment score at the argmax is never below the no-split score")
  }

  test("hll: estimate within canonical error bound and merge-exact") {
    val out = SparkEntry.queries("a_hll_registers")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"),
        "max-merged half sketches must reproduce the direct estimate")
      val exact = r.getAs[Long]("n_exact").toDouble
      // 1.04/sqrt(64) = 13% canonical relative error; allow 4 sigma
      assert(r.getAs[Double]("rel_error") < 4 * 1.04 / 8.0,
        s"estimate ${r.getAs[Double]("hll_estimate")} too far from $exact")
      assert(r.getAs[Long]("n_zero_registers") >= 0L)
    }
  }

  test("spatial knn: grid candidates contain the true brute-force top-3") {
    val out = SparkEntry.queries("j_spatial_knn")(spark, sf).collect()
    // brute-force replay over all points for each query
    val denom = 4503599627370496.0
    val hex = md5(col("event_id").cast("string"))
    val pts = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_id"),
        (conv(substring(hex, 1, 13), 16, 10).cast("long").cast("double") /
          denom).as("x"),
        (conv(substring(hex, 14, 13), 16, 10).cast("long").cast("double") /
          denom).as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for (qid <- 0 until 16) {
      val qx = ((qid * 7 % 16) + 0.5) / 16.0
      val qy = ((qid * 11 % 16) + 0.5) / 16.0
      val brute = pts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy(p => (p._2, p._1)).take(3)
      val got = out.filter(_.getAs[Int]("q_id") == qid)
        .sortBy(_.getAs[Int]("rank"))
      // the 3x3 ring always covers a half-cell-radius disk around the
      // query (lattice queries sit at cell centers), so when the true
      // 3rd neighbor is within half a cell, grid == brute exactly
      if (brute.nonEmpty && math.sqrt(brute.last._2) <= 0.5 / 16.0) {
        assert(got.map(_.getAs[Long]("point_id")).toSeq ==
          brute.map(_._1).toSeq, s"query $qid grid/brute mismatch")
      }
      got.foreach(g => assert(g.getAs[Double]("dist") >= 0.0))
    }
  }

  test("join cardinality: FK edges estimate exactly when stats are fresh") {
    val out = SparkEntry.queries("o_join_cardinality_est")(spark, sf)
      .collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getAs[Long]("actual_rows") > 0L)
      assert(r.getAs[Double]("q_error") >= 1.0,
        "q-error is max(actual/est, est/actual) >= 1 by construction")
      // on a clean FK edge (every left key present on the right, right
      // keys unique), |A||B|/max(ndv) = |A| = actual -> q_error == 1
      assert(r.getAs[Double]("q_error") < 1.0001,
        s"${r.getAs[String]("edge")}: fresh-stats FK estimate should be exact")
    }
  }
}
