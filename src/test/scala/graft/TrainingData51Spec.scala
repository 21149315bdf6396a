package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-46 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData51Spec extends SparkTestBase {

  test("tail dependence: conditionals bounded by their margins") {
    val out = SparkEntry.queries("a_tail_dependence")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_both_hi") <= r.getAs[Long]("n_x_hi"))
    assert(r.getAs[Long]("n_both_lo") <= r.getAs[Long]("n_x_lo"))
    Option(r.getAs[java.lang.Double]("lambda_upper")).foreach { l =>
      assert(l >= 0.0 && l <= 1.0)
    }
    Option(r.getAs[java.lang.Double]("lambda_lower")).foreach { l =>
      assert(l >= 0.0 && l <= 1.0)
    }
    // roughly 5% of days exceed a 95th percentile
    assert(r.getAs[Long]("n_x_hi") <= r.getAs[Long]("n_days") / 10)
  }

  test("season strength: both F in [0,1], seasonal beats trendless resid") {
    val out = SparkEntry.queries("w_season_strength")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val fs = r.getAs[Double]("f_seasonal")
    val ft = r.getAs[Double]("f_trend")
    assert(fs >= 0.0 && fs <= 1.0)
    assert(ft >= 0.0 && ft <= 1.0)
    assert(r.getAs[Long]("n_days_used") > 0)
    // consistency with the registered decomposition's row count
    val rows = SparkEntry
      .queries("w_seasonal_decompose")(spark, sf)
      .filter(col("residual").isNotNull).count()
    assert(r.getAs[Long]("n_days_used") == rows)
  }

  test("rich club: monotone shrinking club, phi bounded by 1") {
    val out = SparkEntry.queries("g_rich_club")(spark, sf)
      .collect().sortBy(_.getAs[Long]("k"))
    assert(out.nonEmpty)
    val ns = out.map(_.getAs[Long]("n_rich")).toSeq
    // raising the degree bar never grows the club
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    out.foreach { r =>
      Option(r.getAs[java.lang.Double]("phi")).foreach { p =>
        assert(p >= 0.0 && p <= 1.0 + 1e-9)
      }
      // an undirected edge needs two club members
      if (r.getAs[Long]("n_rich") < 2)
        assert(r.getAs[Long]("n_und_edges") == 0)
    }
  }
}
