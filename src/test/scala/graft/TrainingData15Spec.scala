package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-12 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData15Spec extends SparkTestBase {

  test("diff-in-diff: cells partition the orders, estimator recomposes") {
    val r = SparkEntry.queries("a_diff_in_diff")(spark, sf).collect().head
    val total = graft.sources.Tables.table(spark, sf, "orders").count()
    val ns = Seq("n_treat_pre", "n_treat_post", "n_ctrl_pre", "n_ctrl_post")
      .map(r.getAs[Long])
    assert(ns.sum == total, "the 2x2 cells partition the order panel")
    assert(ns.forall(_ > 0), "every cell populated on this panel")
    val did = (r.getAs[Double]("mean_treat_post") -
      r.getAs[Double]("mean_treat_pre")) -
      (r.getAs[Double]("mean_ctrl_post") - r.getAs[Double]("mean_ctrl_pre"))
    assert(math.abs(r.getAs[Double]("did") - did) < 5e-6,
      "did equals the four-mean contrast (6-dp grid)")
  }

  test("hashed features: conservation and collision accounting") {
    val out = SparkEntry.queries("t_hashed_features")(spark, sf).collect()
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    assert(out.length == docs.count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_nonzero") <= 64L, "64 feature buckets")
      assert(r.getAs[Long]("n_nonzero") <= r.getAs[Long]("n_distinct"))
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("top_bucket") >= 0 &&
        r.getAs[Long]("top_bucket") < 64)
      // L2² of the bucket vector is at least the balanced lower bound
      // (Cauchy-Schwarz: sum² / nnz) and at most the all-in-one upper
      val nt = r.getAs[Long]("n_tokens"); val l2 = r.getAs[Long]("l2_sq")
      assert(l2 <= nt * nt)
      assert(l2 * r.getAs[Long]("n_nonzero") >= nt * nt,
        "Cauchy-Schwarz lower bound on the count vector")
      assert(r.getAs[Long]("top_count") * r.getAs[Long]("top_count") <= l2)
    }
  }

  test("ljung-box: rhos bounded, statistic recomposes, lag-0 sanity") {
    val r = SparkEntry.queries("w_ljung_box")(spark, sf).collect().head
    val n = r.getAs[Long]("n_days").toDouble
    val rhos = (1 to 7).map(k => r.getAs[Double](s"rho$k"))
    rhos.foreach(rho => assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9))
    val q = (1 to 7).map(k => rhos(k - 1) * rhos(k - 1) / (n - k)).sum *
      (n * (n + 2.0))
    // recompose on the 6-dp grid: each rho is rounded, so allow the
    // propagated rounding slack (|dQ| <= n(n+2)·Σ 2|rho|·5e-7/(n-k))
    assert(math.abs(r.getAs[Double]("q_stat") - q) <
      n * (n + 2) * 7 * 1e-6 / (n - 7) + 1e-6)
    assert(r.getAs[Long]("dof") == 7L)
  }
}
