package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-45 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData50Spec extends SparkTestBase {

  test("t-closeness: bounded EMD, masses partition the corpus") {
    val out = SparkEntry.queries("t_t_closeness")(spark, sf).collect()
    assert(out.nonEmpty)
    val n = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == n)
    out.foreach { r =>
      val t = r.getAs[Double]("t_closeness")
      // ordered EMD over a 10-bucket simplex is in [0, 1]
      assert(t >= 0.0 && t <= 1.0 + 1e-9)
      assert(r.getAs[Boolean]("breach") == (t > 0.3) ||
        math.abs(t - 0.3) < 1e-6)
    }
  }

  test("partial correlation: bounded, collapses when z explains all") {
    val out = SparkEntry.queries("a_partial_corr")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    Seq("r_xy", "r_xz", "r_yz", "partial_r_xy_given_z").foreach { c =>
      assert(math.abs(r.getAs[Double](c)) <= 1.0 + 1e-6, c)
    }
    // recompose: partial from the three raw correlations
    val rxy = r.getAs[Double]("r_xy"); val rxz = r.getAs[Double]("r_xz")
    val ryz = r.getAs[Double]("r_yz")
    val want = (rxy - rxz * ryz) /
      math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    assert(math.abs(r.getAs[Double]("partial_r_xy_given_z") - want) < 1e-4)
  }

  test("hurst: sizes present, H in (0,1), mean R/S grows with block size") {
    val out = SparkEntry.queries("w_hurst")(spark, sf)
      .collect().sortBy(_.getAs[Long]("block_size"))
    assert(out.map(_.getAs[Long]("block_size")).toSeq ==
      Seq(16L, 32L, 64L, 128L))
    val h = out.head.getAs[Double]("hurst")
    // all rows carry the same global slope
    assert(out.forall(_.getAs[Double]("hurst") == h))
    assert(h > 0.0 && h < 1.0)
    // R/S grows with block size for any real series
    val rs = out.map(_.getAs[Double]("mean_rs")).toSeq
    assert(rs.zip(rs.tail).forall { case (a, b) => b > a })
    out.foreach(r => assert(r.getAs[Long]("n_blocks") >= 1))
  }
}
