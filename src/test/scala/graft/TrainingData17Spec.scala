package graft


/** Invariant pins for the round-9 batch-14 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData17Spec extends SparkTestBase {

  test("zonemap prune: sorted layout dominates arrival, accounting exact") {
    val out = SparkEntry.queries("o_zonemap_prune")(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    val total = graft.sources.Tables.table(spark, sf, "lineitem").count()
    val arr = out("arrival"); val srt = out("price_sorted")
    Seq(arr, srt).foreach { r =>
      assert(r.getAs[Long]("n_groups") == 64L)
      assert(r.getAs[Long]("n_skipped") >= 0 &&
        r.getAs[Long]("n_skipped") <= 64L)
      assert(r.getAs[Long]("rows_scanned") <= total)
    }
    // a value-sorted layout can never skip FEWER groups than arrival
    // order on a range predicate over that value
    assert(srt.getAs[Long]("n_skipped") >= arr.getAs[Long]("n_skipped"),
      "sorting by the predicate column concentrates the value range")
    assert(srt.getAs[Long]("rows_scanned") <= arr.getAs[Long]("rows_scanned"))
    // the sorted layout isolates a contiguous band: at most 2 boundary
    // groups beyond the selectivity share survive the skip test
    val sel = graft.sources.Tables.table(spark, sf, "lineitem")
      .filter("l_extendedprice >= 40000.0 AND l_extendedprice <= 50000.0")
      .count()
    val expectedScanned = (sel * 64 + total - 1) / total + 2
    assert(64L - srt.getAs[Long]("n_skipped") <= expectedScanned,
      "sorted zone maps prune to the value band (+boundary groups)")
  }

  test("dp histogram: noise is the declared laplace inverse-cdf draw") {
    val out = SparkEntry.queries("t_dp_histogram")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val noise = r.getAs[Double]("noise")
      assert(math.abs(r.getAs[Double]("released_n") -
        (r.getAs[Long]("true_n") + noise)) < 2e-6,
        "release = true + noise on the 6-dp grid")
      assert(r.getAs[Double]("epsilon") == 0.5)
      // replay the deterministic draw on the driver
      val dgst = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getAs[String]("lang").getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        dgst.map(b => f"$b%02x").mkString.substring(0, 15), 16)
      val c = (h + 0.5) / 1152921504606846976.0 - 0.5
      val want = -2.0 * math.signum(c) * math.log(1.0 - 2.0 * math.abs(c))
      assert(math.abs(noise - want) < 1e-5,
        s"noise $noise must equal the md5 inverse-CDF draw $want")
    }
  }
}
