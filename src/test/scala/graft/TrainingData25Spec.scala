package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-20 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData25Spec extends SparkTestBase {

  test("systematic sample: fixed rate, full stratum coverage accounting") {
    val out = SparkEntry.queries("o_systematic_sample")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val nPop = out.map(_.getAs[Long]("n_pop")).sum
    val nSam = out.map(_.getAs[Long]("n_sample")).sum
    val k = out.head.getAs[Long]("step_k")
    // every k-th from offset 0 takes exactly ceil(n/k) rows
    assert(nSam == (nPop + k - 1) / k, s"sample size at step $k")
    assert(math.abs(out.map(_.getAs[Double]("pop_share")).sum - 1.0) < 1e-4)
    assert(math.abs(out.map(_.getAs[Double]("sample_share")).sum - 1.0) < 2e-2)
    // hash-order systematic sampling keeps strata near-proportional:
    // each share within 15 points on this corpus
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("pop_share") -
        r.getAs[Double]("sample_share")) < 0.15,
        s"${r.getAs[String]("o_orderpriority")} aliased by the step")
    }
  }

  test("tail index: Hill estimator matches a driver replay of top-65") {
    val r = SparkEntry.queries("a_tail_index")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val xs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("n_chars").cast("long"), col("doc_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
      .sortBy { case (x, id) => (-x, id) }.take(65)
    val xk1 = xs.last._1
    assert(row.getAs[Long]("x_threshold") == xk1)
    val lnsum = xs.take(64).map(x => math.log(x._1.toDouble / xk1)).sum
    assert(math.abs(row.getAs[Double]("ln_ratio_sum") - lnsum) < 1e-4)
    val alpha = 64.0 / lnsum
    assert(math.abs(row.getAs[Double]("hill_alpha") - alpha) < 1e-4)
    assert(alpha > 0.0, "lengths above the threshold have positive ln ratios")
  }
}
