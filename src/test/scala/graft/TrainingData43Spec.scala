package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-38 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData43Spec extends SparkTestBase {

  test("entropy rate: information inequalities hold") {
    val out = SparkEntry.queries("ev_entropy_rate")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val hm = r.getAs[Double]("h_marginal")
    val hc = r.getAs[Double]("h_conditional")
    val gain = r.getAs[Double]("predictability_gain")
    // conditioning never increases entropy; 5 states bound ln(5)
    assert(hc <= hm + 1e-9)
    assert(hm <= math.log(5.0) + 1e-9)
    assert(hc >= 0.0 && hm >= 0.0)
    assert(math.abs(gain - (hm - hc)) < 2e-6)
    assert(r.getAs[Long]("n_transitions") > 0)
  }

  test("burstiness: content words above function words, driver replay") {
    val out = SparkEntry.queries("t_term_burstiness")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val bs = out.map(_.getAs[Double]("burstiness")).toSeq
    assert(bs.zip(bs.tail).forall { case (a, b) => a >= b })
    // driver replay for the top term
    val top = out.head.getAs[String]("term")
    val tfs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") === top)
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("tf"))
      .collect().map(_.getAs[Long]("tf"))
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    val mean = tfs.sum.toDouble / nDocs
    val vr = tfs.map(t => t.toDouble * t).sum / nDocs - mean * mean
    assert(math.abs(out.head.getAs[Double]("burstiness") - vr / mean) < 1e-4)
    assert(out.head.getAs[Long]("df") == tfs.length.toLong)
    // burstiness of a df>=5 term is strictly positive on finite data
    assert(bs.last > 0.0)
  }

  test("beta posterior: shrinkage toward 1/2, CI brackets the mean") {
    val out = SparkEntry.queries("a_beta_posterior")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val raw = r.getAs[Double]("raw_share")
      val post = r.getAs[Double]("posterior_mean")
      // Jeffreys shrinks toward 1/2: posterior sits between raw and 0.5
      assert((post - raw) * (0.5 - raw) >= -1e-9)
      assert(math.abs(post - raw) <= math.abs(0.5 - raw) + 1e-9)
      assert(r.getAs[Double]("ci_lo") <= post + 1e-9)
      assert(r.getAs[Double]("ci_hi") >= post - 1e-9)
      assert(r.getAs[Long]("n_users_with") <= r.getAs[Long]("n_users"))
    }
  }
}
