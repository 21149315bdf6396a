package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-10 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData13Spec extends SparkTestBase {

  test("viterbi burst: emitted path prices to its cost and beats all-base") {
    val out = SparkEntry.queries("w_viterbi_burst")(spark, sf).collect()
    assert(out.nonEmpty)
    val nDays = graft.sources.Tables.table(spark, sf, "orders")
      .select(to_date(col("o_orderdate"))).distinct().count()
    assert(out.length == nDays, "one labeled row per order day")
    assert(out.forall(r => Set(0, 1)(r.getAs[Int]("burst"))))
    // re-price each year's emitted state sequence: emission + switch
    // costs (entering state 1 at t=0 pays the switch too) must equal
    // the reported path_cost, and must not exceed the all-base path
    out.groupBy(r => r.getAs[java.sql.Date]("day").toLocalDate.getYear)
      .foreach { case (_, rows) =>
        val seq = rows.sortBy(_.getAs[java.sql.Date]("day").getTime)
        val med2 = math.round(seq.head.getAs[Double]("base_rate") * 2.0)
        var cost = 0L; var prev = 0
        seq.foreach { r =>
          val x = r.getAs[Long]("n_orders"); val st = r.getAs[Int]("burst")
          if (st != prev) cost += med2
          cost += math.abs(2 * x - (if (st == 1) 2 * med2 else med2))
          prev = st
        }
        assert(cost == seq.head.getAs[Long]("path_cost"),
          "re-priced emitted sequence equals the DP's reported cost")
        val allBase = seq.map(r =>
          math.abs(2 * r.getAs[Long]("n_orders") - med2)).sum
        assert(cost <= allBase, "optimal path never loses to all-base")
      }
  }

  test("capture-recapture: counts consistent, estimate matches formula") {
    val r = SparkEntry.queries("a_capture_recapture")(spark, sf)
      .collect().head
    val n = r.getAs[Long]("n_total"); val n1 = r.getAs[Long]("n1")
    val n2 = r.getAs[Long]("n2"); val m = r.getAs[Long]("m")
    assert(m <= math.min(n1, n2) && n1 <= n && n2 <= n)
    assert(n1 + n2 - m <= n, "union of the two crawls fits the corpus")
    val nHat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    assert(math.abs(r.getAs[Double]("n_hat") - nHat) < 1e-6)
    assert(math.abs(r.getAs[Double]("rel_err") - (nHat - n) / n) < 1e-6)
    // with p=1/2 crawls on hundreds of docs the estimate should land
    // within ±25% of truth (md5 digits are uniform)
    assert(math.abs(nHat - n) / n < 0.25)
  }
}
