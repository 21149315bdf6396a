package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-29 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData34Spec extends SparkTestBase {

  test("GARCH: driver replay of the (r, sigma2) recursion per year") {
    val out = SparkEntry.queries("w_garch_filter")(spark, sf).collect()
    assert(out.nonEmpty)
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("string").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        / 1000000.0).as("x"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      .sortBy(_._1)
    val expect = daily.groupBy(_._1.take(4)).values.flatMap { days =>
      var xprev = 0.0; var r = 0.0; var s2 = 0.0
      days.zipWithIndex.flatMap { case ((day, x), i) =>
        if (i == 0) { xprev = x; r = 0.0; s2 = 0.04; None }
        else {
          val rNew = (x - xprev) / xprev
          val s2New = 0.000005 + 0.1 * (r * r) + 0.85 * s2
          xprev = x; r = rNew; s2 = s2New
          Some((day, rNew, s2New, rNew / math.sqrt(s2New)))
        }
      }
    }.toSeq.sortBy(_._1)
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (row, (day, r, s2, z)) =>
      assert(row.getAs[Any]("day").toString.take(10) == day.take(10))
      assert(row.getAs[Double]("ret") == r)
      assert(row.getAs[Double]("sigma2") == s2)
      assert(row.getAs[Double]("std_resid") == z)
      assert(s2 > 0.0)
    }
  }

  test("negbin fit: zeros-included moments replay; Poisson bound") {
    val out = SparkEntry.queries("a_negbin_fit")(spark, sf).collect()
    assert(out.nonEmpty)
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nu = ev.map(_._2).distinct.length.toLong
    val byType = ev.groupBy(_._1)
    assert(out.length == byType.size)
    out.foreach { row =>
      val et = row.getAs[String]("event_type")
      val counts = byType(et).groupBy(_._2).map(_._2.length.toLong).toSeq
      assert(row.getAs[Long]("n_active") == counts.length.toLong)
      assert(row.getAs[Long]("n_users") == nu)
      val n = nu.toDouble
      val s1 = counts.sum.toDouble
      val s2 = counts.map(c => c.toDouble * c).sum
      val m = s1 / n
      val v = (s2 - s1 * s1 / n) / (n - 1.0)
      assert(math.abs(row.getAs[Double]("mean") - m) < 1e-5)
      assert(math.abs(row.getAs[Double]("variance") - v) < 1e-4)
      assert(row.getAs[Boolean]("overdispersed") == (v > m))
      if (v > m) {
        assert(math.abs(row.getAs[Double]("nb_r") - m * m / (v - m)) < 1e-3)
        assert(math.abs(row.getAs[Double]("nb_p") - m / v) < 1e-6)
        assert(row.getAs[Double]("nb_p") > 0.0 && row.getAs[Double]("nb_p") < 1.0)
      }
    }
  }

  test("DoReMi step: weights stay a distribution; hard domains gain") {
    val out = SparkEntry.queries("t_doremi_mixture")(spark, sf).collect()
    assert(out.length > 1)
    val wBefore = out.map(_.getAs[Double]("weight_before")).sum
    val wAfter = out.map(_.getAs[Double]("weight_after")).sum
    // both weight vectors sum to 1 (up to the 6-dp rounding of G rows)
    assert(math.abs(wBefore - 1.0) < 1e-4)
    assert(math.abs(wAfter - 1.0) < 1e-4)
    // the EG step preserves order: for two domains with equal
    // baseline, the harder one (higher NLL) must gain more
    val rows = out.toSeq.map(r => (r.getAs[Double]("mean_nll"),
      r.getAs[Double]("weight_before"), r.getAs[Double]("weight_after")))
    rows.combinations(2).foreach { case Seq((n1, b1, a1), (n2, b2, a2)) =>
      if (math.abs(b1 - b2) < 1e-9 && n1 > n2 + 1e-9) assert(a1 >= a2)
    }
    // ratio consistency: a_d / b_d proportional to exp(0.5 nll_d)
    // ⇒ log(a/b) − 0.5·nll constant across domains (up to rounding)
    val consts = rows.filter(r => r._2 > 1e-6 && r._3 > 1e-6)
      .map { case (nll, b, a) => math.log(a / b) - 0.5 * nll }
    assert(consts.max - consts.min < 1e-2)
  }
}
