package graft

import org.apache.spark.sql.functions._
import graft.operators.AnalyticsQueries

/** Invariant pins for HLL set algebra beyond the oracle hash. */
class TrainingData68Spec extends SparkTestBase {

  test("sketch union is merge-associative: pair union estimate equals a directly-built union sketch") {
    val out = SparkEntry.queries("a_hll_set_algebra")(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild each pair's union segment DIRECTLY (rows of both groups
    // sketched as one) through the registered estimator DAG — the
    // register-wise max merge must land the identical estimate, the
    // semilattice property that lets 1000 executors sketch shards
    // independently and combine
    val base = AnalyticsQueries.hllBase(spark, sf)
      .select(col("grp"), col("reg"), col("rnk")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    def direct(groups: Set[String]): Double = {
      val regs = Array.fill(64)(0)
      base.filter(t => groups.contains(t._1))
        .foreach { case (_, reg, rnk) => regs(reg) = math.max(regs(reg), rnk) }
      var z = 0.0
      (0 until 64).foreach(j => z += math.pow(0.5, regs(j).toDouble))
      val v = regs.count(_ == 0)
      val alpha = 0.7213 / (1.0 + 1.079 / 64)
      val raw = alpha * 4096.0 / z
      val e = if (raw <= 160.0 && v > 0) 64.0 * math.log(64.0 / v) else raw
      BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getAs[Double]("est_union") == direct(Set(a, b)),
        s"union sketch must equal the directly-built sketch for ($a, $b)")
      // inclusion–exclusion consistency: est_intersect was derived
      // from the three estimates
      assert(math.abs(r.getAs[Double]("est_intersect") -
        BigDecimal(direct(Set(a)) + direct(Set(b)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble +
        direct(Set(a, b))) < 2e-5)
      // sanity: exact counts obey set algebra exactly
      val (na, nb, nu) = (r.getAs[Long]("n_exact_a"),
        r.getAs[Long]("n_exact_b"), r.getAs[Long]("n_exact_union"))
      assert(nu <= na + nb && nu >= math.max(na, nb))
    }
  }
}
