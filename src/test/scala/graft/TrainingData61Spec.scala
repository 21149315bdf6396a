package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-10 batch-61 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData61Spec extends SparkTestBase {

  test("banding advisor: s-curve math exact, wider bands catch more of both masses") {
    val out = SparkEntry.queries("dedup_banding_advisor")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(4L, 8L, 16L, 32L))
    out.foreach { case (b, r) =>
      assert(r.getLong(1) == 64L / b)
      val thr = math.pow(1.0 / b.toDouble, (64.0 / b) match {
        case rr => 1.0 / rr
      })
      assert(r.getAs[Double]("threshold_50") ==
        BigDecimal(thr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // more bands (shorter rows) ⇒ catch probability rises POINTWISE
    // at every J, so both expected masses are monotone in b
    val byB = Seq(4L, 8L, 16L, 32L).map(out)
    val recalls = byB.map(_.getAs[Double]("exp_recall_hi"))
    assert(recalls.zip(recalls.tail).forall { case (a, c) => a <= c })
    val lows = byB.map(_.getAs[Double]("exp_catch_lo"))
    assert(lows.zip(lows.tail).forall { case (a, c) => a <= c })
    // pair masses must agree with the registered exact pair op
    val truth = Dedup.ngramJaccardPairs(spark, sf, 3, 0.5)
      .select(col("jaccard")).collect().map(_.getDouble(0))
    val hi = truth.count(j => math.floor(j * 20.0) / 20.0 >= 0.7).toLong
    byB.foreach { r =>
      assert(r.getAs[Long]("n_pairs_hi") == hi)
      assert(r.getAs[Long]("n_pairs_lo") == truth.length - hi)
    }
  }

}
