package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-34 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData39Spec extends SparkTestBase {

  test("intrinsic dim: positive, finite, bounded by ambient dimension era") {
    val out = SparkEntry.queries("e_intrinsic_dim")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    assert(r.getAs[Long]("n_vectors") == nVec)
    assert(r.getAs[Long]("n_used") > 0 && r.getAs[Long]("n_used") <= nVec)
    val dim = r.getAs[Double]("dim_mle")
    // a sane MLE on real vectors: strictly positive and finite; the
    // estimator can exceed the ambient dim on tiny k, so pin a loose
    // ceiling only
    assert(dim > 0.0 && dim < 1000.0)
  }

  test("ndcg: bounded by 1, consistent with hit counts") {
    val out = SparkEntry.queries("sim_ndcg")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 10)
    out.foreach { r =>
      val n = r.getAs[Long]("n_hits")
      val ndcg = r.getAs[Double]("ndcg_at_5")
      assert(n >= 0 && n <= 5)
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      // zero hits ⇒ zero ndcg; full ordered hits ⇒ 1
      if (n == 0) assert(ndcg == 0.0)
      if (ndcg >= 1.0 - 1e-9) assert(n >= 1)
    }
    // ndcg never exceeds recall-derived upper bound: with h hits the
    // best DCG places them at ranks 1..h
    out.foreach { r =>
      val h = r.getAs[Long]("n_hits").toInt
      val best = (1 to h).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
      val idcg = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
      assert(r.getAs[Double]("ndcg_at_5") <= best / idcg + 1e-6)
    }
  }

  test("centroid drift: bounded, halves partition each label") {
    val out = SparkEntry.queries("e_centroid_drift")(spark, sf).collect()
    assert(out.nonEmpty)
    val byLabel = graft.sources.Tables.table(spark, sf, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("ne"),
        sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("no"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    out.foreach { r =>
      val (ne, no) = byLabel(r.getAs[Long]("label"))
      assert(r.getAs[Long]("n_even") == ne)
      assert(r.getAs[Long]("n_odd") == no)
      val drift = r.getAs[Double]("drift")
      // cosine distance is in [0, 2]; same-label halves should not be
      // antipodal
      assert(drift >= -1e-9 && drift <= 2.0)
    }
  }
}
