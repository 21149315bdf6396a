package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-3 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData7Spec extends SparkTestBase {

  test("markov stationary: probability vector, fixpoint of the chain") {
    val out = SparkEntry.queries("ev_markov_stationary")(spark, sf).collect()
    assert(out.length >= 2, "at least two event types transition")
    val pi = out.map(r => r.getAs[String]("state") ->
      r.getAs[Double]("p_stationary")).toMap
    assert(math.abs(pi.values.sum - 1.0) < 1e-4,
      "a stochastic update preserves sum-to-1 (up to rounding)")
    assert(math.abs(out.map(_.getAs[Double]("p_empirical")).sum - 1.0) < 1e-4)
    // fixpoint: one more application of the transition matrix moves
    // nothing (the chain mixes long before 20 steps)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val p = graft.sources.Tables.table(spark, sf, "events")
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("c")).collect()
    val rowTot = p.groupBy(_.getAs[String]("cur"))
      .view.mapValues(_.map(_.getAs[Long]("c")).sum).toMap
    val stepped = p.groupBy(_.getAs[String]("nxt")).map { case (nxt, rows) =>
      nxt -> rows.map(r => pi(r.getAs[String]("cur")) *
        r.getAs[Long]("c").toDouble / rowTot(r.getAs[String]("cur"))).sum
    }
    stepped.foreach { case (state, mass) =>
      assert(math.abs(mass - pi(state)) < 0.01,
        s"pi is not a fixpoint at $state: $mass vs ${pi(state)}")
    }
  }

  test("kmv jaccard: estimates bounded, sketch tracks exact similarity") {
    val out = SparkEntry.queries("a_kmv_jaccard")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val je = r.getAs[Double]("j_exact"); val js = r.getAs[Double]("j_est")
      assert(je > 0.0 && je <= 1.0 && js >= 0.0 && js <= 1.0)
      assert(r.getAs[Long]("inter") <=
        math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
    }
    val meanErr = out.map(_.getAs[Double]("abs_err")).sum / out.length
    assert(meanErr < 0.25,
      s"k=16 KMV should track exact Jaccard; mean |err| = $meanErr")
  }

  test("pca power: unit-norm component, positive spectrum bounds") {
    val out = SparkEntry.queries("e_pca_power")(spark, sf).collect()
    assert(out.length == 64, "one loading per embedding dimension")
    val norm = out.map(r => math.pow(r.getAs[Double]("loading"), 2)).sum
    assert(math.abs(norm - 1.0) < 1e-4, s"||v||^2 = $norm must be 1")
    val lam = out.head.getAs[Double]("eigenvalue")
    val er = out.head.getAs[Double]("explained_ratio")
    assert(lam > 0.0, "Gram matrices are PSD")
    assert(er > 0.0 && er <= 1.0 + 1e-9, "lambda cannot exceed the trace")
    assert(out.map(_.getAs[Int]("dim")).toSeq == (1 to 64))
  }

  test("partition skew: skew >= 1, balance in (0, 1], corpus conserved") {
    val out = SparkEntry.queries("o_partition_skew")(spark, sf).collect()
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    out.foreach { r =>
      assert(r.getAs[Double]("skew_factor") >= 1.0 - 1e-9,
        "max cell is at least the mean cell")
      val b = r.getAs[Double]("balance")
      assert(b > 0.0 && b <= 1.0 + 1e-9,
        "entropy is bounded by ln(cells)")
      assert(r.getAs[Long]("max_cell") <= r.getAs[Long]("n_docs"))
    }
  }
}
