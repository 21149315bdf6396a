package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-37 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData42Spec extends SparkTestBase {

  test("pacf: lag-1 equals acf-1, all bounded, driver DL replay") {
    val out = SparkEntry.queries("w_pacf")(spark, sf).collect()
    assert(out.length == 7)
    val acf = out.map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    val pacf = out.map(r => r.getAs[Int]("lag") -> r.getAs[Double]("pacf")).toMap
    // φ₁₁ = ρ₁ by definition
    assert(pacf(1) == acf(1))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9)
      // PACF of a stationary series is bounded by 1 (loose pin: the
      // sample estimator can exceed marginally only on degenerate data)
      assert(math.abs(r.getAs[Double]("pacf")) <= 1.0 + 1e-6)
    }
    // driver-side Durbin–Levinson from the emitted ACF replays PACF
    val rho = (1 to 7).map(acf).toArray
    val phi = Array.ofDim[Double](8, 8)
    phi(1)(1) = rho(0)
    for (k <- 2 to 7) {
      val num = rho(k - 1) - (1 until k).map(j => phi(k - 1)(j) * rho(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => phi(k - 1)(j) * rho(j - 1)).sum
      phi(k)(k) = num / den
      for (j <- 1 until k) phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
    }
    // rounded inputs → tolerance, not bit-equality (the oracle pins bits)
    (1 to 7).foreach(k => assert(math.abs(pacf(k) - phi(k)(k)) < 1e-3,
      s"DL replay at lag $k"))
  }

  test("pq subspace audit: 8 subspaces, bounded shares, code budget") {
    val out = SparkEntry.queries("e_pq_subspace_audit")(spark, sf).collect()
    assert(out.length == 8)
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == nVec)
      val used = r.getAs[Long]("n_codes_used")
      assert(used >= 1 && used <= 16)
      val share = r.getAs[Double]("top_code_share")
      // the hottest code holds at least the uniform share
      assert(share >= 1.0 / 16.0 - 1e-9 && share <= 1.0)
      assert(share >= 1.0 / used.toDouble - 1e-6)
      assert(r.getAs[Double]("mean_dist") >= 0.0)
      val tc = r.getAs[Long]("top_code")
      assert(tc >= 1 && tc <= 16)
    }
  }

  test("langid confusion: margins conserve the corpus, f1 is the harmonic mean") {
    val out = SparkEntry.queries("t_langid_confusion")(spark, sf).collect()
    assert(out.nonEmpty)
    val n = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_actual")).sum == n)
    assert(out.map(_.getAs[Long]("n_predicted")).sum == n)
    out.foreach { r =>
      val tp = r.getAs[Long]("tp")
      assert(tp <= math.min(r.getAs[Long]("n_actual"), r.getAs[Long]("n_predicted")))
      val p = Option(r.getAs[java.lang.Double]("precision")).map(_.toDouble)
      val rc = Option(r.getAs[java.lang.Double]("recall")).map(_.toDouble)
      val f1 = Option(r.getAs[java.lang.Double]("f1")).map(_.toDouble)
      (p, rc, f1) match {
        case (Some(pp), Some(rr), Some(ff)) =>
          val want = 2.0 * tp.toDouble /
            (r.getAs[Long]("n_predicted") + r.getAs[Long]("n_actual"))
          assert(math.abs(ff - want) < 1e-6)
          assert(pp >= 0.0 && pp <= 1.0 && rr >= 0.0 && rr <= 1.0)
        case _ => ()
      }
    }
  }
}
