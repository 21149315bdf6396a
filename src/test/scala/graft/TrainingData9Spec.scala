package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-5 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData9Spec extends SparkTestBase {

  test("rocchio: dense re-ranked top-5, self excluded, ranks well-formed") {
    val out = SparkEntry.queries("sim_rocchio_prf")(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Int]("rk_prf")).sorted.toSeq == (1 to 5))
      assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 5)
      rows.foreach { r =>
        assert(r.getAs[Long]("doc_id") != qid, "self stays excluded")
        val ri = r.getAs[Int]("rk_init")
        assert(ri == -1 || (ri >= 1 && ri <= 5))
        val c = r.getAs[Double]("cos_prf")
        // q' = q + 0.75·centroid is NOT unit-norm, but cosine still is
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
    }
  }

  test("local clustering: coefficients in [0,1], triangles within wedges") {
    val out = SparkEntry.queries("g_local_clustering")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val deg = r.getAs[Long]("deg"); val tri = r.getAs[Long]("tri")
      assert(deg >= 3, "knn symmetric closure keeps degree >= 3")
      assert(tri <= deg * (deg - 1) / 2, "triangles bounded by wedge pairs")
      val lcc = r.getAs[Double]("lcc")
      assert(lcc >= 0.0 && lcc <= 1.0 + 1e-9)
    }
  }

  test("seasonal decompose: additive identity, centered seasonal, edge nulls") {
    val out = SparkEntry.queries("w_seasonal_decompose")(spark, sf).collect()
    assert(out.nonEmpty)
    // the 7 distinct seasonal values re-center to zero
    val seasonal = out.filter(!_.isNullAt(3)).map(_.getAs[Double]("seasonal"))
    assert(math.abs(seasonal.distinct.sum) < 1e-3,
      "dow seasonal components sum to ~0 after centering")
    out.filter(r => !r.isNullAt(2)).foreach { r =>
      val rev = r.getAs[Double]("revenue"); val t = r.getAs[Double]("trend")
      val sv = r.getAs[Double]("seasonal"); val res = r.getAs[Double]("residual")
      assert(math.abs(rev - t - sv - res) < 5e-6,
        "revenue = trend + seasonal + residual (up to output rounding)")
    }
    // first/last 3 days of each year have no full 7-day window
    val byYear = out.groupBy(r =>
      r.getAs[java.time.LocalDateTime]("day").getYear)
    byYear.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[java.time.LocalDateTime]("day").toString)
      (sorted.take(3) ++ sorted.takeRight(3)).foreach(r =>
        assert(r.isNullAt(2), "year-edge trend must be NULL"))
      if (sorted.length > 6)
        assert(!sorted(3).isNullAt(2), "interior trend must be defined")
    }
  }

  test("path mining: valid trigrams over the event alphabet, ordered counts") {
    val out = SparkEntry.queries("ev_path_mining")(spark, sf).collect()
    assert(out.length <= 20)
    val types = Set("signup", "error", "click", "view", "purchase")
    out.foreach { r =>
      val parts = r.getAs[String]("path").split(" ")
      assert(parts.length == 3 && parts.forall(types),
        s"path '${r.getAs[String]("path")}' must be an event-type trigram")
      assert(r.getAs[Long]("n_paths") >= 1)
    }
    val counts = out.map(_.getAs[Long]("n_paths"))
    counts.zip(counts.drop(1)).foreach { case (a, b) => assert(b <= a) }
  }

  test("ltv cohort: cumulative is non-decreasing, conserves purchase revenue") {
    val out = SparkEntry.queries("ev_ltv_cohort")(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[java.sql.Date]("cohort")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("week_offset"))
      val cums = sorted.map(_.getAs[Double]("cum_ltv_per_user"))
      cums.zip(cums.drop(1)).foreach { case (a, b) =>
        assert(b >= a - 1e-9, "cumulative LTV cannot fall") }
      val n = sorted.head.getAs[Long]("n_users")
      val total = sorted.map(_.getAs[Double]("revenue")).sum
      assert(math.abs(cums.last * n - total) < 1e-4,
        "final cumulative x cohort size equals the cohort's revenue")
    }
    // revenue conservation: only post-signup purchases by signed-up users
    val ev = graft.sources.Tables.table(spark, sf, "events")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
    val eligible = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    assert(math.abs(out.map(_.getAs[Double]("revenue")).sum - eligible) < 1e-6)
  }
}
