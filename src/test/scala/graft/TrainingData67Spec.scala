package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the batch-67 planning audits. */
class TrainingData67Spec extends SparkTestBase {

  test("pack efficiency reconciles with the packer and never exceeds the ideal bin count") {
    val pack = SparkEntry
      .queries("t_pack_sequences")(spark, sf)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("total_tokens")).as("total_tokens"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_bins"), r.getAs[Long]("total_tokens"))).toMap
    val eff = SparkEntry.queries("t_pack_efficiency")(spark, sf).collect()
    assert(eff.nonEmpty && eff.length == pack.size)
    eff.foreach { r =>
      val shard = r.getString(0)
      val (nBins, total) = pack(shard)
      assert(r.getAs[Long]("n_bins") == nBins, s"bins @ $shard")
      assert(r.getAs[Long]("total_tokens") == total, s"tokens @ $shard")
      // the never-split greedy packer overflows bins rather than
      // opening extra ones: bin index derives from token mass, so
      // the count is bounded by the ideal ⌈tokens/target⌉
      assert(r.getAs[Long]("n_bins") <= r.getAs[Long]("ideal_bins"),
        s"greedy bins must not exceed ideal @ $shard")
      assert(r.getAs[Long]("max_bin_tokens") >= total / nBins,
        s"max bin below mean is impossible @ $shard")
      val fill = total.toDouble / (nBins.toDouble * 2048.0)
      assert(math.abs(r.getAs[Double]("fill_ratio") -
        BigDecimal(fill).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) < 1e-12)
    }
  }

  test("dp mean: deterministic Laplace draw replays exactly; clamp bounds the release") {
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // exact clamped sums recomputed independently
    val truth = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang"), least(col("n_chars"), lit(1000L)).as("v"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s")))
      .toMap
    val out = SparkEntry.queries("a_dp_mean")(spark, sf).collect()
    assert(out.nonEmpty && out.length == truth.size)
    out.foreach { r =>
      val lang = r.getString(0)
      val (n, s) = truth(lang)
      val meanRaw = s.toDouble / n.toDouble
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Double]("clamped_mean") == round6(meanRaw))
      assert(meanRaw > 0 && meanRaw <= 1000.0, s"clamp bound @ $lang")
      // recompute u and the Laplace inverse-CDF draw on the driver
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dpmean:$lang".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1) /
        4503599627370496.0
      val noise = -(1000.0 / 1.0 / n.toDouble) * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
      assert(r.getAs[Double]("dp_mean") == round6(meanRaw + noise),
        s"noise must replay deterministically @ $lang")
    }
  }

  test("curriculum phases: quantile boundaries are monotone and budgets reconcile") {
    val out = SparkEntry.queries("t_curriculum_phases")(spark, sf)
      .collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getAs[Long]("phase")))
    val perLang = graft.sources.Tables.table(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(out.nonEmpty)
    out.foreach { case (lang, phases) =>
      assert(phases.map(_.getAs[Long]("phase")).toSeq ==
        (1L to phases.length))
      assert(phases.map(_.getAs[Long]("n_docs")).sum == perLang(lang))
      phases.foreach(p => assert(
        p.getAs[Double]("min_quality") <= p.getAs[Double]("max_quality")))
      // easy-to-hard: a later phase never starts below an earlier
      // phase's ceiling (ties on the score may touch, never cross)
      phases.toSeq.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0).getAs[Double]("max_quality") <=
            w(1).getAs[Double]("min_quality") + 1e-9, s"monotone @ $lang")
      }
    }
  }
}
