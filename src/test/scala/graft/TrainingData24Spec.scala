package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-19 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData24Spec extends SparkTestBase {

  test("pattern regex: motif counts match a driver regex replay") {
    val out = SparkEntry.queries("ev_pattern_regex")(spark, sf).collect()
    assert(out.nonEmpty)
    // driver replay over the raw events for every user
    val traces = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("i"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) =>
        u -> rows.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
          .map(_.getString(3)).mkString
      }
    assert(out.length == traces.size)
    out.foreach { r =>
      val trace = traces(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") == trace.length.toLong)
      val conv = "vc*p".r.findAllIn(trace).length.toLong
      val sv = "sv".r.findAllIn(trace).length.toLong
      val streak = "e+".r.findAllIn(trace).map(_.length)
        .foldLeft(0)(math.max).toLong
      assert(r.getAs[Long]("n_conversion_motifs") == conv)
      assert(r.getAs[Long]("n_signup_view") == sv)
      assert(r.getAs[Long]("max_error_streak") == streak)
    }
  }

  test("bh fdr: step-up rule holds — rejections are exactly ranks <= k*") {
    val out = SparkEntry.queries("a_bh_fdr")(spark, sf).collect()
    assert(out.nonEmpty)
    val m = out.length.toDouble
    // recompute the step-up from the published p-values (6-dp rounded,
    // so compare with a slack well above rounding and far below the
    // alpha*k/m grid spacing where it matters)
    val sorted = out.sortBy(_.getAs[Long]("rank"))
    assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
      (1L to out.length.toLong).toSeq, "ranks are a permutation")
    // p-values non-decreasing in rank
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("p_value") <= b.getAs[Double]("p_value") + 1e-9)
      case _ =>
    }
    val sigRanks = sorted.filter(_.getAs[Boolean]("significant"))
      .map(_.getAs[Long]("rank"))
    if (sigRanks.nonEmpty) {
      val k = sigRanks.max
      assert(sigRanks.toSeq == (1L to k).toSeq,
        "significant set is a prefix of the p-ranked list")
      // the boundary rank k itself satisfies p_k <= alpha * k / m
      val pk = sorted(k.toInt - 1).getAs[Double]("p_value")
      assert(pk <= 0.1 * k / m + 1e-6)
    }
    // every shard with |z| tiny must be non-significant
    sorted.filter(r => math.abs(r.getAs[Double]("z")) < 0.05)
      .foreach(r => assert(!r.getAs[Boolean]("significant")))
  }
}
