package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-18 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData23Spec extends SparkTestBase {

  test("self-bleu: precisions in [0,1], bigram <= unigram, pairs add up") {
    val out = SparkEntry.queries("t_self_bleu")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val b1 = r.getAs[Double]("self_bleu1")
      val b2 = r.getAs[Double]("self_bleu2")
      assert(b1 >= 0.0 && b1 <= 1.0)
      assert(b2 >= 0.0 && b2 <= 1.0)
      assert(r.getAs[Long]("n_pairs") >= 1L)
    }
    // pair count: every (lang, source) shard of size k yields k-1 pairs
    val shardSizes = graft.sources.Tables.table(spark, sf, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("k"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("k")).toMap
    val pairTotal = out.map(_.getAs[Long]("n_pairs")).sum
    val expected = shardSizes.values.map(k => math.max(0L, k - 1)).sum
    assert(pairTotal == expected)
    // a doc paired with itself would score 1.0; distinct-neighbor
    // pairing on this corpus must stay strictly below that on average
    assert(out.map(_.getAs[Double]("self_bleu1")).max < 1.0)
  }

  test("dp median: released bin comes from the exponential-mechanism argmax") {
    val r = SparkEntry.queries("t_dp_median")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val rel = row.getAs[Long]("released_bin")
    val tru = row.getAs[Long]("true_bin")
    assert(rel >= 0L && rel <= 63L && tru >= 0L && tru <= 63L)
    assert(row.getAs[Double]("bin_hi") - row.getAs[Double]("bin_lo") > 0)
    // driver replay of the whole mechanism from raw prices
    val cents = graft.sources.Tables.table(spark, sf, "orders")
      .select(round(col("o_totalprice") * 100).cast("long")).collect()
      .map(_.getLong(0))
    val counts = Array.fill(64)(0L)
    cents.foreach(c => counts(math.min(63L, c * 64 / 50000000L).toInt) += 1)
    val n = cents.length.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    def u01(b: Int): Double = {
      val h = md.digest(s"median_$b".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(h, 16).toDouble + 0.5) / 1152921504606846976.0
    }
    var cum = 0L; var best = -1; var bestScore = Double.NegativeInfinity
    var truB = -1
    for (b <- 0 until 64; if counts(b) > 0 || true) {
      cum += counts(b)
      val u = -math.abs(2 * cum - n).toDouble
      val score = 1.0 * u / 2.0 - math.log(-math.log(u01(b)))
      if (truB == -1 && 2 * cum >= n) truB = b
      if (score > bestScore) { bestScore = score; best = b }
    }
    assert(tru == truB.toLong, "true median bin replay")
    assert(rel == best.toLong, "exponential-mechanism argmax replay")
  }

  test("quality gate: routing partitions docs; failure reasons respect modality") {
    val out = SparkEntry.queries("mm_quality_gate")(spark, sf).collect()
    assert(out.map(_.getAs[String]("modality")).sorted.toSeq ==
      Seq("audio", "image", "video"))
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total ==
      graft.sources.Tables.table(spark, sf, "documents").count())
    out.foreach { r =>
      val passed = r.getAs[Long]("n_passed")
      val nd = r.getAs[Long]("n_docs")
      assert(passed <= nd)
      assert(r.getAs[Double]("pass_rate") <= 1.0)
      if (r.getAs[String]("modality") == "audio")
        assert(r.getAs[Long]("n_low_res") == 0L,
          "resolution floor never applies to audio")
      // reasons can overlap, so passed >= n_docs - sum(reasons)
      val reasons = r.getAs[Long]("n_small_payload") +
        r.getAs[Long]("n_low_res") + r.getAs[Long]("n_short")
      assert(passed >= nd - reasons)
    }
  }
}
