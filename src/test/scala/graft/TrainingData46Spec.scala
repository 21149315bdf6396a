package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-41 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData46Spec extends SparkTestBase {

  test("mcnemar: cells partition the corpus, margins match the filters") {
    val out = SparkEntry.queries("a_mcnemar_filters")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val n = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(r.getAs[Long]("n_both") + r.getAs[Long]("n_a_only") +
      r.getAs[Long]("n_b_only") + r.getAs[Long]("n_neither") == n)
    // margin A = the registered C4 keep count
    val keepA = SparkEntry.queries("t_c4_filters")(spark, sf)
      .filter(col("keep")).count()
    assert(r.getAs[Long]("n_both") + r.getAs[Long]("n_a_only") == keepA)
    // margin B = the registered classifier keep count
    val keepB = SparkEntry
      .queries("t_classifier_infer")(spark, sf).filter(col("keep")).count()
    assert(r.getAs[Long]("n_both") + r.getAs[Long]("n_b_only") == keepB)
    assert(Set("no_discordance", "filters_differ", "consistent")
      .contains(r.getAs[String]("verdict")))
  }

  test("cross-correlation: 15 lags, bounded, lag-0 is plain corr") {
    val out = SparkEntry.queries("w_cross_correlation")(spark, sf).collect()
    assert(out.length == 15)
    assert(out.map(_.getAs[Int]("lag")).toSeq == (-7 to 7).toSeq)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("xcorr")) <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_pairs") > 0)
    }
    // lag 0 has the full day count; |k| loses exactly |k| pairs
    val n0 = out.find(_.getAs[Int]("lag") == 0).get.getAs[Long]("n_pairs")
    out.foreach { r =>
      assert(r.getAs[Long]("n_pairs") ==
        n0 - math.abs(r.getAs[Int]("lag")).toLong)
    }
  }

  test("shard balance: masses partition, balance bounded by 1") {
    val out = SparkEntry.queries("mm_shard_balance")(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    out.foreach { r =>
      assert(r.getAs[Long]("n_image") + r.getAs[Long]("n_audio") +
        r.getAs[Long]("n_video") == r.getAs[Long]("n_docs"))
      val b = r.getAs[Double]("balance")
      assert(b >= 0.0 && b <= 1.0 + 1e-9)
      // single-modality shard ⇔ balance 0
      val mods = Seq(r.getAs[Long]("n_image"), r.getAs[Long]("n_audio"),
        r.getAs[Long]("n_video")).count(_ > 0)
      if (mods == 1) assert(b == 0.0)
      if (mods > 1) assert(b > 0.0)
    }
    // shard count agrees with the registered manifest
    val manifest = SparkEntry
      .queries("mm_shard_manifest")(spark, sf).count()
    assert(out.length.toLong == manifest)
  }
}
