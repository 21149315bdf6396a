package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-43 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData48Spec extends SparkTestBase {

  test("modularity: degree mass conserves, Q bounded, identity holds") {
    val out = SparkEntry.queries("g_modularity")(spark, sf).collect()
    assert(out.nonEmpty)
    val p = out.map(_.getAs[Long]("d_c")).sum
    // ordered-pair masses: Σ d_c = |P|, within ≤ degree mass per label
    out.foreach { r =>
      assert(r.getAs[Long]("e_within") <= r.getAs[Long]("d_c"))
    }
    val q = out.map(_.getAs[Double]("q_contribution")).sum
    // modularity of any partition is in [-1, 1]
    assert(q >= -1.0 - 1e-6 && q <= 1.0 + 1e-6)
    // recompute contributions from the integer columns
    out.foreach { r =>
      val want = r.getAs[Long]("e_within").toDouble / p -
        math.pow(r.getAs[Long]("d_c").toDouble / p, 2)
      assert(math.abs(r.getAs[Double]("q_contribution") - want) < 1e-5)
    }
  }

  test("turning points: driver replay, verdict rule") {
    val out = SparkEntry.queries("w_turning_points")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val xs = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .orderBy(col("day")).collect().map(_.getAs[Long]("m")).toSeq
    assert(r.getAs[Long]("n_days") == xs.length.toLong)
    val t = xs.sliding(3).count { w =>
      (w(0) < w(1) && w(1) > w(2)) || (w(0) > w(1) && w(1) < w(2))
    }
    assert(r.getAs[Long]("n_turning_points") == t.toLong)
    val mu = 2.0 * (xs.length - 2) / 3.0
    assert(math.abs(r.getAs[Double]("expected") - mu) < 1e-6)
    assert(Set("trending", "oscillating", "random")
      .contains(r.getAs[String]("verdict")))
  }

  test("bigram entropy: bounded by ln(distinct), masses replay") {
    val out = SparkEntry.queries("t_char_bigram_entropy")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val total = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang"), (length(col("text")) - 1).cast("long").as("nb"))
      .groupBy(col("lang")).agg(sum(col("nb")).as("nb")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == total(r.getAs[String]("lang")))
      val h = r.getAs[Double]("entropy")
      val norm = r.getAs[Double]("normalized")
      assert(h >= 0.0)
      assert(norm >= 0.0 && norm <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_bigrams"))
    }
  }
}
