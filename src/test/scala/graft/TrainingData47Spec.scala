package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-42 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData47Spec extends SparkTestBase {

  test("perplexity buckets: partition the corpus, ordered by entropy") {
    val out = SparkEntry.queries("t_perplexity_buckets")(spark, sf)
      .collect().sortBy(_.getAs[String]("bucket"))
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val byName = out.map(r => r.getAs[String]("bucket") -> r).toMap
    assert(byName.keySet.subsetOf(Set("head", "middle", "tail")))
    // bucket ranges are ordered: head's max <= middle's min region etc.
    for {
      h <- byName.get("head"); m <- byName.get("middle")
    } assert(h.getAs[Double]("max_h") <= m.getAs[Double]("min_h") + 1e-6)
    for {
      m <- byName.get("middle"); t <- byName.get("tail")
    } assert(m.getAs[Double]("max_h") <= t.getAs[Double]("min_h") + 1e-6)
    out.foreach { r =>
      assert(r.getAs[Double]("mean_h") >= r.getAs[Double]("min_h") - 1e-9)
      assert(r.getAs[Double]("mean_h") <= r.getAs[Double]("max_h") + 1e-9)
      assert(r.getAs[Double]("min_h") >= 0.0)
    }
    // thirds: sizes differ by at most 1 from n/3 rounding
    val sizes = out.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1)
  }

  test("lorenz: monotone convex-ish curve ending at 1") {
    val out = SparkEntry.queries("a_lorenz_points")(spark, sf)
      .collect().sortBy(_.getAs[Int]("decile"))
    assert(out.map(_.getAs[Int]("decile")).toSeq == (1 to 10).toSeq)
    val shares = out.map(_.getAs[Double]("cum_revenue_share")).toSeq
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(shares.last - 1.0) < 1e-9)
    // Lorenz lies under the diagonal (poorest d·10% hold ≤ d·10%)
    out.foreach { r =>
      assert(r.getAs[Double]("cum_revenue_share") <=
        r.getAs[Int]("decile") / 10.0 + 1e-6)
    }
    // increments grow (sorted-by-revenue cumsum is convex)
    val inc = shares.head +: shares.zip(shares.tail).map { case (a, b) => b - a }
    assert(inc.zip(inc.tail).forall { case (a, b) => b >= a - 1e-6 })
  }

  test("dedup funnel: tiers ordered, marginals bounded by flags") {
    val out = SparkEntry.queries("dedup_funnel")(spark, sf)
      .collect().sortBy(_.getAs[Int]("tier"))
    assert(out.map(_.getAs[String]("method")).toSeq ==
      Seq("exact", "normalized", "minhash_lsh"))
    out.foreach { r =>
      assert(r.getAs[Long]("n_new") <= r.getAs[Long]("n_flagged"))
      assert(r.getAs[Long]("n_new") >= 0)
    }
    // normalized is a coarsening of exact: flags at least as many docs
    assert(out(1).getAs[Long]("n_flagged") >= out(0).getAs[Long]("n_flagged"))
    // tier-1 marginal IS its flag count (nothing precedes it)
    assert(out(0).getAs[Long]("n_new") == out(0).getAs[Long]("n_flagged"))
  }
}
