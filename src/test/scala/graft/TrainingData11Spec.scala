package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Invariant pins for the round-9 batch-8 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData11Spec extends SparkTestBase {

  test("roc auc: matches the brute-force pairwise AUC exactly") {
    val r = SparkEntry.queries("t_roc_auc")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val auc = row.getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0)
    assert(math.abs(row.getAs[Double]("gini_coef") - (2 * auc - 1)) < 2e-6,
      "gini = 2·AUC − 1")
    // differential: replay the O(P·N) definition on the driver
    val toks = TF.tokens(col("text"))
    val margin = lit(-0.7) +
      lit(0.8) * (size(toks).cast("double") / lit(100.0)) +
      lit(2.0) * TF.stopwordRatio(col("text")) +
      lit(-1.2) * (TF.avgWordLen(col("text")) / lit(10.0)) +
      lit(1.5) * (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
    val mp = graft.sources.Tables.table(spark, sf, "documents")
      .select(margin.as("m"),
        (TF.qualityScore(col("text")) >= 0.42).as("good"))
      .collect().map(x => (x.getDouble(0), x.getBoolean(1)))
    val pos = mp.filter(_._2).map(_._1); val neg = mp.filterNot(_._2).map(_._1)
    assert(row.getAs[Long]("n_pos") == pos.length)
    assert(row.getAs[Long]("n_neg") == neg.length)
    var num2 = 0L // 2·wins + ties, exact
    for (p <- pos; n <- neg)
      num2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    val brute = num2.toDouble / (2.0 * pos.length * neg.length)
    // the query rounds to 6 dp — compare on that grid
    assert(math.abs(auc - brute) < 6e-7,
      s"two-phase rank AUC $auc must equal pairwise AUC $brute")
  }

  test("mutual info: information inequalities hold") {
    val r = SparkEntry.queries("a_mutual_info")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val mi = row.getAs[Double]("mi_nats")
    val hl = row.getAs[Double]("h_lang"); val hs = row.getAs[Double]("h_source")
    assert(mi >= -1e-9, "MI is non-negative")
    assert(mi <= math.min(hl, hs) + 1e-9, "MI ≤ min(H(L), H(S))")
    val langs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang")).distinct().count()
    assert(hl <= math.log(langs.toDouble) + 1e-9,
      "marginal entropy bounded by log cardinality")
    val nmi = row.getAs[Double]("nmi")
    assert(nmi >= -1e-9 && nmi <= 1.0 + 1e-9)
  }

  test("good-turing: class shares + unseen mass form a probability budget") {
    val out = SparkEntry.queries("t_good_turing")(spark, sf).collect()
    assert(out.nonEmpty && out.map(_.getAs[Long]("r")).toSeq.sorted ==
      out.map(_.getAs[Long]("r")).toSeq, "ordered by r")
    val tokens = graft.sources.Tables.table(spark, sf, "documents")
      .select(explode(TF.tokens(col("text"))).as("t")).count()
    // token_share of class r is r·N_r/T — recompute from the row's own
    // integer fields and the independent token count
    out.foreach { row =>
      val share = row.getAs[Double]("token_share")
      val expect = row.getAs[Long]("r").toDouble *
        row.getAs[Long]("n_terms").toDouble / tokens.toDouble
      assert(math.abs(share - expect) < 2e-6)
      // smoothed r* discounts toward the unseen: r* > 0 when defined
      if (!row.isNullAt(row.fieldIndex("r_star")))
        assert(row.getAs[Double]("r_star") > 0.0)
    }
    // p0 = N₁/T when singletons exist (null on an all-frequent corpus)
    if (!out.head.isNullAt(out.head.fieldIndex("p0_unseen"))) {
      val p0 = out.head.getAs[Double]("p0_unseen")
      assert(p0 > 0.0 && p0 < 1.0, "singleton mass is a proper fraction")
    }
  }
}
