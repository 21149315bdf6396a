package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-4 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData8Spec extends SparkTestBase {

  test("welch: counts conserved, dof within the Welch-Satterthwaite bounds") {
    val r = SparkEntry.queries("a_welch_ttest")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val ev = graft.sources.Tables.table(spark, sf, "events")
    val nP = ev.filter(col("event_type") === "purchase").count()
    val nV = ev.filter(col("event_type") === "view").count()
    assert(row.getAs[Long]("n_x") == nP && row.getAs[Long]("n_y") == nV)
    val dof = row.getAs[Double]("dof")
    val lo = math.min(nP, nV) - 1.0; val hi = nP + nV - 2.0
    assert(dof >= lo - 1e-6 && dof <= hi + 1e-6,
      s"Welch dof $dof must sit in [min(n)-1, n_x+n_y-2] = [$lo, $hi]")
    assert(row.getAs[Boolean]("significant") ==
      (math.abs(row.getAs[Double]("t_stat")) > 1.96))
  }

  test("kaplan-meier: monotone survival, shrinking risk set, events conserved") {
    val out = SparkEntry.queries("ev_survival_km")(spark, sf).collect()
    assert(out.nonEmpty, "some user purchases after signup")
    val sorted = out.sortBy(_.getAs[Long]("t_days"))
    val surv = sorted.map(_.getAs[Double]("s_km"))
    surv.zip(surv.drop(1)).foreach { case (a, b) =>
      assert(b <= a + 1e-9, "survival can only fall") }
    // S hits exactly 0 when the last at-risk users all convert at the
    // final event time
    assert(surv.forall(s => s >= 0.0 && s <= 1.0))
    val risks = sorted.map(_.getAs[Long]("n_risk"))
    risks.zip(risks.drop(1)).foreach { case (a, b) =>
      assert(b < a, "the risk set strictly shrinks across event times") }
    // sum of event counts = uncensored users (first purchase >= signup)
    val ev = graft.sources.Tables.table(spark, sf, "events")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
    val uncensored = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("s0"))
      .select(col("user_id")).distinct().count()
    assert(sorted.map(_.getAs[Long]("n_events")).sum == uncensored)
    assert(risks.head <= su.count())
  }

  test("ipf raking: final column scale lands exactly on uniform marginals") {
    val out = SparkEntry.queries("a_ipf_raking")(spark, sf).collect()
    val n = out.map(_.getAs[Long]("n_docs")).sum
    val nS = out.map(_.getAs[String]("source")).distinct.length
    val target = n.toDouble / nS
    // the 16th half-step scales COLUMNS, so per-source raked mass is
    // the column target up to rounding of the reported weights
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val mass = rows.map(_.getAs[Double]("raked_weight")).sum
      // populated cells only are reported; zero cells carry 0 weight
      assert(math.abs(mass - target) < 1e-3,
        s"source $src raked mass $mass vs target $target")
    }
    out.foreach(r => assert(r.getAs[Double]("multiplier") > 0.0))
  }

  test("standardize: shares sum to 1, dim-1 mean matches the raw average") {
    val out = SparkEntry.queries("e_standardize")(spark, sf).collect()
    assert(out.map(_.getAs[Int]("dim")).toSeq == (1 to 64))
    val shares = out.map(_.getAs[Double]("var_share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"var shares sum to $shares")
    assert(out.forall(_.getAs[Double]("std") >= 0.0))
    val raw = graft.sources.Tables.table(spark, sf, "embeddings")
      .agg(avg(element_at(col("embedding"), 1).cast("double")))
      .head().getDouble(0)
    val q = out.find(_.getAs[Int]("dim") == 1).get.getAs[Double]("mean")
    assert(math.abs(q - raw) < 1.0 / (1 << 20) + 1e-6,
      "quantized mean within one 2^-20 grid step of the raw mean")
  }
}
