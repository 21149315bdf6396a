package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-47 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData52Spec extends SparkTestBase {

  test("participation ratio: within [1, dim], counts match") {
    val out = SparkEntry.queries("e_participation_ratio")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    assert(r.getAs[Long]("n_vectors") == nVec)
    val pr = r.getAs[Double]("participation_ratio")
    // Cauchy–Schwarz bounds: 1 ≤ tr²/‖M‖²_F ≤ dim
    assert(pr >= 1.0 - 1e-9 && pr <= 64.0 + 1e-9)
    assert(math.abs(r.getAs[Double]("pr_share") - pr / 64.0) < 1e-6)
  }

  test("circadian: one row per user, entropy bounded by ln(active hours)") {
    val out = SparkEntry.queries("ev_circadian")(spark, sf).collect()
    val nUsers = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(out.length.toLong == nUsers)
    val nEvents = graft.sources.Tables.table(spark, sf, "events").count()
    assert(out.map(_.getAs[Long]("n_events")).sum == nEvents)
    out.foreach { r =>
      val h = r.getAs[Double]("hour_entropy")
      val k = r.getAs[Long]("n_active_hours")
      assert(k >= 1 && k <= 24)
      assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-6)
      val ph = r.getAs[Long]("peak_hour")
      assert(ph >= 0 && ph <= 23)
    }
  }

  test("freshness: three tables, reference is the newest, staleness >= 0") {
    val out = SparkEntry.queries("q_dq_freshness")(spark, sf).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[String]("table_name")).toSet ==
      Set("orders", "lineitem", "events"))
    assert(out.exists(_.getAs[Long]("staleness_days") == 0L))
    out.foreach { r =>
      assert(r.getAs[Long]("staleness_days") >= 0L)
      assert(r.getAs[Long]("n_rows") > 0L)
    }
  }
}
