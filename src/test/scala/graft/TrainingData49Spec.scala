package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-44 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData49Spec extends SparkTestBase {

  test("asof hit rate: monotone in tolerance, bounded, fixed view count") {
    val out = SparkEntry.queries("j_asof_hit_rate")(spark, sf)
      .collect().sortBy(_.getAs[Long]("tolerance_sec"))
    assert(out.map(_.getAs[Long]("tolerance_sec")).toSeq ==
      Seq(60L, 3600L, 86400L))
    val nViews = graft.sources.Tables.table(spark, sf, "events")
      .filter(col("event_type") === "view").count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_views") == nViews)
      assert(r.getAs[Long]("n_hits") <= nViews)
      val hr = r.getAs[Double]("hit_rate")
      assert(hr >= 0.0 && hr <= 1.0)
    }
    // a looser SLA can only serve more lookups
    val hits = out.map(_.getAs[Long]("n_hits")).toSeq
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b })
  }

  test("neyman: budget exact, shares normalize, sd drives allocation") {
    val out = SparkEntry.queries("t_neyman_allocation")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_alloc")).sum == 1000L)
    val shares = out.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    out.foreach { r =>
      assert(r.getAs[Double]("sd") >= 0.0)
      // allocation within 1 of the exact share (largest remainder)
      assert(math.abs(r.getAs[Long]("n_alloc") -
        1000.0 * r.getAs[Double]("share")) <= 1.0 + 1e-6)
    }
  }

  test("storage tiers: partition rows, age ranges disjoint and ordered") {
    val out = SparkEntry.queries("o_storage_tiers")(spark, sf)
      .collect().sortBy(_.getAs[Long]("min_age_days"))
    val n = graft.sources.Tables.table(spark, sf, "orders").count()
    assert(out.map(_.getAs[Long]("n_orders")).sum == n)
    assert(math.abs(out.map(_.getAs[Double]("row_share")).sum - 1.0) < 1e-4)
    // tiers in age order with non-overlapping ranges
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_age_days") < b.getAs[Long]("min_age_days"))
      case _ => ()
    }
    val names = out.map(_.getAs[String]("tier")).toSeq
    assert(names.head == "hot")
    out.foreach(r => assert(r.getAs[Double]("revenue") > 0.0))
  }
}
