package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-35 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData40Spec extends SparkTestBase {

  private def activeByDay(): Map[java.sql.Date, Set[Long]] =
    graft.sources.Tables.table(spark, sf, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().collect()
      .groupBy(_.getAs[java.sql.Date]("day"))
      .map { case (d, rs) => (d, rs.map(_.getAs[Long]("user_id")).toSet) }

  test("growth accounting: identities against raw day sets") {
    val out = SparkEntry.queries("ev_growth_accounting")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val act = activeByDay()
    val days = act.keys.toSeq.sortBy(_.getTime)
    out.foreach { r =>
      val day = r.getAs[java.sql.Date]("day")
      val active = act.getOrElse(day, Set.empty)
      // new + retained + resurrected = actives today
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
        r.getAs[Long]("n_resurrected") == active.size.toLong)
      // retained = intersection with yesterday's actives
      val yest = act.getOrElse(
        new java.sql.Date(day.getTime - 86400000L), Set.empty[Long])
      assert(r.getAs[Long]("n_retained") == (active & yest).size.toLong)
      // churned = yesterday's actives absent today
      assert(r.getAs[Long]("n_churned") == (yest -- active).size.toLong)
    }
    // every observed activity day is present in the ledger
    assert(days.toSet.subsetOf(
      out.map(_.getAs[java.sql.Date]("day")).toSet))
  }

  test("stickiness: bounded by 1, wau bounds avg_dau") {
    val out = SparkEntry.queries("ev_stickiness")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0 + 1e-9)
      assert(r.getAs[Double]("avg_dau") <= r.getAs[Long]("wau").toDouble + 1e-9)
      assert(r.getAs[Long]("n_days") >= 1 && r.getAs[Long]("n_days") <= 7)
    }
  }

  test("bot flag: one row per user, flag rule replays") {
    val out = SparkEntry.queries("ev_bot_flag")(spark, sf).collect()
    val nUsers = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(out.length.toLong == nUsers)
    out.foreach { r =>
      val rate = Option(r.getAs[java.lang.Double]("rate_per_min"))
      val cv = Option(r.getAs[java.lang.Double]("cv"))
      val want = rate.exists(_ > 5.0) ||
        (r.getAs[Long]("n_gaps") >= 20 && cv.exists(_ < 0.1))
      assert(r.getAs[Boolean]("is_bot") == want)
      assert(r.getAs[Long]("n_gaps") == r.getAs[Long]("n_events") - 1)
      cv.foreach(v => assert(v >= 0.0))
    }
  }
}
