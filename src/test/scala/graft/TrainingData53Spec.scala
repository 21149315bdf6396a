package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-48 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData53Spec extends SparkTestBase {

  test("lsh recall curve: buckets in range, recalls bounded, theory monotone") {
    val out = SparkEntry.queries("dedup_lsh_recall_curve")(spark, sf)
      .collect().sortBy(_.getAs[Double]("bucket"))
    // sf0.001 may have no >= 0.7 near-dup pairs at all — curve empty
    out.foreach { r =>
      val b = r.getAs[Double]("bucket")
      assert(b >= 0.7 - 1e-9 && b <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_pairs"))
      val e = r.getAs[Double]("empirical_recall")
      val t = r.getAs[Double]("theory_recall")
      assert(e >= 0.0 && e <= 1.0)
      assert(t >= 0.0 && t <= 1.0)
    }
    val ts = out.map(_.getAs[Double]("theory_recall")).toSeq
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b + 1e-9 })
  }

  test("retention decay: k grid dense, rates bounded, driver replay of k=1") {
    val out = SparkEntry.queries("ev_retention_decay")(spark, sf)
      .collect().sortBy(_.getAs[Long]("k"))
    assert(out.map(_.getAs[Long]("k")).toSeq == (1L to 14L).toSeq)
    out.foreach { r =>
      assert(r.getAs[Long]("n_returned") <= r.getAs[Long]("n_base"))
      val p = r.getAs[Double]("p_return")
      assert(p >= 0.0 && p <= 1.0)
    }
    // driver replay of the pooled k=1 rate
    val act = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate))
      .toSet
    val maxd = act.map(_._2).max
    val base = act.filter { case (_, d) => !d.plusDays(1).isAfter(maxd) }
    val ret = base.count { case (u, d) => act.contains((u, d.plusDays(1))) }
    val r1 = out.head
    assert(r1.getAs[Long]("n_base") == base.size.toLong)
    assert(r1.getAs[Long]("n_returned") == ret.toLong)
    // all rows carry the same fitted slope
    assert(out.map(_.getAs[Double]("decay_slope")).distinct.length == 1)
  }

  test("cohens h: proportions replay, magnitude rule, bounded h") {
    val out = SparkEntry.queries("a_cohens_h")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_weekend_purchases") <=
      r.getAs[Long]("n_weekend_events"))
    assert(r.getAs[Long]("n_weekday_purchases") <=
      r.getAs[Long]("n_weekday_events"))
    val h = r.getAs[Double]("cohens_h")
    // h ∈ [−π, π] by construction
    assert(math.abs(h) <= math.Pi + 1e-9)
    val want = 2.0 * math.asin(math.sqrt(
      r.getAs[Long]("n_weekend_purchases").toDouble /
        r.getAs[Long]("n_weekend_events"))) -
      2.0 * math.asin(math.sqrt(
        r.getAs[Long]("n_weekday_purchases").toDouble /
          r.getAs[Long]("n_weekday_events")))
    assert(math.abs(h - want) < 1e-5)
    val mag = r.getAs[String]("magnitude")
    val wantMag = if (math.abs(h) < 0.2) "negligible"
      else if (math.abs(h) < 0.5) "small"
      else if (math.abs(h) < 0.8) "medium" else "large"
    assert(mag == wantMag)
  }
}
