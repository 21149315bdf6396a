package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-10 batch-58 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData58Spec extends SparkTestBase {

  test("data card: one row, every column replays against direct scans") {
    val out = SparkEntry.queries("t_data_card")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .collect()
    val n = docs.length.toLong
    assert(r.getAs[Long]("n_docs") == n)
    assert(r.getAs[Long]("n_langs") == docs.map(_.getString(0)).distinct.length)
    assert(r.getAs[Long]("n_sources") == docs.map(_.getString(1)).distinct.length)
    val toks = docs.map(_.getAs[Long]("nt"))
    assert(r.getAs[Long]("n_tokens") == toks.sum)
    val s = toks.sorted
    val med = (s(((n + 1) / 2 - 1).toInt).toDouble +
      s(((n + 2) / 2 - 1).toInt).toDouble) / 2.0
    assert(r.getAs[Double]("median_tokens") == med)
    val dups = n - docs.map(_.getString(2)).distinct.length
    assert(r.getAs[Long]("n_exact_dup_docs") == dups)
    val rate = r.getAs[Double]("exact_dup_rate")
    assert(rate >= 0.0 && rate <= 1.0)
    val keep = r.getAs[Double]("c4_keep_rate")
    assert(keep > 0.0 && keep < 1.0, "the gate must actually discriminate")
  }

  test("bot flags: every flagged user violates a rule, every violator is flagged") {
    val out = SparkEntry.queries("ev_bot_flags")(spark, sf).collect()
    assert(out.nonEmpty, "relative thresholds must flag a tail")
    out.foreach { r =>
      val fr = r.getAs[Boolean]("flag_rate")
      val fb = r.getAs[Boolean]("flag_burst")
      assert(fr || fb)
      if (fr) assert(r.getAs[Double]("events_per_day") >
        1.15 * r.getAs[Double]("median_rate") - 1e-9)
      if (fb) assert(r.getAs[Long]("max_per_minute") >= 2L)
    }
    // completeness: recompute the violator set from raw events
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), date_trunc("minute", col("ts")).as("mi"),
        to_date(col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString))
    val byUser = ev.groupBy(_._1)
    val epd = byUser.map { case (u, rs) =>
      u -> rs.length.toDouble / rs.map(_._3).distinct.length
    }
    val sorted = epd.values.toSeq.sorted
    val nU = sorted.length
    val medEpd = (sorted((nU + 1) / 2 - 1) + sorted((nU + 2) / 2 - 1)) / 2.0
    val violators = byUser.collect {
      case (u, rs)
          if epd(u) > 1.15 * medEpd ||
            rs.groupBy(_._2).values.map(_.size).max >= 2 => u
    }.toSet
    assert(out.map(_.getLong(0)).toSet == violators)
  }
}
