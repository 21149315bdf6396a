package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries

/** Invariant pins for the round-11 batch-73 operators: full driver
  * replays of LOF off the shared k-NN edges and of the log-rank
  * risk-set ledger.
  */
class TrainingData73Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lof: scores replay from the edge list; non-returned rows score lower") {
    val out = SparkEntry.queries("sim_lof_outliers")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val (edgesDf, assignedDf) = SimilarityQueries.lofInputs(spark, sf)
    val emb = assignedDf.select(col("vec_id"), col("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val edges = edgesDf.select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val de = edges.map { case (s0, d0) =>
      ((s0, d0), 1.0 - dot(emb(s0), emb(d0))) }.toMap
    val nbrs = edges.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sorted }
    val kdist = nbrs.map { case (p, os) => p -> os.map(o => de((p, o))).max }
    val lrd = nbrs.map { case (p, os) =>
      val srd = os.foldLeft(0.0)((a, o) => a + math.max(de((p, o)), kdist(o)))
      p -> os.length.toDouble / srd
    }
    val lof = nbrs.map { case (p, os) =>
      val slro = os.foldLeft(0.0)((a, o) => a + lrd(o))
      p -> slro / os.length.toDouble / lrd(p)
    }
    out.foreach { r =>
      val p = r.getLong(0)
      assert(r.getLong(1) == nbrs(p).length.toLong)
      assert(r.getAs[Double]("kdist") == r6(kdist(p)), s"kdist $p")
      assert(r.getAs[Double]("lrd") == r6(lrd(p)), s"lrd $p")
      assert(r.getAs[Double]("lof") == r6(lof(p)), s"lof $p")
    }
    // top-20 really is the top: every node outside scores <= the cutoff
    val cutoff = out.map(_.getAs[Double]("lof")).min
    val returned = out.map(_.getLong(0)).toSet
    lof.filterNot { case (p, _) => returned(p) }.foreach { case (p, v) =>
      assert(r6(v) <= cutoff, s"missed outlier $p")
    }
  }

  test("logrank: chi2 replays from the dense risk-set ledger") {
    val out = SparkEntry.queries("ev_logrank")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        expr("unix_micros(ts)").as("us"),
        dayofweek(col("ts")).isin(1, 7).as("we"))
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(3), x.getBoolean(4)))
    val hz = ev.map(_._3).max
    val signups = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, es) => u -> es.minBy(_._3) }
    val durs = signups.map { case (u, s0) =>
      val p = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 >= s0._3)
      val (endUs, died) =
        if (p.nonEmpty) (p.map(_._3).min, 1L) else (hz, 0L)
      (if (s0._4) "weekend" else "weekday", died, (endUs - s0._3) / 86400000000L)
    }.toSeq
    val nWe = durs.count(_._1 == "weekend").toLong
    val nWd = durs.count(_._1 == "weekday").toLong
    assert(r.getLong(0) == nWe && r.getLong(1) == nWd)
    // dense risk-set sweep over distinct durations
    val times = durs.map(_._3).distinct.sorted
    var (soe, sv, o1, nTimes) = (0.0, 0.0, 0L, 0L)
    for (t <- times) {
      val n1 = durs.count(d => d._1 == "weekend" && d._3 >= t).toLong
      val nt = durs.count(_._3 >= t).toLong
      val d1 = durs.count(d => d._1 == "weekend" && d._3 == t && d._2 == 1L)
        .toLong
      val dt = durs.count(d => d._3 == t && d._2 == 1L).toLong
      if (dt > 0 && nt > 1) {
        nTimes += 1; o1 += d1
        soe += d1.toDouble - dt.toDouble * n1.toDouble / nt.toDouble
        sv += dt.toDouble * (n1.toDouble / nt.toDouble) *
          (1.0 - n1.toDouble / nt.toDouble) *
          ((nt - dt).toDouble / (nt - 1).toDouble)
      }
    }
    assert(r.getLong(2) == nTimes)
    assert(r.getLong(3) == o1)
    if (sv > 0.0) {
      // independent float path (dense vs exclusive-cumsum): tolerance class
      assert(math.abs(r.getAs[Double]("chi2") - soe * soe / sv) < 1e-6)
      assert(r.getBoolean(6) == (soe * soe / sv > 3.841))
    } else {
      assert(r.isNullAt(5) && r.isNullAt(6),
        "undefined test must surface as NULL, not a division error")
    }
  }
}
