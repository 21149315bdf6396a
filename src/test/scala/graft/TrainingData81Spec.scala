package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-81 operators: a matrix
  * replay of the mixing walk (plus TV laws), a complete Friedman
  * replay with exact midranks, and the Simpson slope audit against
  * per-group OLS replays.
  */
class TrainingData81Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ev_markov_mixing: transition replay, TV walk, monotone tail") {
    val out = SparkEntry.queries("ev_markov_mixing")(spark, sf)
      .collect()
    assert(out.length == 16)
    // replay the chain
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map { r =>
        val ts = r.getAs[java.sql.Timestamp](2)
        (r.getLong(0), r.getString(1), (ts.getTime, ts.getNanos),
          r.getLong(3))
      }
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3._1, e._3._2, e._4))
      sorted.zip(sorted.drop(1)).map { case (a, b) => (a._2, b._2) }
    }
    val counts = trans.groupBy(identity).map { case (k, v) => k -> v.size }
    val states = counts.keys.flatMap(k => Seq(k._1, k._2)).toSeq
      .distinct.sorted
    val n = states.length
    val rowTot = states.map(cu =>
      cu -> states.map(nx => counts.getOrElse((cu, nx), 0)).sum).toMap
    val pm = Array.tabulate(n, n) { (i, j) =>
      val c = counts.getOrElse((states(i), states(j)), 0)
      if (rowTot(states(i)) == 0) 0.0
      else c.toDouble / rowTot(states(i)).toDouble
    }
    def step(v: Array[Double]): Array[Double] =
      Array.tabulate(n) { j =>
        (0 until n).foldLeft(0.0)((a, i) => a + v(i) * pm(i)(j))
      }
    var pi = Array.fill(n)(1.0 / n)
    (1 to 20).foreach(_ => pi = step(pi))
    var v = Array.tabulate(n)(i => if (i == 0) 1.0 else 0.0)
    val tvs = (1 to 16).map { _ =>
      v = step(v)
      (0 until n).foldLeft(0.0)((a, i) => a + math.abs(v(i) - pi(i))) / 2.0
    }
    out.zip(tvs).zipWithIndex.foreach { case ((r, tv), i) =>
      assert(r.getAs[Long]("step") == (i + 1).toLong)
      assert(r.getAs[String]("start_state") == states.head)
      assert(r.getAs[Long]("n_states") == n.toLong)
      assert(r.getAs[Double]("tv_distance") == r6(tv))
      assert(r.getAs[Boolean]("mixed") == (tv < 0.05))
    }
    // the walk approaches π: the final TV is the smallest recorded
    assert(tvs.last <= tvs.head + 1e-12)
  }

  test("a_friedman_test: complete-block midrank replay") {
    val out = SparkEntry.queries("a_friedman_test")(spark, sf)
      .collect().map(r => r.getAs[String]("priority") -> r).toMap
    val cells = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("day"),
        col("o_orderpriority").as("t"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("v"))
      .collect()
      .map(r => (String.valueOf(r.get(0)),
        r.getAs[String]("t"), r.getAs[Long]("v")))
    val k = cells.map(_._2).distinct.length
    val byDay = cells.groupBy(_._1).filter(_._2.size == k)
    val nB = byDay.size
    // rank2 = 2*midrank within each complete day
    val r2 = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    byDay.values.foreach { block =>
      block.foreach { case (_, t, v) =>
        val less = block.count(_._3 < v)
        val eq = block.count(_._3 == v)
        r2(t) += 2L * less + eq + 1L
      }
    }
    val sr2 = r2.toSeq.sortBy(_._1).foldLeft(0.0) { case (a, (_, s)) =>
      a + s.toDouble * s.toDouble
    }
    val chi2 = 3.0 * sr2 / (nB.toDouble * k * (k + 1)) -
      3.0 * nB.toDouble * (k + 1)
    val xm = math.floor(chi2 * 1.0e6).toLong
    val bucket =
      if (xm >= 18466826L) "p<0.001"
      else if (xm >= 13276704L) "p<0.01"
      else if (xm >= 9487729L) "p<0.05"
      else if (xm >= 7779440L) "p<0.10"
      else "p>=0.10"
    assert(out.size == k)
    r2.foreach { case (t, s) =>
      val r = out(t)
      assert(r.getAs[Long]("n_blocks") == nB.toLong)
      assert(r.getAs[Double]("mean_rank") == r6(s.toDouble / 2.0 / nB))
      assert(r.getAs[Double]("chi2_friedman") == r6(chi2))
      assert(r.getAs[String]("p_bucket") == bucket)
      assert(r.getAs[String]("verdict") ==
        (if (xm >= 9487729L) "ranks_differ" else "consistent"))
    }
    // mean ranks average to (k+1)/2 across treatments
    val mr = out.values.map(_.getAs[Double]("mean_rank")).sum / k
    assert(math.abs(mr - (k + 1) / 2.0) < 1e-6)
  }

  test("a_simpsons_slopes: per-group OLS replay; pooled consistency") {
    val out = SparkEntry.queries("a_simpsons_slopes")(spark, sf)
      .collect().map(r => r.getAs[String]("group_flag") -> r).toMap
    val rows = graft.sources.Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def slope(rs: Seq[(String, Long, Long)]): Double = {
      val n = rs.size.toDouble
      val sx = rs.map(t => BigInt(t._2)).sum.toDouble
      val sy = rs.map(t => BigInt(t._3)).sum.toDouble
      val sxy = (rs.map(t => BigInt(t._2) * BigInt(t._3)).sum /
        1000000).toDouble * 1.0e6
      val sxx = (rs.map(t => BigInt(t._2) * BigInt(t._2)).sum /
        1000000).toDouble * 1.0e6
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val pooled = slope(rows.toSeq)
    val groups = rows.groupBy(_._1)
    assert(out.size == groups.size)
    groups.foreach { case (g, rs) =>
      val sl = slope(rs.toSeq)
      val r = out(g)
      assert(r.getAs[Long]("n_rows") == rs.size.toLong)
      assert(r.getAs[Double]("slope_cents_per_unit") == r6(sl))
      assert(r.getAs[Double]("pooled_slope") == r6(pooled))
      assert(r.getAs[Boolean]("simpson_reversal") ==
        (math.signum(sl) != math.signum(pooled)))
    }
  }
}
