package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-27 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData32Spec extends SparkTestBase {

  test("Kalman: driver replay of the (x, P) recursion per year") {
    val out = SparkEntry.queries("w_kalman_1d")(spark, sf).collect()
    assert(out.nonEmpty)
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("string").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        / 1000000.0).as("z"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(_._1)
    val byYear = daily.groupBy(_._1.take(4))
    val expect = byYear.values.flatMap { days =>
      var x = 0.0; var p = 0.0
      days.zipWithIndex.map { case ((day, z), i) =>
        if (i == 0) { x = z; p = 10.0; (day, z, x, p, 1.0) }
        else {
          val pp = p + 2.0
          val k = pp / (pp + 10.0)
          x = x + k * (z - x); p = (1.0 - k) * pp
          (day, z, x, p, k)
        }
      }
    }.toSeq.sortBy(_._1)
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (row, (day, z, x, p, k)) =>
      assert(row.getAs[Any]("day").toString.take(10) == day.take(10))
      assert(row.getAs[Double]("revenue_m") == z)
      assert(row.getAs[Double]("estimate") == x)
      assert(row.getAs[Double]("variance") == p)
      assert(row.getAs[Double]("gain") == k)
    }
    // steady state: P converges (per year — the recursion restarts
    // each January) to the positive root of P² + 2P − 20 = 0
    // (from P = 10(P+2)/(P+12)) → P* = −1+√21
    val pStar = -1.0 + math.sqrt(21.0)
    byYear.values.filter(_.length > 40).foreach { days =>
      var p = 10.0
      days.indices.drop(1).foreach { _ =>
        val pp = p + 2.0; p = (1.0 - pp / (pp + 10.0)) * pp
      }
      assert(math.abs(p - pStar) < 0.01)
    }
    out.foreach { r =>
      val g = r.getAs[Double]("gain")
      assert(g > 0.0 && g <= 1.0)
    }
  }

  test("HITS: L-inf normalization and score bounds hold") {
    val out = SparkEntry.queries("g_hits")(spark, sf).collect()
    assert(out.length > 1)
    val auth = out.map(_.getAs[Double]("authority"))
    val hub = out.map(_.getAs[Double]("hub"))
    // normalized: all in [0, 1], maxima exactly 1 after rounding
    assert(auth.forall(a => a >= 0.0 && a <= 1.0))
    assert(hub.forall(h => h >= 0.0 && h <= 1.0))
    assert(auth.max == 1.0)
    assert(hub.max == 1.0)
    // terms are distinct and sorted
    val terms = out.map(_.getAs[String]("term")).toSeq
    assert(terms == terms.sorted && terms.distinct.length == terms.length)
  }

  test("absorbing Markov: purchase absorbs at 0, sweeps replay exactly") {
    val out = SparkEntry.queries("ev_absorbing_markov")(spark, sf).collect()
    assert(out.nonEmpty)
    val p = out.find(_.getAs[String]("event_type") == "purchase")
    assert(p.isDefined && p.get.getAs[Double]("t_absorb_20") == 0.0)
    // driver replay: rebuild transitions and run the same 20 sweeps
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { xs =>
      val ss = xs.sortBy(x => (x._2, x._3)).map(_._4)
      ss.zip(ss.tail)
    }.toSeq
    val nij = pairs.groupBy(identity).view.mapValues(_.length.toLong)
    val ni = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val states = ni.keys.toSeq.sorted
    var t = states.map(_ -> 0.0).toMap
    for (_ <- 1 to 20) {
      t = states.map { i =>
        if (i == "purchase") i -> 0.0
        else {
          val ex = states.filter(j => nij.contains((i, j)))
            .foldLeft(0.0) { (a, j) =>
              a + (nij((i, j)).toDouble / ni(i)) * t(j)
            }
          i -> (1.0 + ex)
        }
      }.toMap
    }
    out.foreach { row =>
      val st = row.getAs[String]("event_type")
      assert(row.getAs[Long]("n_out") == ni(st))
      assert(math.abs(row.getAs[Double]("t_absorb_20") -
        math.rint(t(st) * 1e6) / 1e6) < 1e-6)
      val p1 = nij.getOrElse((st, "purchase"), 0L).toDouble / ni(st)
      assert(math.abs(row.getAs[Double]("p_absorb_1step") -
        math.rint(p1 * 1e6) / 1e6) < 1e-9)
    }
    assert(out.length == states.length)
  }
}
