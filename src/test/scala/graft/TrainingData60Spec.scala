package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-10 batch-60 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData60Spec extends SparkTestBase {

  test("dau/mau: driver replay of DAU / trailing-28d MAU per day") {
    val out = SparkEntry.queries("ev_dau_mau")(spark, sf).collect()
    assert(out.nonEmpty)
    val ud = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct.sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    assert(out.length == days.length)
    out.foreach { r =>
      val day = r.getDate(0).toLocalDate
      val dau = ud.count(_._2 == day).toLong
      val mau = ud.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(27))
      }.map(_._1).distinct.length.toLong
      assert(r.getLong(1) == dau, s"dau $day")
      assert(r.getLong(2) == mau, s"mau $day")
      assert(r.getLong(1) <= r.getLong(2), "DAU never exceeds MAU")
      val st = r.getAs[Double]("stickiness")
      assert(st > 0.0 && st <= 1.0)
    }
  }

  test("hill tail: driver replay of the adaptive-k estimator") {
    val out = SparkEntry.queries("ev_hill_tail")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val counts = graft.sources.Tables.table(spark, sf, "events")
      .groupBy(col("user_id")).count()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val k = math.min(50L, math.max(2L, counts.length.toLong / 4))
    assert(r.getLong(0) == k)
    val ordered = counts.sortBy { case (u, c) => (-c, u) }
    val xk1 = ordered(k.toInt)._2
    assert(r.getLong(1) == xk1)
    val lnsum = ordered.take(k.toInt)
      .sortBy { case (u, c) => (c, u) }
      .map { case (_, c) => math.log(c.toDouble / xk1.toDouble) }.sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("ln_sum") == r6(lnsum))
    assert(r.getAs[Double]("hill_alpha") == r6(k.toDouble / lnsum))
    assert(r.getAs[Boolean]("infinite_variance") == (k.toDouble / lnsum <= 2.0))
  }
}
