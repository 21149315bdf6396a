package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-10 batch-56 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData56Spec extends SparkTestBase {

  test("quality logreg: descent trace improves and replays on the driver") {
    val out = SparkEntry.queries("t_quality_logreg")(spark, sf)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L))
    val losses = out.map(_.getAs[Double]("log_loss")).toSeq
    // row k evaluates at w_{k-1}: the trace starts at ln 2 (w = 0)
    // and must strictly improve over five steps on this objective
    assert(math.abs(losses.head - math.log(2.0)) < 1e-6)
    assert(losses.zip(losses.tail).forall { case (a, b) => b < a },
      s"loss must decrease: $losses")
    out.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // driver replay of the full descent from the same features
    val feats = SparkEntry.queries("t_c4_filters")(spark, sf)
      .select(col("doc_id"), col("n_tokens"), col("avg_word_len"), col("keep"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (math.log(1.0 + r.getLong(1).toDouble),
        r.getAs[Double]("avg_word_len"),
        if (r.getBoolean(3)) 1.0 else 0.0))
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = (0.0, 0.0, 0.0)
    val n = feats.length.toDouble
    (1 to 5).foreach { k =>
      val ps = feats.map { case (x1, x2, y) =>
        val p = math.min(math.max(
          r12(1.0 / (1.0 + math.exp(-(w._1 + w._2 * x1 + w._3 * x2)))),
          1e-12), 1.0 - 1e-12)
        (x1, x2, y, p)
      }
      val loss = ps.map { case (_, _, y, p) =>
        -(y * math.log(p) + (1.0 - y) * math.log(1.0 - p))
      }.sum / n
      val acc = ps.count { case (_, _, y, p) => (p >= 0.5) == (y == 1.0) } / n
      w = (w._1 - 0.1 * ps.map { case (_, _, y, p) => p - y }.sum / n,
        w._2 - 0.1 * ps.map { case (x1, _, y, p) => (p - y) * x1 }.sum / n,
        w._3 - 0.1 * ps.map { case (_, x2, y, p) => (p - y) * x2 }.sum / n)
      val row = out(k - 1)
      assert(row.getAs[Double]("log_loss") == r6(loss), s"loss step $k")
      assert(row.getAs[Double]("accuracy") == r6(acc), s"acc step $k")
      assert(row.getAs[Double]("w_bias") == r6(w._1), s"w0 step $k")
      assert(row.getAs[Double]("w_log_tokens") == r6(w._2), s"w1 step $k")
      assert(row.getAs[Double]("w_avg_word_len") == r6(w._3), s"w2 step $k")
    }
  }

  test("holt grid: 9 cells, dense rank, driver replay of one (alpha, beta)") {
    val out = SparkEntry.queries("w_holt_grid")(spark, sf).collect()
    assert(out.length == 9)
    assert(out.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 9).toSeq)
    val xs = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("x"))
      .orderBy(col("day")).collect().map(_.getAs[Double]("x")).toSeq
    out.foreach { r =>
      assert(r.getAs[Long]("n_forecasts") == xs.length.toLong - 2)
      val (alpha, beta) = (r.getAs[Double]("alpha"), r.getAs[Double]("beta"))
      var l = xs(1); var b = xs(1) - xs(0)
      var sse = 0.0
      xs.drop(2).foreach { x =>
        val f = l + b
        val e = x - f
        sse += e * e
        val l2 = alpha * x + (1.0 - alpha) * (l + b)
        b = beta * (l2 - l) + (1.0 - beta) * b
        l = l2
      }
      val rmse = math.sqrt(sse / (xs.length - 2))
      assert(math.abs(r.getAs[Double]("rmse") - rmse) < math.abs(rmse) * 1e-9,
        s"rmse at ($alpha, $beta)")
    }
  }
}
