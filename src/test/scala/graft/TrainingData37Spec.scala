package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-32 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData37Spec extends SparkTestBase {

  private def daily(): Seq[Long] =
    graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .collect().map(_.getAs[Long]("m")).toSeq

  test("permutation test: p-value grid, counts, and t_obs replay") {
    val out = SparkEntry.queries("a_permutation_test")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val p = r.getAs[Double]("p_value")
    val nx = r.getAs[Long]("n_extreme")
    assert(nx >= 0 && nx <= 64)
    // p sits exactly on the (1 + nx)/65 grid
    assert(math.abs(p - math.rint((nx + 1.0) / 65.0 * 1e6) / 1e6) < 1e-12)
    // observed statistic replays from the raw daily series
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .withColumn("we", dayofweek(col("day")).isin(1, 7))
      .collect().map(x => (x.getAs[Long]("m"), x.getAs[Boolean]("we"))).toSeq
    val we = rows.filter(_._2).map(_._1)
    val wd = rows.filterNot(_._2).map(_._1)
    assert(r.getAs[Long]("n_days") == rows.length.toLong)
    assert(r.getAs[Long]("n_weekend") == we.length.toLong)
    val tObs = (we.sum.toDouble / we.length - wd.sum.toDouble / wd.length) / 100.0
    assert(math.abs(r.getAs[Double]("t_obs") - tObs) < 1e-4)
  }

  test("hodges-lehmann: matches a driver-side walsh-median replay") {
    val out = SparkEntry.queries("a_hodges_lehmann")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val xs = daily()
    val n = xs.length
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(r.getAs[Long]("n_pairs") == n.toLong * (n + 1) / 2)
    val walsh = (for {
      i <- xs.indices; j <- i until n
    } yield xs(i) + xs(j)).sorted
    val np = walsh.length
    val med =
      if (np % 2 == 1) walsh(np / 2).toDouble
      else (walsh(np / 2 - 1) + walsh(np / 2)) / 2.0
    assert(math.abs(r.getAs[Double]("hl_estimate") - med / 2.0 / 100.0) < 1e-6)
    // robust-location sanity: HL lies within the data range
    assert(r.getAs[Double]("hl_estimate") >= xs.min / 100.0 &&
      r.getAs[Double]("hl_estimate") <= xs.max / 100.0)
  }

  test("theil: decomposition identity and non-negativity") {
    val out = SparkEntry.queries("a_theil_index")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val tt = r.getAs[Double]("t_total")
    val tb = r.getAs[Double]("t_between")
    val tw = r.getAs[Double]("t_within")
    // Theil-T and the within term are non-negative; between can only
    // be negative by rounding noise
    assert(tt >= 0.0 && tw >= 0.0 && tb >= -1e-6)
    // exact decomposition: T = between + within (6-dp outputs)
    assert(math.abs(tt - (tb + tw)) < 5e-6)
    assert(r.getAs[Long]("n_customers") > 0)
    assert(r.getAs[Double]("mean_revenue") > 0.0)
  }
}
