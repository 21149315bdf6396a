package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-6 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData10Spec extends SparkTestBase {

  test("theil-sen: pair count exact, slope between pairwise extremes") {
    val r = SparkEntry.queries("w_theil_sen")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val n = row.getAs[Long]("n_days")
    assert(row.getAs[Long]("n_pairs") == n * (n - 1) / 2,
      "every ordered day pair contributes exactly one slope")
    // the median slope lies between the min and max pairwise slope
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("dayn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val mm = daily.alias("a")
      .join(daily.alias("b"), col("a.day") < col("b.day"))
      .select(((col("b.rev") - col("a.rev")).cast("double") /
        (col("b.dayn") - col("a.dayn")).cast("double")).as("s"))
      .agg(min(col("s")), max(col("s"))).head()
    val slope = row.getAs[Double]("slope_per_day")
    assert(slope >= mm.getDouble(0) - 1e-6 && slope <= mm.getDouble(1) + 1e-6)
  }

  test("equi-height histogram: balanced buckets, ordered disjoint bounds") {
    val out = SparkEntry.queries("o_histogram_equiheight")(spark, sf)
      .collect()
    assert(out.map(_.getAs[Int]("bucket")).toSeq == (1 to 10))
    val n = graft.sources.Tables.table(spark, sf, "lineitem").count()
    val rowsPer = out.map(_.getAs[Long]("n_rows"))
    assert(rowsPer.sum == n, "buckets partition the table")
    assert(rowsPer.max - rowsPer.min <= 1,
      "equi-height: bucket populations differ by at most one row")
    out.foreach { r =>
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
      assert(r.getAs[Long]("ndv") >= 1 &&
        r.getAs[Long]("ndv") <= r.getAs[Long]("n_rows"))
    }
    // bucket value ranges are non-overlapping except at shared edges
    out.zip(out.drop(1)).foreach { case (a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo") + 1e-9)
    }
  }

  test("fleiss kappa: probabilities bounded, kappa below perfect agreement") {
    val r = SparkEntry.queries("a_fleiss_kappa")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val pg = row.getAs[Double]("p_good"); val pb = row.getAs[Double]("p_bar")
    val pe = row.getAs[Double]("p_e"); val k = row.getAs[Double]("kappa")
    assert(pg >= 0.0 && pg <= 1.0)
    // with 3 raters and 2 categories at least one pair agrees per doc
    assert(pb >= 1.0 / 3.0 - 1e-9 && pb <= 1.0)
    assert(pe >= 0.5 - 1e-9 && pe <= 1.0, "two-category chance floor is 1/2")
    assert(k <= 1.0 + 1e-9, "kappa cannot exceed perfect agreement")
    assert(math.abs((pb - pe) / (1.0 - pe) - k) < 2e-5,
      "kappa must be consistent with its own published components")
  }

  test("multiset set ops: bag identities hold per key") {
    val out = SparkEntry.queries("set_ops_all_multiset")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // recompute multiplicities: |A cap B| = min(a, b), |A \\ B| = max(a-b, 0)
    val li = graft.sources.Tables.table(spark, sf, "lineitem")
    val ac = li.filter(col("l_suppkey") % 2 === 0)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("a")).collect()
      .map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("a")).toMap
    val bc = li.filter(col("l_quantity") > 25)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("b")).collect()
      .map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("b")).toMap
    out.foreach { r =>
      val kk = r.getAs[Long]("l_partkey")
      val a = ac.getOrElse(kk, 0L); val b = bc.getOrElse(kk, 0L)
      assert(r.getAs[Long]("n_intersect_all") == math.min(a, b),
        s"INTERSECT ALL multiplicity for part $kk")
      assert(r.getAs[Long]("n_except_all") == math.max(a - b, 0L),
        s"EXCEPT ALL multiplicity for part $kk")
    }
  }
}
