package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-15 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData20Spec extends SparkTestBase {

  test("a_var_merge: partial merge is exact and matches direct moments") {
    val out = SparkEntry.queries("a_var_merge")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("partials_match")),
      "day-partial merge must equal the direct month aggregate bit-exactly")
    // driver replay of one month's mean/variance from raw cents
    val m = out.maxBy(_.getAs[Long]("n_orders"))
    val month = m.getAs[java.sql.Date]("month")
    val cents = graft.sources.Tables.table(spark, sf, "orders")
      .filter(to_date(date_trunc("month", col("o_orderdate"))) === lit(month))
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0))
    val n = cents.length.toLong
    assert(m.getAs[Long]("n_orders") == n)
    val mean = cents.map(BigInt(_)).sum.toDouble / (100.0 * n)
    assert(math.abs(m.getAs[Double]("mean_price") - mean) < 1e-4)
    if (n > 1) {
      val s = cents.map(BigInt(_)).sum
      val ss = cents.map(c => BigInt(c) * BigInt(c)).sum
      val v = (BigInt(n) * ss - s * s).toDouble / (10000.0 * n * (n - 1.0))
      assert(math.abs(m.getAs[Double]("var_price") - v) < math.max(1e-4, v * 1e-9))
    }
    // a month with a single order must report null variance, not NaN
    out.filter(_.getAs[Long]("n_orders") == 1L)
      .foreach(r => assert(r.isNullAt(r.fieldIndex("var_price"))))
  }

  test("q_dq_referential: synthetic star is clean; totals line up") {
    val out = SparkEntry.queries("q_dq_referential")(spark, sf).collect()
    assert(out.length == 7)
    assert(out.forall(_.getAs[Boolean]("passed")),
      "driver testdata satisfies every FK and domain expectation")
    val li = graft.sources.Tables.table(spark, sf, "lineitem").count()
    val o = graft.sources.Tables.table(spark, sf, "orders").count()
    out.foreach { r =>
      val expected =
        if (r.getAs[String]("check_name").contains("lineitem")) li
        else if (r.getAs[String]("check_name") == "chk_quantity_domain" ||
          r.getAs[String]("check_name") == "chk_discount_domain") li
        else o
      assert(r.getAs[Long]("n_total") == expected)
    }
  }

  test("q_dq_referential: a planted orphan and domain violation are counted") {
    // same dataflow as the operator, over an in-memory two-table star
    import spark.implicits._
    val li = Seq((1L, 10.0), (2L, 99.0), (3L, 20.0))
      .toDF("l_orderkey", "l_quantity")
    val ok = Seq(1L, 3L).toDF("__ok")
    val agg = li.join(ok, col("l_orderkey") === col("__ok"), "left")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__ok").isNull, 1L).otherwise(0L)).cast("long")
          .as("v_ord"),
        sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L))
          .cast("long").as("v_qty"))
      .collect().head
    assert(agg.getAs[Long]("n_total") == 3L)
    assert(agg.getAs[Long]("v_ord") == 1L)
    assert(agg.getAs[Long]("v_qty") == 1L)
  }

  test("ev_watermark_lateness: buckets partition the stream; shares sum to 1") {
    val out = SparkEntry.queries("ev_watermark_lateness")(spark, sf)
      .collect()
    val total = out.map(_.getAs[Long]("n_events")).sum
    assert(total == graft.sources.Tables.table(spark, sf, "events").count())
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    out.foreach { r =>
      val rank = r.getAs[Int]("bucket_rank")
      val mx = r.getAs[Double]("max_late_s")
      rank match {
        case 1 => assert(mx == 0.0)
        case 2 => assert(mx > 0.0 && mx <= 60.0)
        case 3 => assert(mx > 60.0 && mx <= 300.0)
        case 4 => assert(mx > 300.0 && mx <= 3600.0)
        case 5 => assert(mx > 3600.0)
      }
    }
    // the first arrival per user is on time by definition, so the
    // on_time bucket must hold at least one event per user
    val users = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    val onTime = out.find(_.getAs[Int]("bucket_rank") == 1)
    assert(onTime.exists(_.getAs[Long]("n_events") >= users))
  }

  test("t_l_diversity: diversity bounds and risk accounting hold") {
    val out = SparkEntry.queries("t_l_diversity")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("min_diversity") >= 1L)
      assert(r.getAs[Long]("min_diversity") <= 16L,
        "sensitive proxy has 16 possible values")
      assert(r.getAs[Long]("n_low_buckets") <= r.getAs[Long]("n_buckets"))
      // every low bucket holds at least one doc, and a bucket with
      // diversity < 3 holds at most 2 distinct sensitive values but
      // any number of docs >= its diversity
      assert(r.getAs[Long]("n_docs_at_risk") >= r.getAs[Long]("n_low_buckets"))
      if (r.getAs[Long]("n_low_buckets") == 0L)
        assert(r.getAs[Long]("n_docs_at_risk") == 0L)
    }
  }
}
