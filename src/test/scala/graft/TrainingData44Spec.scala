package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Invariant pins for the round-9 batch-39 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData44Spec extends SparkTestBase {

  test("ses grid: 9 alphas, dense rank, driver replay of one alpha") {
    val out = SparkEntry.queries("w_ses_grid")(spark, sf).collect()
    assert(out.length == 9)
    assert(out.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 9).toSeq)
    val xs = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
        .as("x"))
      .orderBy(col("day")).collect().map(_.getAs[Double]("x")).toSeq
    out.foreach { r =>
      assert(r.getAs[Long]("n_forecasts") == xs.length.toLong - 1)
      val alpha = r.getAs[Double]("alpha")
      var sPrev = xs.head
      var sse = 0.0
      xs.tail.foreach { x =>
        val e = x - sPrev
        sse += e * e
        sPrev = sPrev * (1.0 - alpha) + alpha * x
      }
      val rmse = math.sqrt(sse / (xs.length - 1))
      assert(math.abs(r.getAs[Double]("rmse") - rmse) < math.abs(rmse) * 1e-9,
        s"rmse at alpha $alpha")
    }
  }

  test("encoding advisor: ndv/runs replay against a driver-side pass") {
    val out = SparkEntry.queries("o_encoding_advisor")(spark, sf).collect()
    assert(out.length == 2)
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .orderBy(col("o_orderkey")).collect()
    out.foreach { r =>
      val c = r.getAs[String]("column")
      val vals = rows.map(_.getAs[String](c)).toSeq
      assert(r.getAs[Long]("rows") == vals.length.toLong)
      assert(r.getAs[Long]("ndv") == vals.distinct.length.toLong)
      val runs = 1L + vals.zip(vals.tail).count { case (a, b) => a != b }
      assert(r.getAs[Long]("n_runs") == runs, s"runs for $c")
      assert(r.getAs[Double]("dict_ratio") >= 1.0)
      assert(r.getAs[Double]("rle_ratio") >= 1.0)
    }
  }

  test("encoding advisor: carry collect stays bounded under an absurd partition conf") {
    // the seam-close collects one carry row per range partition; the
    // 4096 cap keeps that bounded BY DESIGN even when a caller sets
    // spark.sql.shuffle.partitions sky-high — and the answer must not
    // depend on the conf (runs/ndv are properties of the data).
    // 4999 partitions exceeds the 4096 cap (so the cap arm is
    // exercised) without the ~1M-reduce-task DAG-scheduler grind the
    // old 999999 conf paid (~17 min of the suite wall, round-12
    // verdict #5) — the invariant tested is identical.
    val base = SparkEntry.queries("o_encoding_advisor")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4999")
      val capped = SparkEntry.queries("o_encoding_advisor")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(capped == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("session depth: mass conserves events, depths positive") {
    val out = SparkEntry.queries("ev_session_depth")(spark, sf).collect()
    assert(out.nonEmpty)
    val nEvents = graft.sources.Tables.table(spark, sf, "events").count()
    // Σ depth · n_sessions = total events (every event in exactly one session)
    val mass = out.map(r =>
      r.getAs[Long]("depth") * r.getAs[Long]("n_sessions")).sum
    assert(mass == nEvents)
    out.foreach { r =>
      assert(r.getAs[Long]("depth") >= 1)
      assert(r.getAs[Long]("n_sessions") >= 1)
    }
  }

  test("native session_window equals lag-based sessionization") {
    // same 30-min gap as w_sessionize_users; semantics agree except
    // at EXACT-gap boundaries (session_window opens a new session at
    // next == last + gap, the lag form only at next > last + gap) —
    // the events table has no exact-1800s gap, checked in DuckDB
    val ev = Tables.table(spark, sf, "events")
    // enforce the precondition instead of assuming it: an exact-gap
    // event pair would make the two forms legitimately diverge, so a
    // fixture change that introduces one must fail HERE, not as an
    // opaque oracle hash mismatch
    val wPre = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val exactGaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wPre))
      .where(col("gap_us") === 1800000000L).count()
    assert(exactGaps == 0L,
      "events fixture gained an exact-1800s gap; session_window and the lag oracle diverge there")
    val native = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("sessions"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagBased = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .groupBy(col("user_id")).agg(sum(col("new_session")).as("sessions"))
    assert(native.orderBy("user_id").collect().toSeq ==
      lagBased.orderBy("user_id").collect().toSeq)
  }
}
