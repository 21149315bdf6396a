package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-10 batch-57 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData57Spec extends SparkTestBase {

  private def md5Hex60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    hex.foldLeft(0L)((a, c) => a * 16 +
      "0123456789abcdef".indexOf(c).toLong)
  }

  test("dp top-k: gumbel scores replay on the driver, release is the true argmax set") {
    val out = SparkEntry.queries("t_dp_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L))
    val counts = graft.sources.Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def score(tok: String): Double = {
      val u = (md5Hex60(tok).toDouble + 0.5) / 1152921504606846976.0
      1.0 * counts(tok) / 2.0 - math.log(-math.log(u))
    }
    val expected = counts.keys.toSeq
      .map(t => (t, score(t)))
      .sortBy { case (t, sc) => (-sc, t) }.take(5)
    out.zip(expected).foreach { case (row, (tok, sc)) =>
      assert(row.getString(1) == tok)
      assert(row.getLong(2) == counts(tok))
      assert(row.getAs[Double]("dp_score") ==
        BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("source matrix: canonical cells, mass equals the LSH pair set, shares sum to 1") {
    val out = SparkEntry.queries("dedup_source_matrix")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val nPairs = Dedup.minhashLshPairs(spark, sf, portableHashes = true).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum == nPairs)
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a <= b, "cells are unordered-canonical")
      assert(r.getAs[Boolean]("cross_source") == (a != b))
      assert(r.getAs[Double]("pair_share") > 0.0)
    }
    assert(math.abs(out.map(_.getAs[Double]("pair_share")).sum - 1.0) < 1e-4)
  }

  test("mad anomalies: driver replay of median/MAD and the 3.5 flag rule") {
    val out = SparkEntry.queries("w_mad_anomalies")(spark, sf).collect()
    val cents = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(out.length == cents.size)
    def medOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      (s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)) / 2.0
    }
    val med = medOf(cents.values.map(_.toDouble).toSeq)
    val mad = medOf(cents.values.map(v => math.abs(v - med)).toSeq)
    assert(mad > 0.0, "fixture must have spread")
    out.foreach { r =>
      val m = cents(r.get(0).toString).toDouble
      val z = (m - med) / (1.4826 * mad)
      assert(r.getAs[Double]("robust_z") ==
        BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"z at ${r.get(0)}")
      assert(r.getAs[Boolean]("is_anomaly") == (math.abs(z) > 3.5))
    }
  }
}
