package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries

/** Invariant pins for the round-9 batch-31 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData36Spec extends SparkTestBase {

  test("assortativity: bounded, and matches a driver-side recompute") {
    val out = SparkEntry.queries("g_assortativity")(spark, sf).collect()
    assert(out.length == 1)
    val row = out.head
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 && r <= 1.0)
    // differential: recompute from the same directed edge set
    val e = SimilarityQueries.knnDirectedEdges(spark, sf)
      .select(col("src"), col("dst")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val und = (e ++ e.map(_.swap)).distinct
    val deg = und.groupBy(_._1).map { case (k, v) => (k, v.length.toLong) }
    assert(row.getAs[Long]("n_nodes") == deg.size.toLong)
    assert(row.getAs[Long]("n_und_edges") == und.length.toLong / 2)
    val xs = und.map { case (a, b) => (deg(a), deg(b)) }
    val np = xs.length.toDouble
    val sx = xs.map(_._1).sum.toDouble
    val sxy = xs.map { case (x, y) => x * y }.sum.toDouble
    val sxx = xs.map { case (x, _) => x * x }.sum.toDouble
    val want = (np * sxy - sx * sx) / (np * sxx - sx * sx)
    assert(math.abs(r - want) < 1e-5)
  }

  test("periodogram: dense ranks, share order, period identity") {
    val out = SparkEntry.queries("w_periodogram")(spark, sf).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    val shares = out.map(_.getAs[Double]("power_share")).toSeq
    assert(shares.forall(p => p > 0.0 && p <= 1.0))
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b })
    val ks = out.map(_.getAs[Long]("k")).toSeq
    assert(ks.distinct.length == ks.length)
    // period_days = n / k with n = the daily series length
    val n = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderdate")).distinct().count().toDouble
    out.foreach { r =>
      val want = math.rint(n / r.getAs[Long]("k").toDouble * 1000.0) / 1000.0
      assert(math.abs(r.getAs[Double]("period_days") - want) < 1e-9)
    }
  }

  test("silhouette: membership partition, bounds, mean within min/max") {
    val out = SparkEntry.queries("sim_silhouette")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 8)
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    assert(out.map(_.getAs[Long]("n_members")).sum == nVec)
    out.foreach { r =>
      val mn = r.getAs[Double]("min_silhouette")
      val mx = r.getAs[Double]("max_silhouette")
      val mean = r.getAs[Double]("mean_silhouette")
      // centroid-based variant with own = nearest: s ∈ [0, 1]
      assert(mn >= 0.0 && mx <= 1.0)
      assert(mean >= mn - 1e-9 && mean <= mx + 1e-9)
    }
  }
}
