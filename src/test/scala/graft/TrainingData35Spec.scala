package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries

/** Invariant pins for the round-9 batch-30 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData35Spec extends SparkTestBase {

  test("POT-GPD: threshold rank, exceedance moments, and estimators") {
    val out = SparkEntry.queries("w_pot_gpd")(spark, sf).collect()
    assert(out.length == 1)
    val row = out.head
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("string").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val n = daily.length
    assert(row.getAs[Long]("n_days") == n.toLong)
    val sorted = daily.sortBy(x => (x._2, x._1)).map(_._2)
    val u = sorted(math.ceil(0.95 * n).toInt - 1)
    assert(row.getAs[Double]("threshold") == u.toDouble / 100.0)
    val ys = daily.map(_._2).filter(_ > u).map(_ - u)
    assert(row.getAs[Long]("n_exceed") == ys.length.toLong)
    val ne = ys.length.toDouble
    val e = ys.sum.toDouble / ne
    val v = (ys.map(y => y.toDouble * y).sum - ys.sum.toDouble *
      ys.sum / ne) / (ne - 1.0)
    assert(math.abs(row.getAs[Double]("mean_excess") - e / 100.0) < 1e-4)
    assert(math.abs(row.getAs[Double]("k_hat") -
      (e * e / v - 1.0) / 2.0) < 1e-5)
    assert(math.abs(row.getAs[Double]("sigma_hat") -
      e * (e * e / v + 1.0) / 2.0 / 100.0) < 1e-3)
    // roughly 5% of days exceed the 95th percentile
    assert(ys.length <= n / 10 && ys.length >= 1)
  }

  test("greedy coverage: replay, diminishing gains, running total") {
    val out = SparkEntry.queries("t_submodular_coverage")(spark, sf)
      .collect()
    assert(out.nonEmpty && out.length <= 8)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).toSet))
    var covered = Set.empty[String]
    out.zipWithIndex.foreach { case (row, i) =>
      // recompute the greedy winner against the current covered set
      val gains = docs.map { case (id, toks) => (id, (toks -- covered).size) }
      val (bestId, bestGain) = gains.minBy { case (id, g) => (-g, id) }
      assert(row.getAs[Long]("round") == (i + 1).toLong)
      assert(row.getAs[Long]("doc_id") == bestId)
      assert(row.getAs[Long]("gain") == bestGain.toLong)
      covered = covered ++ docs.find(_._1 == bestId).get._2
      assert(row.getAs[Long]("covered_total") == covered.size.toLong)
    }
    // greedy gains never increase (submodularity)
    val gs = out.map(_.getAs[Long]("gain")).toSeq
    assert(gs.zip(gs.tail).forall { case (a, b) => a >= b })
    // running totals are the prefix sums of the gains
    val totals = out.map(_.getAs[Long]("covered_total")).toSeq
    assert(totals == gs.scanLeft(0L)(_ + _).tail)
  }

  test("hubness: histogram masses and the k-out-degree identity") {
    val out = SparkEntry.queries("sim_hubness")(spark, sf).collect()
    assert(out.nonEmpty)
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    // histogram covers every vector exactly once
    assert(out.map(_.getAs[Long]("n_nodes")).sum == nVec)
    // Σ in-degree = |edges| (each directed edge lands once)
    val edges = SimilarityQueries.knnDirectedEdges(spark, sf)
    val totalIn = out.map(r =>
      r.getAs[Long]("in_degree") * r.getAs[Long]("n_nodes")).sum
    assert(totalIn == edges.count())
    // in-degrees are distinct and ascending
    val degs = out.map(_.getAs[Long]("in_degree")).toSeq
    assert(degs == degs.sorted && degs.distinct.length == degs.length)
    assert(degs.head >= 0L)
  }
}
