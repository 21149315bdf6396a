package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-36 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData41Spec extends SparkTestBase {

  test("runs test: counts partition, runs replay from the sign sequence") {
    val out = SparkEntry.queries("a_runs_test")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_above") + r.getAs[Long]("n_below") ==
      r.getAs[Long]("n_days_used"))
    // driver replay of the dichotomize-and-count-runs rule
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .orderBy(col("day")).collect().map(_.getAs[Long]("m")).toSeq
    val sorted = daily.sorted
    val n = daily.length
    val med =
      if (n % 2 == 1) sorted(n / 2).toDouble
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    val signs = daily.map(_.toDouble).filter(_ != med).map(_ > med)
    val runs = if (signs.isEmpty) 0L
      else 1L + signs.zip(signs.tail).count { case (a, b) => a != b }
    assert(r.getAs[Long]("n_days_used") == signs.length.toLong)
    assert(r.getAs[Long]("n_above") == signs.count(identity).toLong)
    assert(r.getAs[Long]("n_runs") == runs)
    assert(Set("random", "non_random").contains(r.getAs[String]("verdict")))
  }

  test("vocab growth: sublinear beta, good log-log fit, exact vocab") {
    val out = SparkEntry.queries("t_vocab_growth")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(r.getAs[Long]("n_docs") == nDocs)
    val vocab = graft.sources.Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .distinct().count()
    assert(r.getAs[Long]("vocab_size") == vocab)
    val beta = r.getAs[Double]("beta")
    // Heaps' law: strictly sublinear growth on natural-ish text
    assert(beta > 0.0 && beta < 1.0)
    // synthetic sf0.001 text saturates its small vocabulary quickly, so
    // the log-log fit is honest but loose there — pin validity, not
    // quality (r2 ≈ 0.47 at sf0.001, ≈ 0.9 at sf0.01)
    assert(r.getAs[Double]("r2") > 0.0 && r.getAs[Double]("r2") <= 1.0 + 1e-9)
  }

  test("threshold sweep: monotone non-increasing yield, 0.9 matches dedup op") {
    val out = SparkEntry.queries("t_jaccard_threshold_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Double]("threshold"))
    assert(out.map(_.getAs[Double]("threshold")).toSeq ==
      Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    val ps = out.map(_.getAs[Long]("n_pairs")).toSeq
    val ds = out.map(_.getAs[Long]("n_dup_docs")).toSeq
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
    // the 0.9 cut equals the registered dedup operator's pair count
    val at09 = graft.operators.Dedup.jaccardPairs(spark, sf, 0.9).count()
    assert(ps.last == at09)
    // every pair touches at most 2 docs
    out.foreach(r => assert(r.getAs[Long]("n_dup_docs") <=
      2 * r.getAs[Long]("n_pairs")))
  }
}
