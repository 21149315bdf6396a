package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Invariant pins for the round-9 batch-9 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData12Spec extends SparkTestBase {

  test("mad outliers: histogram median matches the driver-side sort") {
    val out = SparkEntry.queries("a_mad_outliers")(spark, sf).collect()
    assert(out.nonEmpty)
    val total = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total,
      "per-source rows partition the corpus")
    // med/mad are global constants — identical on every row
    assert(out.map(_.getAs[Double]("median_q")).distinct.length == 1)
    assert(out.map(_.getAs[Double]("mad_q")).distinct.length == 1)
    // differential: replay median + MAD by sorting the micro values
    val micro = graft.sources.Tables.table(spark, sf, "documents")
      .select(floor(TF.qualityScore(col("text")) * lit(1000000.0))
        .cast("long").as("q"))
      .collect().map(_.getLong(0)).sorted
    val n = micro.length
    def med2Of(a: Array[Long]): Long =
      a((n - 1) / 2) + a(n / 2) // 2×median (averages middles when even)
    val med2 = med2Of(micro)
    val dev2 = micro.map(q => math.abs(2 * q - med2)).sorted
    val mad4 = med2Of(dev2)
    assert(math.abs(out.head.getAs[Double]("median_q") -
      med2.toDouble / 2000000.0) < 1e-6)
    assert(math.abs(out.head.getAs[Double]("mad_q") -
      mad4.toDouble / 4000000.0) < 1e-6)
    // outlier counts: replay the exact integer rule
    val nOut = micro.count(q => math.abs(2 * q - med2) * 20000L > 51891L * mad4)
    assert(out.map(_.getAs[Long]("n_outliers")).sum == nOut)
  }

  test("quota allocation: sums to the budget, within one of exact quota") {
    val out = SparkEntry.queries("o_quota_allocation")(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(out.map(_.getAs[Long]("allocated")).sum == 1000L,
      "largest-remainder allocations sum exactly to the budget")
    out.foreach { r =>
      val fl = r.getAs[Long]("floor_alloc")
      val al = r.getAs[Long]("allocated")
      assert(al == fl || al == fl + 1, "each cell gets floor or floor+1")
      val exact = r.getAs[Long]("n_docs").toDouble * 1000.0 / total
      assert(al >= math.floor(exact) - 1e-9 && al <= math.ceil(exact) + 1e-9,
        "allocation stays within the exact quota's floor/ceil")
    }
  }

  test("binary hamming recall: ten queries, consistent bounded metrics") {
    val out = SparkEntry.queries("e_binary_hamming_recall")(spark, sf)
      .collect()
    assert(out.map(_.getAs[Long]("query_id")).toSeq == (0L until 10L))
    out.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(math.abs(r.getAs[Double]("recall_at_5") - hits / 5.0) < 1e-9)
      val hs = r.getAs[Long]("ham_sum")
      assert(hs >= 0 && hs <= 5L * 64L, "five 64-bit distances")
    }
    // the 1-bit index must be better than chance on this corpus:
    // at least one query recovers at least one true neighbor
    assert(out.map(_.getAs[Long]("n_hits")).sum > 0,
      "binary quantization recovers some exact-cosine neighbors")
  }
}
