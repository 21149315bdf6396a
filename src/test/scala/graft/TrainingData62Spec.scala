package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-10 batch-62 operator (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData62Spec extends SparkTestBase {

  test("cube: every grouping level conserves the grand totals, gid says who's null") {
    val out = SparkEntry.queries("sql_cube")(spark, sf).collect()
    val n = graft.sources.Tables.table(spark, sf, "orders").count()
    // gid 0 = detail, 1 = priority rolled up, 2 = status rolled up,
    // 3 = grand total; each level's counts sum to the corpus
    (0L to 3L).foreach { g =>
      val rows = out.filter(_.getAs[Long]("gid") == g)
      assert(rows.nonEmpty, s"gid $g")
      assert(rows.map(_.getAs[Long]("n_orders")).sum == n, s"gid $g mass")
      rows.foreach { r =>
        assert(r.isNullAt(1) == ((g & 1L) == 1L), s"priority null iff bit 1 ($g)")
        assert(r.isNullAt(0) == ((g & 2L) == 2L), s"status null iff bit 2 ($g)")
      }
    }
    val grand = out.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1)
    // revenue conserves across levels too (exact decimal sums cast
    // double at the edge — identical partial sums, so bit-equal)
    val total = grand.head.getAs[Double]("revenue")
    (0L to 2L).foreach { g =>
      val s = out.filter(_.getAs[Long]("gid") == g)
        .map(_.getAs[Double]("revenue")).sum
      assert(math.abs(s - total) <= math.abs(total) * 1e-12, s"gid $g revenue")
    }
  }
}
