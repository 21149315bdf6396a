package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-28 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData33Spec extends SparkTestBase {

  private def dailyCents(): Seq[(String, Long)] =
    graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").cast("string").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1)

  test("ESD sweep: driver replay of the 5 remove-and-rescore rounds") {
    val out = SparkEntry.queries("w_anomaly_esd")(spark, sf).collect()
    assert(out.length == 5)
    var remaining = dailyCents()
    (1 to 5).zip(out).foreach { case (i, row) =>
      val n = remaining.length.toDouble
      val s1 = remaining.map(_._2).sum.toDouble
      val s2 = remaining.map(x => x._2.toDouble * x._2).sum
      val mean = s1 / n
      val sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
      val worst = remaining.map { case (day, m) =>
        (day, m, math.abs(m.toDouble - mean) / sd)
      }.minBy { case (day, _, r) => (-r, day) }
      assert(row.getAs[Long]("iteration") == i.toLong)
      assert(row.getAs[Any]("day").toString.take(10) == worst._1.take(10))
      assert(row.getAs[Double]("revenue") == worst._2.toDouble / 100.0)
      assert(math.abs(row.getAs[Double]("r_stat") -
        math.rint(worst._3 * 1e6) / 1e6) < 1e-9)
      assert(row.getAs[Boolean]("flagged") == (worst._3 > 3.0))
      remaining = remaining.filterNot(_._1 == worst._1)
    }
  }

  test("James-Stein: shrinkage pulls every mean toward the grand mean") {
    val out = SparkEntry.queries("a_james_stein")(spark, sf).collect()
    assert(out.length > 3)
    val grand = out.head.getAs[Double]("grand_mean")
    out.foreach { row =>
      assert(row.getAs[Double]("grand_mean") == grand)
      val c = row.getAs[Double]("shrink_factor")
      assert(c == out.head.getAs[Double]("shrink_factor")) // one global c
      assert(c >= 0.0)
      val raw = row.getAs[Double]("mean_raw")
      val shrunk = row.getAs[Double]("mean_shrunk")
      // shrunk lies between raw and grand when c ∈ [0, 1]
      if (c <= 1.0) {
        assert(shrunk >= math.min(raw, grand) - 1e-6)
        assert(shrunk <= math.max(raw, grand) + 1e-6)
      }
      // replay: shrunk = grand + c (raw − grand), up to double round
      assert(math.abs(shrunk - (grand + c * (raw - grand))) < 1e-4)
    }
    // driver moment replay of the grand mean of group means
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val means = docs.groupBy(_._1).view
      .mapValues(xs => xs.map(_._2).sum.toDouble / xs.length)
    val expectGrand = means.values.sum / means.size
    assert(math.abs(grand - expectGrand) < 1e-4)
  }

  test("Haar pyramid: perfect reconstruction from (s, d) at each level") {
    val out = SparkEntry.queries("w_haar_decompose")(spark, sf).collect()
    val series = dailyCents().map(_._2)
    // driver replay of the 3 pairing levels
    var cur = series
    val expect = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    for (lvl <- 1 to 3) {
      val pairs = cur.grouped(2).toSeq
      pairs.zipWithIndex.foreach { case (p, i) =>
        if (p.length == 2)
          expect += ((lvl.toLong, "d", i.toLong + 1, p(0) - p(1)))
      }
      cur = pairs.map(_.sum)
    }
    cur.zipWithIndex.foreach { case (v, i) =>
      expect += ((3L, "s", i.toLong + 1, v))
    }
    val sorted = expect.sortBy(e => (e._1, e._2, e._3))
    assert(out.length == sorted.length)
    out.zip(sorted).foreach { case (row, (lvl, coef, idx, v)) =>
      assert(row.getAs[Long]("level") == lvl)
      assert(row.getAs[String]("coef") == coef)
      assert(row.getAs[Long]("idx") == idx)
      assert(row.getAs[Long]("value") == v)
    }
    // conservation: level-3 approximations sum to the series total
    val sSum = out.filter(r => r.getAs[String]("coef") == "s")
      .map(_.getAs[Long]("value")).sum
    assert(sSum == series.sum)
  }
}
