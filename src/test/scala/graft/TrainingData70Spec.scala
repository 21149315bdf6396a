package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-11 batch-70 operators — naive driver
  * replays independent of the operators' zero-cell / profile /
  * integral-division shortcuts.
  */
class TrainingData70Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("cramers v: orders pair replays from the dense contingency grid") {
    val out = SparkEntry.queries("a_cramers_v")(spark, sf).collect()
    assert(out.length == 3)
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toLong
    val xs = rows.map(_._1).distinct.sorted
    val ys = rows.map(_._2).distinct.sorted
    val cnt = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rm = rows.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val cm = rows.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    // naive: every (x, y) grid cell, zero cells included
    var chi2 = 0.0
    for (x <- xs; y <- ys) {
      val e = rm(x).toDouble * cm(y).toDouble / n.toDouble
      val o = cnt.getOrElse((x, y), 0L).toDouble
      chi2 += (o - e) * (o - e) / e
    }
    val r = out.find(_.getString(0) == "orders_priority_x_status").get
    assert(r.getLong(1) == n)
    assert(r.getLong(2) == xs.length.toLong && r.getLong(3) == ys.length.toLong)
    // the zero-cell-free fold must equal the dense scan to float noise
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-6)
    val k = math.min(xs.length, ys.length).toLong
    // same 1e-6-class slack as chi2: the naive dense scan and the
    // zero-cell-free fold take different float paths
    assert(math.abs(r.getAs[Double]("v") -
      math.sqrt(chi2 / (n.toDouble * (k - 1)))) < 1e-5)
    out.foreach { q =>
      assert(q.getAs[Double]("v") >= 0.0 && q.getAs[Double]("v") <= 1.0)
      assert(q.getAs[Double]("v_corrected") >= 0.0)
    }
  }

  test("hoeffding sample advisor: exact-moment replay; bound ordering") {
    val out = SparkEntry.queries("a_hoeffding_sample")(spark, sf).collect()
    assert(out.length == 6)
    val cents = graft.sources.Tables.table(spark, sf, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0))
    val n = BigInt(cents.length)
    val s = cents.map(BigInt(_)).sum
    val ss = cents.map(c => BigInt(c) * BigInt(c)).sum
    val meanUsd = ((s * 10000) / n).toDouble / 1e6
    val varUsd2 = (((n * ss - s * s) * 100) / (n * (n - 1))).toDouble / 1e6
    val rangeUsd = (cents.max - cents.min).toDouble / 100.0
    out.foreach { r =>
      val eps = r.getAs[Double]("eps_rel") * meanUsd
      val delta = r.getAs[Double]("delta")
      val z = if (delta == 0.05) 1.959963984540054 else 2.5758293035489004
      val nh = math.ceil(rangeUsd * rangeUsd * math.log(2.0 / delta) /
        (2.0 * eps * eps)).toLong
      val nc = math.ceil(z * z * varUsd2 / (eps * eps)).toLong
      assert(r.getLong(3) == nh, s"n_hoeffding @$eps")
      assert(r.getLong(4) == nc, s"n_clt @$eps")
      assert(nh > nc, "the distribution-free bound always costs more here")
      assert(r.getAs[Double]("hoeffding_penalty") > 1.0)
    }
  }

  test("hill diversity: per-lang replay; the Hill ladder is monotone") {
    val out = SparkEntry.queries("t_hill_diversity")(spark, sf).collect()
    assert(out.nonEmpty)
    val toks = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    out.foreach { r =>
      val lang = r.getString(0)
      val counts = toks.filter(_._1 == lang).groupBy(_._2)
        .map { case (_, v) => v.length.toLong }.toSeq
      val t = counts.sum
      assert(r.getLong(1) == counts.length.toLong, s"richness $lang")
      assert(r.getLong(2) == t, s"total $lang")
      // replay through the count-of-counts profile in c order
      val prof = counts.groupBy(identity).map { case (c, v) =>
        (c, v.size.toLong) }.toSeq.sortBy(_._1)
      val sclnc = prof.foldLeft(0.0) { case (a, (c, m)) =>
        a + m.toDouble * c.toDouble * math.log(c.toDouble) }
      val h = math.log(t.toDouble) - sclnc / t.toDouble
      val sc2 = prof.map { case (c, m) => m * c * c }.sum
      assert(r.getAs[Double]("hill1") == r6(math.exp(h)), s"hill1 $lang")
      assert(r.getAs[Double]("hill2") ==
        r6(t.toDouble * t.toDouble / sc2.toDouble), s"hill2 $lang")
      // dominance ladder: N0 >= N1 >= N2 >= 1
      assert(r.getLong(1).toDouble >= r.getAs[Double]("hill1"))
      assert(r.getAs[Double]("hill1") >= r.getAs[Double]("hill2"))
      assert(r.getAs[Double]("hill2") >= 1.0)
      val ev = r.getAs[Double]("evenness")
      assert(ev > 0.0 && ev <= 1.0)
    }
  }

  test("b-bit minhash: estimates replay from the signatures; pairs at the lsh threshold") {
    val out = SparkEntry.queries("dedup_bbit_minhash")(spark, sf).collect()
    assert(out.nonEmpty)
    val sigs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        Dedup.minhashSignature(col("text"), 64, 3, portableHashes = true)
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    out.foreach { r =>
      val (s1, s2) = (sigs(r.getLong(0)), sigs(r.getLong(1)))
      val m64 = s1.zip(s2).count { case (a, b) => a == b }.toDouble / 64.0
      val m1 = s1.zip(s2).count { case (a, b) => a % 2 == b % 2 }
        .toDouble / 64.0
      assert(r.getAs[Double]("est_k64") == r6(m64))
      assert(r.getAs[Double]("est_b1") == r6(math.max(2.0 * m1 - 1.0, 0.0)))
      assert(r.getAs[Double]("j_exact") >= 0.7,
        "candidates inherit the lsh exact-jaccard floor")
      assert(r.getAs[Double]("est_b1") >= 0.0 &&
        r.getAs[Double]("est_b1") <= 1.0)
    }
  }
}
