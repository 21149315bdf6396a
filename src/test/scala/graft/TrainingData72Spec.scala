package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-72 operators. */
class TrainingData72Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("char entropy gate: per-doc entropy replays; gates partition the corpus") {
    val out = SparkEntry.queries("t_char_entropy_gate")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def entropy(text: String): Double = {
      val counts = text.toSeq.groupBy(identity).toSeq
        .map { case (ch, v) => (ch.toString, v.length.toLong) }
        .sortBy(_._1)
      val len = counts.map(_._2).sum
      val sclnc = counts.foldLeft(0.0) { case (a, (_, c)) =>
        a + c.toDouble * math.log(c.toDouble) }
      math.log(len.toDouble) - sclnc / len.toDouble
    }
    out.foreach { r =>
      val lang = r.getString(0)
      val ds = docs.filter(_._2 == lang).sortBy(_._1)
      val hs = ds.map(d => entropy(d._3))
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(2) == hs.count(_ < 2.5).toLong, s"repetitive $lang")
      assert(r.getLong(3) == hs.count(_ > 4.5).toLong, s"noise $lang")
      assert(r.getAs[Double]("mean_entropy") ==
        r6(hs.foldLeft(0.0)(_ + _) / ds.length), s"mean $lang")
      val keep = r.getAs[Double]("keep_rate")
      assert(keep >= 0.0 && keep <= 1.0)
      assert(r.getLong(1) >= r.getLong(2) + r.getLong(3),
        "gates never overlap: lo < hi")
    }
  }

  test("kendall tau-b: exact pair counts replay; tau within [-1, 1]") {
    val out = SparkEntry.queries("a_kendall_taub")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .cast("long").as("y"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    val n = daily.length.toLong
    var (c, dd, tx, ty, txy) = (0L, 0L, 0L, 0L, 0L)
    for (i <- daily.indices; j <- (i + 1) until daily.length) {
      val sx = java.lang.Long.compare(daily(j)._2, daily(i)._2)
      val sy = java.lang.Long.compare(daily(j)._3, daily(i)._3)
      if (sx * sy > 0) c += 1
      else if (sx * sy < 0) dd += 1
      else if (sx == 0 && sy == 0) txy += 1
      else if (sx == 0) tx += 1
      else ty += 1
    }
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == n * (n - 1) / 2)
    assert(r.getLong(2) == c && r.getLong(3) == dd)
    assert(r.getLong(4) == tx && r.getLong(5) == ty)
    val n0 = n * (n - 1) / 2
    val tau = (c - dd).toDouble /
      math.sqrt((n0 - tx - txy).toDouble * (n0 - ty - txy).toDouble)
    assert(r.getAs[Double]("tau_b") == r6(tau))
    assert(math.abs(r.getAs[Double]("tau_b")) <= 1.0)
  }

  test("rowgroup advisor: widths replay from exact lengths; groups cover rows") {
    val out = SparkEntry.queries("o_rowgroup_advisor")(spark, sf).collect()
    assert(out.length == 4)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(length(col("text")) + length(col("lang")) +
        length(col("source")))
      .collect().map(_.getInt(0).toLong)
    val expWidth = 16L + docs.sum / docs.length
    val dr = out.find(_.getString(0) == "documents").get
    assert(dr.getLong(1) == docs.length.toLong)
    assert(dr.getLong(2) == expWidth)
    out.foreach { r =>
      val (rows, width, perGroup, groups) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(width > 0 && perGroup > 0)
      assert(perGroup * width <= 128L * 1024 * 1024 || perGroup == rows)
      assert(perGroup * groups >= rows, "groups cover the table")
      assert(perGroup * (groups - 1) < rows, "no empty trailing group")
    }
  }
}
