package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-17 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData22Spec extends SparkTestBase {

  test("interpolate: spine is contiguous, known days pass through, fills bracket") {
    val out = SparkEntry.queries("w_interpolate_linear")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // contiguous calendar spine
    val days = out.map(_.getAs[java.sql.Date]("day").toLocalDate)
    days.sliding(2).foreach {
      case Array(a, b) => assert(b == a.plusDays(1), s"gap between $a and $b")
      case _ =>
    }
    // endpoints of the spine are known by construction (min/max day)
    assert(!out.head.getAs[Boolean]("is_interpolated"))
    assert(!out.last.getAs[Boolean]("is_interpolated"))
    var prevKnown = Double.NaN
    val n = out.length
    for (i <- 0 until n) {
      val r = out(i)
      if (!r.getAs[Boolean]("is_interpolated")) {
        // known day: filled == rev_cents/100 exactly
        assert(r.getAs[Double]("filled") ==
          r.getAs[Long]("rev_cents") / 100.0)
        prevKnown = r.getAs[Double]("filled")
      } else {
        assert(r.isNullAt(r.fieldIndex("rev_cents")))
        // interpolated value lies within [prevKnown, nextKnown]
        val nextKnown = out.drop(i + 1)
          .find(!_.getAs[Boolean]("is_interpolated"))
          .map(_.getAs[Double]("filled")).getOrElse(prevKnown)
        val lo = math.min(prevKnown, nextKnown) - 1e-6
        val hi = math.max(prevKnown, nextKnown) + 1e-6
        val f = r.getAs[Double]("filled")
        assert(f >= lo && f <= hi, s"fill $f outside [$lo, $hi] at $i")
      }
    }
    // at the gate scale the series genuinely has gaps to repair
    assert(out.exists(_.getAs[Boolean]("is_interpolated")),
      "sf0.001 daily series must exercise the interpolation branch")
  }

  test("span corruption: stats are consistent and match a driver replay") {
    val out = SparkEntry.queries("t_span_corruption")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val c = r.getAs[Long]("n_corrupted")
      val sp = r.getAs[Long]("n_spans")
      val mx = r.getAs[Long]("max_span_len")
      assert(c <= n && sp <= c && mx <= c)
      if (c > 0) assert(sp >= 1 && mx >= 1)
      if (c == 0) assert(sp == 0 && mx == 0)
      // spans of length >= 1 partition the corrupted set
      assert(mx * sp >= c, "longest span times span count bounds corrupted")
    }
    // driver replay of one mid-size doc
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
    val sample = docs.sortBy(_.getAs[Long]("doc_id")).take(20)
    val md = java.security.MessageDigest.getInstance("MD5")
    def coin(docId: Long, i: Int): Boolean = {
      val h = md.digest(s"${docId}_$i".getBytes("UTF-8"))
      val hex = "%02x".format(h(0)).charAt(0)
      hex == '0' || hex == '1'
    }
    sample.foreach { dr =>
      val id = dr.getAs[Long]("doc_id")
      val toks = dr.getAs[String]("text").split("\\s+")
      val flags = toks.indices.map(i => coin(id, i + 1))
      val nC = flags.count(identity)
      val nSp = flags.indices.count(i => flags(i) && (i == 0 || !flags(i - 1)))
      val row = out.find(_.getAs[Long]("doc_id") == id).get
      assert(row.getAs[Long]("n_tokens") == toks.length.toLong, s"doc $id")
      assert(row.getAs[Long]("n_corrupted") == nC.toLong, s"doc $id")
      assert(row.getAs[Long]("n_spans") == nSp.toLong, s"doc $id")
    }
  }
}
