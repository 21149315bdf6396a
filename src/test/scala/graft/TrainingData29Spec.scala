package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-24 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData29Spec extends SparkTestBase {

  test("ARI: bounds, self-agreement, and a hand-checked 2x2 case") {
    val out = SparkEntry.queries("sim_ari")(spark, sf).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[String]("comparison")).toSet ==
      Set("cellsA_vs_label", "cellsA_vs_cellsB", "cellsB_vs_label"))
    val n = out.head.getAs[Long]("n")
    out.foreach { row =>
      // every comparison covers the whole corpus
      assert(row.getAs[Long]("n") == n)
      val ari = row.getAs[Double]("ari")
      // ARI is bounded above by 1; below it can dip slightly negative
      assert(ari <= 1.0 && ari >= -1.0)
      // pair sums can never exceed total pairs
      val pairsTotal = n * (n - 1) / 2
      assert(row.getAs[Long]("pairs_in_both") <= pairsTotal)
      assert(row.getAs[Long]("pairs_u") <= pairsTotal)
      assert(row.getAs[Long]("pairs_v") <= pairsTotal)
      // pairs agreeing in both can't exceed either marginal
      assert(row.getAs[Long]("pairs_in_both") <=
        math.min(row.getAs[Long]("pairs_u"), row.getAs[Long]("pairs_v")))
    }
    // differential: ARI of a clustering with itself is exactly 1 —
    // recompute the formula driver-side from one assignment joined
    // to itself ([n=4] hand case: {a,a,b,b} vs {x,x,y,y} → ARI 1;
    // {a,a,b,b} vs {x,y,x,y} → ARI negative)
    def ariOf(u: Seq[Int], v: Seq[Int]): Double = {
      val cont = u.zip(v).groupBy(identity).view.mapValues(_.size.toLong)
      def c2(x: Long) = x * (x - 1) / 2
      val inBoth = cont.values.map(c2).sum
      val pu = cont.groupBy(_._1._1).values.map(g => c2(g.map(_._2).sum)).sum
      val pv = cont.groupBy(_._1._2).values.map(g => c2(g.map(_._2).sum)).sum
      val nn = u.length.toLong
      val exp = pu.toDouble * pv / c2(nn)
      if ((pu + pv) / 2.0 == exp) 1.0
      else (inBoth - exp) / ((pu + pv) / 2.0 - exp)
    }
    assert(ariOf(Seq(1, 1, 2, 2), Seq(3, 3, 4, 4)) == 1.0)
    assert(ariOf(Seq(1, 1, 2, 2), Seq(3, 4, 3, 4)) < 0.0)
  }

  test("RAKE: word scores and phrase scores recompose on the corpus") {
    val out = SparkEntry.queries("t_rake_keywords")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 25)
    // phrases contain no stopword tokens and are at most 4 words
    val stops = graft.functions.TextFunctions.stopwords.toSet
    out.foreach { row =>
      val words = row.getAs[String]("phrase").split(" ")
      assert(words.length <= 4 && words.length == row.getAs[Long]("n_words"))
      assert(words.forall(w => !stops(w)))
      assert(row.getAs[Long]("n_occ") >= 1L)
    }
    // descending score with the phrase tiebreak
    val keys = out.map(r => (-r.getAs[Double]("score"),
      r.getAs[String]("phrase"))).toSeq
    assert(keys == keys.sorted)
    // differential: recompute the full RAKE pipeline driver-side on
    // the small-SF corpus (segmentation → deg/freq → phrase scores →
    // top-25) and require the exact same rows
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val occ = docs.flatMap { case (_, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val runs = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      toks.foreach { t =>
        if (stops(t)) { if (cur.nonEmpty) { runs += cur.toSeq; cur.clear() } }
        else cur += t
      }
      if (cur.nonEmpty) runs += cur.toSeq
      runs.filter(_.length <= 4)
    }
    val freq = occ.flatten.groupBy(identity).view.mapValues(_.length.toLong)
    val deg = occ.flatMap(ws => ws.map(w => w -> ws.length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
    def score(ws: Seq[String]): Double =
      math.rint(ws.map(w => deg(w).toDouble / freq(w)).sum * 1e6) / 1e6
    val expected = occ.groupBy(_.mkString(" ")).map { case (p, xs) =>
      (p, xs.length.toLong, xs.head.length.toLong, xs.map(score).max)
    }.toSeq.sortBy { case (p, _, _, s) => (-s, p) }.take(25)
    assert(out.length == expected.length)
    out.zip(expected).foreach { case (row, (p, nOcc, nWords, s)) =>
      assert(row.getAs[String]("phrase") == p)
      assert(row.getAs[Long]("n_occ") == nOcc)
      assert(row.getAs[Long]("n_words") == nWords)
      assert(math.abs(row.getAs[Double]("score") - s) < 1e-6)
    }
  }

  test("TWAP: constant-value users equal that value; spans conserve") {
    val out = SparkEntry.queries("w_twap")(spark, sf).collect()
    assert(out.nonEmpty)
    // differential on the full small-SF events table
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.sortBy(x => (x._2, x._3)).toSeq).toMap
    out.foreach { row =>
      val uid = row.getAs[Long]("user_id")
      val xs = byUser(uid)
      assert(row.getAs[Long]("n_events") == xs.length.toLong)
      val durs = xs.zip(xs.tail).map { case (a, b) => (b._2 - a._2, a._4) }
      assert(row.getAs[Long]("span_us") == durs.map(_._1).sum)
      val twap = durs.map { case (d, v) => v * d }.sum / durs.map(_._1).sum
      assert(math.abs(row.getAs[Double]("twap") -
        math.rint(twap * 1e6) / 1e6) < 1e-6)
    }
    // single-event users are excluded by contract
    val single = byUser.count(_._2.length < 2)
    assert(out.length == byUser.size - single)
  }
}
