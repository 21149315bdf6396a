package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupQueries

/** Invariant pins for the round-10 batch-54 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData54Spec extends SparkTestBase {

  private def doc(id: Long, toks: String*): (Long, String) =
    (id, toks.mkString(" "))

  test("exact substring dedup: planted spans recovered with exact lengths") {
    import spark.implicits._
    val span = (1 to 17).map(i => s"s$i")
    // doc1/doc2: the full 17-token span behind unrelated filler;
    // doc3: only 9 shared tokens (< L=10) — must NOT pair;
    // doc4: two partial copies (s1..s11 and s6..s17) — two diagonals
    val docs = Seq(
      doc(1L, (1 to 5).map(i => s"u$i") ++ span ++ (6 to 10).map(i => s"u$i"): _*),
      doc(2L, (1 to 4).map(i => s"v$i") ++ span ++ (5 to 9).map(i => s"v$i"): _*),
      doc(3L, (1 to 6).map(i => s"x$i") ++ span.take(9) ++ (7 to 12).map(i => s"x$i"): _*),
      doc(4L, (1 to 3).map(i => s"y$i") ++ span.take(11) ++
        Seq("z1", "z2", "z3") ++ span.drop(5) ++ Seq("y4"): _*))
      .toDF("doc_id", "text")
    val out = DedupQueries.exactSubstringOf(docs, 10, 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("span_tokens"), r.getAs[Long]("n_anchors"),
          r.getAs[Long]("n_diagonals"))).toMap
    // (1,2): one maximal 17-token span = 8 consecutive anchors, 1 diag
    assert(out((1L, 2L)) == (17L, 8L, 1L))
    // (1,4)/(2,4): spans of 11 (2 anchors) and 12 (3 anchors) on two
    // diagonals — max span 12, 5 anchors total
    assert(out((1L, 4L)) == (12L, 5L, 2L))
    assert(out((2L, 4L)) == (12L, 5L, 2L))
    // doc3 shares only 9 consecutive tokens — below the anchor length
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    assert(out.size == 3)
  }

  test("exact substring dedup: df-cap drops boilerplate anchors, mirrored semantics") {
    import spark.implicits._
    val span = (1 to 17).map(i => s"s$i")
    val docs = Seq(
      doc(1L, (1 to 5).map(i => s"u$i") ++ span ++ (6 to 10).map(i => s"u$i"): _*),
      doc(2L, (1 to 4).map(i => s"v$i") ++ span ++ (5 to 9).map(i => s"v$i"): _*),
      doc(4L, (1 to 3).map(i => s"y$i") ++ span.take(11) ++
        Seq("z1", "z2", "z3") ++ span.drop(5) ++ Seq("y4"): _*))
      .toDF("doc_id", "text")
    // with maxDf=2 the anchors present in all three docs (df=3:
    // s1..s10, s2..s11, s6..s15, s7..s16, s8..s17) are dropped as
    // boilerplate; (1,2) survives on its df=2 middle anchors
    // (s3..s12, s4..s13, s5..s14 → run 3 → span 12), the doc-4 pairs
    // lose every anchor
    val out = DedupQueries.exactSubstringOf(docs, 10, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("span_tokens"), r.getAs[Long]("n_anchors"),
          r.getAs[Long]("n_diagonals"))).toMap
    assert(out == Map((1L, 2L) -> (12L, 3L, 1L)))
  }

  test("exact substring dedup on the corpus: spans bounded by doc length, symmetric-free") {
    val out = SparkEntry.queries("dedup_exact_substring")(spark, sf)
      .collect()
    assert(out.nonEmpty, "the generator plants verbatim spans")
    val nToks = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "pairs are canonical (doc_a < doc_b)")
      val span = r.getAs[Long]("span_tokens")
      assert(span >= 10 && span <= math.min(nToks(a), nToks(b)),
        s"span $span must fit in both docs ($a, $b)")
      assert(r.getAs[Long]("n_anchors") >= span - 10 + 1)
      assert(r.getAs[Long]("n_diagonals") >= 1)
    }
  }

  test("rerank agreement: driver replay of the two orders and Kendall tau") {
    val out = SparkEntry.queries("r_rerank_agreement")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_concordant"), r.getAs[Long]("n_discordant"),
          r.getAs[Double]("kendall_tau"), r.getAs[Long]("rerank_top1_bi_rank")))
      .toMap
    assert(out.size == 10)
    // driver replay with the SAME left-fold dot order (index order —
    // bit-identical to the native DotProduct expression)
    val embs = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double], n: Int): Double = {
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double], n: Int): Double =
      dot(a, b, n) / (math.sqrt(dot(a, a, n)) * math.sqrt(dot(b, b, n)))
    (0L until 10L).foreach { q =>
      val qe = embs(q)
      val others = embs.keys.filter(_ != q).toSeq
      val biOrder = others
        .map(n => (n, cos(qe, embs(n), 16)))
        .sortBy { case (n, c) => (-c, n) }.take(10)
      val cand = biOrder.map(_._1)
      val biRank = cand.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
      val fullRank = cand
        .map(n => (n, cos(qe, embs(n), qe.length)))
        .sortBy { case (n, c) => (-c, n) }
        .zipWithIndex.map { case ((n, _), i) => n -> (i + 1) }.toMap
      var c = 0L; var d = 0L
      for (i <- cand.indices; j <- cand.indices if cand(i) < cand(j)) {
        val p = (biRank(cand(i)) - biRank(cand(j))).toLong *
          (fullRank(cand(i)) - fullRank(cand(j)))
        if (p > 0) c += 1 else if (p < 0) d += 1
      }
      val tau = BigDecimal((c - d).toDouble / (c + d).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val top1Bi = biRank(fullRank.minBy(_._2)._1).toLong
      assert(out(q) == ((c, d, tau, top1Bi)), s"query $q")
      assert(c + d == 45L, s"10 candidates, no ties (query $q)")
    }
  }
}
