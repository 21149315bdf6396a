package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupQueries

/** Invariant pins for the round-10 batch-55 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData55Spec extends SparkTestBase {

  private def doc(id: Long, toks: String*): (Long, String) =
    (id, toks.mkString(" "))

  test("substring scrub: keep-first intervals merge exactly on planted docs") {
    import spark.implicits._
    val span = (1 to 17).map(i => s"s$i")
    // doc1 keeps (earliest); doc2 loses the whole 17-token span;
    // doc4 loses two DISJOINT partial copies (11 + 12 tokens);
    // doc6 accumulates OVERLAPPING intervals from partners 1/2/4
    // ([4,20], [4,14], [9,20]) that must merge to one 17-token cut
    val docs = Seq(
      doc(1L, (1 to 5).map(i => s"u$i") ++ span ++ (6 to 10).map(i => s"u$i"): _*),
      doc(2L, (1 to 4).map(i => s"v$i") ++ span ++ (5 to 9).map(i => s"v$i"): _*),
      doc(4L, (1 to 3).map(i => s"y$i") ++ span.take(11) ++
        Seq("z1", "z2", "z3") ++ span.drop(5) ++ Seq("y4"): _*),
      doc(6L, Seq("t1", "t2", "t3") ++ span ++ Seq("t4"): _*))
      .toDF("doc_id", "text")
    val out = DedupQueries.substringScrubOf(docs, 10, 64)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("tokens_removed"),
          r.getAs[Long]("n_intervals"))).toMap
    assert(out == Map(
      2L -> (26L, 17L, 1L),
      4L -> (30L, 23L, 2L),
      6L -> (21L, 17L, 1L)))
  }

  test("substring scrub on the corpus: exactly the detector's later docs, bounded cuts") {
    val scrub = SparkEntry.queries("dedup_substring_scrub")(spark, sf)
      .collect()
    assert(scrub.nonEmpty)
    val laterDocs = SparkEntry.queries("dedup_exact_substring")(spark, sf)
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(scrub.map(_.getLong(0)).toSet == laterDocs,
      "every later pair member is scrubbed, nothing else")
    scrub.foreach { r =>
      val removed = r.getAs[Long]("tokens_removed")
      assert(removed >= 10 && removed <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_intervals") >= 1)
      val ratio = r.getAs[Double]("removed_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("mrr/map: driver replay of label-relevance retrieval metrics") {
    val out = SparkEntry.queries("sim_mrr_map")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_relevant_at_10"), r.getAs[Double]("reciprocal_rank"),
          r.getAs[Double]("avg_precision"), r.getAs[Double]("mrr_at_10"),
          r.getAs[Double]("map_at_10"))).toMap
    assert(out.size == 10)
    val rows = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val embs = rows.map(t => t._1 -> t._3).toMap
    val labels = rows.map(t => t._1 -> t._2).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perQ = (0L until 10L).map { q =>
      val top = embs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(embs(q), embs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(10).map(_._1)
      val rels = top.map(n => if (labels(n) == labels(q)) 1 else 0)
      val nRel = rels.sum.toLong
      val rr = rels.indexOf(1) match {
        case -1 => 0.0
        case i  => 1.0 / (i + 1)
      }
      val ap =
        if (nRel == 0) 0.0
        else rels.zipWithIndex.collect { case (1, i) =>
          rels.take(i + 1).sum.toDouble / (i + 1)
        }.sum / nRel
      q -> (nRel, rr, ap)
    }.toMap
    val mrr = r6(perQ.toSeq.sortBy(_._1).map(_._2._2).sum / 10.0)
    val map = r6(perQ.toSeq.sortBy(_._1).map(_._2._3).sum / 10.0)
    (0L until 10L).foreach { q =>
      val (nRel, rr, ap) = perQ(q)
      assert(out(q) == ((nRel, r6(rr), r6(ap), mrr, map)), s"query $q")
    }
  }
}
