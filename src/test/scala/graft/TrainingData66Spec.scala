package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupQueries
import graft.functions.Similarity

/** Invariant pins for the batch-66 observability operators beyond
  * the oracle's engine-equality hash. */
class TrainingData66Spec extends SparkTestBase {

  test("tier census: known-df fixture lands exact band arithmetic") {
    import spark.implicits._
    val span = (1 to 10).map(i => s"s$i") // exactly one anchor per doc
    // 5 docs carry the shared 10-gram (df=5 → high-df at cap 2);
    // 2 docs share a second span (df=2 → pair tier); 3 docs unique
    val docs = ((1L to 5L).map(id =>
      (id, (span ++ Seq(s"u${id}_1", s"u${id}_2")).mkString(" "))) ++
      (6L to 7L).map(id =>
        (id, ((1 to 10).map(i => s"p$i") ++ Seq(s"v${id}_1")).mkString(" "))) ++
      (8L to 10L).map(id =>
        (id, (1 to 12).map(i => s"w${id}_$i").mkString(" "))))
      .toDF("doc_id", "text")
    val out = DedupQueries.tierCensusOf(docs, 10, 2).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_postings"), r.getAs[Long]("max_df"),
        r.getAs[Long]("pair_work"))).toMap
    // doc 1-5: anchors = span@1, (span,u1)@2, (span,u1,u2)... each doc
    // has 3 anchor positions: span (df 5) and two unique straddlers;
    // docs 6-7: 2 anchors (p-span df 2, straddler unique);
    // docs 8-10: 3 unique anchors each
    assert(out("3_highdf_tier") == (1L, 5L, 5L, 10L))   // C(5,2)=10
    assert(out("2_pair_tier") == (1L, 2L, 2L, 1L))      // C(2,2)=1
    // unique grams: 5 docs × 2 straddlers + 2 docs × 1 + 3 docs × 3
    assert(out("1_unique") == (21L, 21L, 1L, 0L))
  }

  test("pq recall eval: reconciles row-for-row with its two composed operators") {
    val pq = SparkEntry.queries("sim_ivf_pq_search")(spark, sf)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n")).toMap
    val bf = Similarity.bruteForceTopK(spark, sf, 10, 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = SparkEntry.queries("sim_pq_recall_eval")(spark, sf)
      .collect()
    assert(out.length == pq.size && out.nonEmpty)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("n_returned") == pq(q))
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(r.getAs[Double]("recall_at_5") == hits.toDouble / 5.0)
    }
    // hits really are intersections with the exact ground truth
    val pqPairs = SparkEntry.queries("sim_ivf_pq_search")(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = pqPairs.groupBy(_._1)
      .map { case (q, ps) => q -> ps.count(bf.contains).toLong }
    out.foreach(r => assert(
      r.getAs[Long]("n_hits") == expect(r.getAs[Long]("query_id"))))
  }
}
