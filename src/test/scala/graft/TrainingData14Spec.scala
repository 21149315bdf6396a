package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Invariant pins for the round-9 batch-11 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData14Spec extends SparkTestBase {

  test("kneser-ney: per-w1 probabilities sum to one over the event space") {
    // For any seen LHS w1, summing P(w2|w1) over ALL train
    // continuations w2 gives (c1 − D·N1p)/c1 + λ·Σ P_cont = 1 exactly
    // when Σ_w2 N1p(·w2) = B. Verify on the most frequent w1.
    val base = graft.sources.Tables.table(spark, sf, "documents")
      .withColumn("held", substring(md5(col("text")), 1, 1) === "f")
    val tb = base.filter(!col("held"))
      .select(explode(TF.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .cache()
    val top = tb.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1p")).orderBy(desc("c1"), col("w1")).head()
    val w1 = top.getString(0); val c1 = top.getLong(1); val n1p = top.getLong(2)
    val b = tb.count().toDouble
    val contOf = tb.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seen = tb.filter(col("w1") === w1)
      .select(col("w2"), col("c12")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lambda = 0.75 * n1p / c1
    var total = 0.0
    contOf.foreach { case (w2, cont) =>
      val c12 = seen.getOrElse(w2, 0L).toDouble
      total += math.max(c12 - 0.75, 0.0) / c1 + lambda * (cont / b)
    }
    assert(math.abs(total - 1.0) < 1e-9,
      s"KN bigram distribution for '$w1' must normalize, got $total")
    // and the query output is consistent: scored mass never exceeds total
    val out = SparkEntry.queries("t_kneser_ney")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_scored") <= r.getAs[Long]("n_bigrams"))
      if (!r.isNullAt(r.fieldIndex("cross_entropy")))
        assert(r.getAs[Double]("cross_entropy") > 0.0)
    }
  }

  test("consistent hashing: only the new shard's captures move") {
    val out = SparkEntry.queries("o_consistent_hash")(spark, sf).collect()
    val total = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    out.foreach { r =>
      if (r.getAs[Long]("n_moved") > 0)
        assert(r.getAs[Long]("moved_to") == 8L,
          "consistent hashing: every moved doc lands on the NEW shard")
      else assert(r.isNullAt(r.fieldIndex("moved_to")))
    }
    // adding 4 of 36 ring points captures ~1/9 of keys — loose bound
    val moved = out.map(_.getAs[Long]("n_moved")).sum.toDouble / total
    assert(moved < 0.35, s"resharding moved $moved of the corpus")
  }
}
