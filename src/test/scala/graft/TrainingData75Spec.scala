package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-11 batch-75 operators. */
class TrainingData75Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("method agreement: categories partition the union of both pair sets") {
    val out = SparkEntry.queries("dedup_method_agreement")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val lex = Dedup.minhashLshPairs(spark, sf, portableHashes = true)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = graft.functions.Similarity.cosineNearDupPairs(spark, sf, 0.4)
      .select(col("v1"), col("v2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Map(
      "both" -> (lex intersect sem),
      "lexical_only" -> (lex diff sem),
      "semantic_only" -> (sem diff lex)).filter(_._2.nonEmpty)
    assert(out.length == expected.size)
    var shares = 0.0
    out.foreach { r =>
      val cat = r.getString(0)
      val pairs = expected(cat)
      assert(r.getLong(1) == pairs.size.toLong, s"n_pairs $cat")
      assert(r.getLong(2) ==
        pairs.flatMap(p => Seq(p._1, p._2)).size.toLong, s"n_docs $cat")
      shares += r.getAs[Double]("share")
      assert(r.getAs[Double]("share") ==
        r6(pairs.size.toDouble / (lex union sem).size.toDouble))
    }
    assert(math.abs(shares - 1.0) < 1e-5, "shares cover the union")
  }

  test("hypothetical rank: counts replay; rank/cume monotone in the value") {
    val out = SparkEntry.queries("a_hypothetical_rank")(spark, sf)
      .collect()
    assert(out.length == 3)
    val cents = graft.sources.Tables.table(spark, sf, "orders")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long"))
      .collect().map(_.getLong(0))
    out.foreach { r =>
      val x = (r.getAs[Double]("hypothetical_usd") * 100).round
      assert(r.getLong(1) == cents.length.toLong)
      assert(r.getLong(2) == cents.count(_ < x).toLong + 1, s"rank @$x")
      assert(r.getAs[Double]("percent_rank") ==
        r6(cents.count(_ < x).toDouble / cents.length))
      assert(r.getAs[Double]("cume_dist") ==
        r6(cents.count(_ <= x).toDouble / cents.length))
      assert(r.getAs[Double]("cume_dist") >=
        r.getAs[Double]("percent_rank"))
    }
    val ranks = out.sortBy(_.getAs[Double]("hypothetical_usd"))
      .map(_.getLong(2))
    assert(ranks.sameElements(ranks.sorted), "rank monotone in the value")
  }
}
