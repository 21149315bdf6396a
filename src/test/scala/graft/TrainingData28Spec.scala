package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-23 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData28Spec extends SparkTestBase {

  test("pareto frontier: matches the quadratic dominance definition") {
    val out = SparkEntry.queries("o_pareto_frontier")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // differential: the linear sweep must equal the O(n²) skyline
    // (minimize price, maximize size) computed directly on the
    // collected small-SF part table
    val parts = graft.sources.Tables.table(spark, sf, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    def dominated(q: (Long, Long, Int)): Boolean = parts.exists { p =>
      p._2 <= q._2 && p._3 >= q._3 && (p._2 < q._2 || p._3 > q._3)
    }
    val skyline = parts.filterNot(dominated)
      .groupBy(p => (p._2, p._3))
      .map { case ((pc, sz), rows) => (pc, sz, rows.size.toLong, rows.map(_._1).min) }
      .toSeq.sortBy(_._1)
    assert(out.length == skyline.size)
    out.zip(skyline).foreach { case (row, (pc, sz, nTied, sample)) =>
      assert(row.getAs[Double]("price") == pc * 10000L / 1e6)
      assert(row.getAs[Int]("best_size") == sz)
      assert(row.getAs[Long]("n_tied") == nTied)
      assert(row.getAs[Long]("sample_partkey") == sample)
    }
    // frontier monotonicity: size strictly increases with price
    val sizes = out.map(_.getAs[Int]("best_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a < b })
  }

  test("basket pairs: support bounds and lift recomposition hold") {
    val out = SparkEntry.queries("q_basket_pairs")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val items = graft.sources.Tables.table(spark, sf, "lineitem")
      .join(graft.sources.Tables.table(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nBaskets = items.map(_._1).distinct.length.toLong
    val supp = items.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
    val byBasket = items.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
    out.foreach { row =>
      val (a, b) = (row.getAs[String]("brand_a"), row.getAs[String]("brand_b"))
      assert(a < b)
      val sp = row.getAs[Long]("supp_pair")
      // exact pair support recomputed from the baskets
      assert(sp == byBasket.count(s => s(a) && s(b)).toLong)
      // monotonicity: a pair can never beat its rarer member
      assert(sp <= math.min(supp(a), supp(b)))
      // both members passed the 5% Apriori prune, the pair the 1% one
      assert(supp(a) * 20 >= nBaskets && supp(b) * 20 >= nBaskets)
      assert(sp * 100 >= nBaskets)
      val lift = math.rint(sp.toDouble * nBaskets.toDouble /
        (supp(a).toDouble * supp(b).toDouble) * 1e6) / 1e6
      assert(math.abs(row.getAs[Double]("lift") - lift) < 1e-9)
    }
    // descending support order with the documented tiebreak
    val keys = out.map(r => (-r.getAs[Long]("supp_pair"),
      r.getAs[String]("brand_a"), r.getAs[String]("brand_b"))).toSeq
    assert(keys == keys.sorted)
  }

  test("domain cap: per-source kept counts, cutoff, and shares agree") {
    val out = SparkEntry.queries("t_domain_cap")(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySource = docs.groupBy(_._2)
    val keptTotal = bySource.values
      .map(xs => math.min(18, xs.length).toLong).sum
    out.foreach { row =>
      val src = row.getAs[String]("source")
      val xs = bySource(src)
      val kept = xs.sortBy(x => (x._3, x._1)).take(18)
      assert(row.getAs[Long]("n_docs") == xs.length.toLong)
      assert(row.getAs[Long]("n_kept") == kept.length.toLong)
      assert(row.getAs[Long]("n_dropped") == (xs.length - kept.length).toLong)
      assert(row.getAs[String]("cutoff_hash") == kept.map(_._3).max)
      assert(row.getAs[Double]("share_after") ==
        kept.length.toLong * 1000000L / keptTotal / 1e6)
    }
    // the cap conserves the corpus: kept + dropped = total
    assert(out.map(r => r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")).sum
      == docs.length.toLong)
  }
}
