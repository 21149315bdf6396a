package graft

import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.operators.{AnalyticsQueries, GraphQueries}

/** Invariant pins for the round-9 batch-2 operators — properties the
  * DuckDB oracle's hash match can't express (the oracle proves engine
  * equality; these prove the CONTRACT). */
class TrainingData6Spec extends SparkTestBase {

  test("mann-kendall: S bounded, z sign and trend label consistent") {
    val r = SparkEntry.queries("a_mann_kendall")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val n = row.getAs[Long]("n_days"); val s = row.getAs[Long]("s_stat")
    val varS = row.getAs[Double]("var_s"); val z = row.getAs[Double]("z")
    val trend = row.getAs[String]("trend")
    assert(math.abs(s) <= n * (n - 1) / 2, "S is a sum of n(n-1)/2 signs")
    assert(varS > 0.0, "variance must be positive for n > 2")
    assert(z == 0.0 || (z > 0) == (s > 0), "z carries S's sign")
    val expected = if (z > 1.96) "increasing"
      else if (z < -1.96) "decreasing" else "no_trend"
    assert(trend == expected, s"trend label must follow z=$z")
  }

  test("gopher rules: per-rule counts bound the conjunctive keep") {
    val out = SparkEntry.queries("t_gopher_rules")(spark, sf).collect()
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "rule table must conserve the corpus")
    out.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val rules = Seq("r_wordcount", "r_wordlen", "r_stopword", "r_alpha",
        "r_ttr").map(r.getAs[Long])
      rules.foreach(c => assert(c >= 0 && c <= n, "rule count within [0, n]"))
      assert(r.getAs[Long]("n_keep") <= rules.min,
        "conjunctive keep cannot exceed any single rule's pass count")
    }
  }

  test("attribution: both models conserve purchase count and revenue") {
    val out = SparkEntry.queries("ev_attribution")(spark, sf).collect()
    val purchases = graft.sources.Tables.table(spark, sf, "events")
      .filter(col("event_type") === "purchase")
    val nP = purchases.count()
    val total = purchases
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    assert(out.map(_.getAs[Long]("n_first")).sum == nP)
    assert(out.map(_.getAs[Long]("n_last")).sum == nP)
    assert(math.abs(out.map(_.getAs[Double]("first_touch_value")).sum
      - total) < 1e-6, "first-touch credit must sum to total revenue")
    assert(math.abs(out.map(_.getAs[Double]("last_touch_value")).sum
      - total) < 1e-6, "last-touch credit must sum to total revenue")
    val types = Set("signup", "error", "click", "view", "none")
    out.foreach(r => assert(types(r.getAs[String]("channel")),
      "channels are non-purchase event types or 'none'"))
  }

  test("kcore: output IS the fixpoint — recomputed degrees match, all >= 3") {
    val out = SparkEntry.queries("g_kcore")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty, "sf0.01 knn graph must have a non-empty 3-core")
    assert(rows.forall(_.getAs[Long]("core_deg") >= 3),
      "every core node keeps degree >= 3 inside the core")
    // differential: degrees of the induced subgraph on the core's
    // node set must reproduce the query output exactly
    val coreNodes = out.select(col("node")).localCheckpoint()
    val und = GraphQueries.knnUndirected(spark, sf)
    val recomputed = und
      .join(coreNodes.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(coreNodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    assert(recomputed.exceptAll(out).isEmpty && out.exceptAll(recomputed).isEmpty,
      "induced-subgraph degrees must equal the query output (fixpoint)")
  }

  test("poisson bootstrap: 64 replicates, CI brackets the point estimate") {
    val r = SparkEntry.queries("a_poisson_bootstrap")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("b_reps") == 64)
    val lo = row.getAs[Double]("boot_lo"); val hi = row.getAs[Double]("boot_hi")
    val pt = row.getAs[Double]("point_mean")
    assert(lo <= hi && lo <= pt && pt <= hi,
      s"95% CI [$lo, $hi] must bracket the point mean $pt")
    assert(row.getAs[Double]("boot_se") > 0.0)
  }

  test("poisson weights: mean resample mass stays near 1 per replicate") {
    // the inverse-CDF thresholds must actually produce Poisson(1)-mean
    // weights: each replicate's total weight ~ n ± 4σ (σ = √n: the
    // total of n Poisson(1) draws is Poisson(n))
    val ev = graft.sources.Tables.table(spark, sf, "events")
    val n = ev.count()
    val tArr = array(AnalyticsQueries.poissonT.map(v => lit(v)): _*)
    val masses = ev
      .withColumn("b", explode(sequence(lit(0), lit(7)))) // 8 replicates suffice
      .withColumn("h", conv(substring(md5(concat(
        col("event_id").cast("string"), lit("#"), col("b").cast("string"))),
        1, 12), 16, 10).cast("long"))
      .withColumn("w", size(filter(tArr, t => t <= col("h"))).cast("long"))
      .groupBy(col("b")).agg(sum(col("w")).as("nb"))
      .collect().map(_.getAs[Long]("nb"))
    val bound = 4.0 / math.sqrt(n.toDouble)
    masses.foreach(m => assert(math.abs(m.toDouble / n - 1.0) < bound,
      s"replicate mass $m vs n=$n drifts beyond 4 sigma"))
  }

  test("mmr: dense steps, distinct picks, scores non-increasing, greedy head") {
    val out = SparkEntry.queries("sim_mmr")(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("step"))
      assert(sorted.map(_.getAs[Int]("step")).toSeq == (1 to 5),
        "steps must be dense 1..5")
      val ids = sorted.map(_.getAs[Long]("doc_id"))
      assert(ids.distinct.length == 5, "picks must be distinct")
      val scores = sorted.map(_.getAs[Double]("mmr"))
      scores.zip(scores.drop(1)).foreach { case (a, b) =>
        assert(b <= a + 1e-9,
          s"greedy MMR scores must be non-increasing for q=$qid")
      }
    }
    // step-1 pick is the plain cosine argmax (MMR with empty picked set)
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val qe = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val top1 = emb.join(broadcast(qe), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rn") === 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id"))
      .toMap
    byQ.foreach { case (qid, rows) =>
      val first = rows.minBy(_.getAs[Int]("step")).getAs[Long]("doc_id")
      assert(first == top1(qid), s"step-1 pick for q=$qid must be the argmax")
    }
  }
}
