package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityQueries

/** Invariant pins for the round-7 embedding extensions. Value-level
  * correctness is the DuckDB oracle's job (full-replay oracles in
  * SimilarityQueries.oracles); these pin the structural contracts that an
  * oracle hash can't express as clearly.
  */
class TrainingData4Spec extends SparkTestBase {

  test("sim_kmeans: every vector assigned exactly once, clusters in 1..8, cos in [-1,1]") {
    val out = SparkEntry.queries("sim_kmeans")(spark, sf).cache()
    try {
      val n = graft.sources.Tables.table(spark, sf, "embeddings").count()
      assert(out.count() == n)
      assert(out.select(countDistinct(col("vec_id"))).head.getLong(0) == n)
      val bad = out.filter(col("cluster") < 1 || col("cluster") > 8 ||
        col("cos") < -1.000001 || col("cos") > 1.000001).count()
      assert(bad == 0L)
      // refinement must not leave empty clusters on this corpus: the
      // md5 seeds are spread, so all 8 survive the Lloyd step
      assert(out.select(countDistinct(col("cluster"))).head.getLong(0) == 8L)
    } finally out.unpersist()
  }

  test("sim_cluster_purity: members sum to corpus, purity in (0,1]") {
    val out = SparkEntry.queries("sim_cluster_purity")(spark, sf).cache()
    try {
      val n = graft.sources.Tables.table(spark, sf, "embeddings").count()
      assert(out.agg(sum(col("n_members"))).head.getLong(0) == n)
      assert(out.filter(col("purity") <= 0.0 || col("purity") > 1.0).count() == 0L)
      // dominant label must be one of the corpus labels
      val labels = graft.sources.Tables.table(spark, sf, "embeddings")
        .select(col("label").cast("long")).distinct().collect().map(_.getLong(0)).toSet
      assert(out.collect().forall(r => labels.contains(r.getAs[Long]("dominant_label"))))
    } finally out.unpersist()
  }

  test("e_pq_codes: one row per vector, code_sum within the 8x16 codebook bounds") {
    val out = SparkEntry.queries("e_pq_codes")(spark, sf).cache()
    try {
      val n = graft.sources.Tables.table(spark, sf, "embeddings").count()
      assert(out.count() == n)
      // code_sum = sum over m of (m+1)*cid with cid in 1..16:
      // min = sum(m+1) = 36, max = 16 * 36 = 576
      assert(out.filter(col("code_sum") < 36 || col("code_sum") > 576).count() == 0L)
      assert(out.filter(col("mse") < 0.0).count() == 0L)
    } finally out.unpersist()
  }

  test("dedup_containment: directed, within (0,1], and identical-set pairs appear both ways") {
    val out = graft.operators.Dedup.containmentPairs(spark, sf).cache()
    try {
      assert(out.filter(col("containment") <= 0.0 || col("containment") > 1.0).count() == 0L)
      assert(out.filter(col("d1") === col("d2")).count() == 0L)
      // each directed pair appears exactly once (no duplicate
      // emission from the within/cross union)
      assert(out.count() ==
        out.select(col("d1"), col("d2")).distinct().count())
      // directionality: C(A->B) >= J(A,B) always, so every Jaccard
      // pair at the same shingle width must appear here in at least
      // one direction at a >= threshold (0.8 vs jaccard 0.5 means we
      // only check the jaccard-1.0 exact-dup pairs)
      val j1 = graft.operators.Dedup.ngramJaccardPairs(spark, sf)
        .filter(col("jaccard") === 1.0).select(col("d1"), col("d2"))
      val missing = j1.join(out.select(col("d1"), col("d2")),
        Seq("d1", "d2"), "left_anti").count()
      assert(missing == 0L, s"$missing jaccard-1.0 pairs absent from containment")
    } finally out.unpersist()
  }

  test("t_split_contamination: valid split labels, positive counts, symmetric shared-gram counts") {
    val out = SparkEntry.queries("t_split_contamination")(spark, sf).cache()
    try {
      val splits = Set("train", "val", "test")
      val rows = out.collect()
      assert(rows.forall(r => splits.contains(r.getAs[String]("split_from")) &&
        splits.contains(r.getAs[String]("split_to"))))
      assert(rows.forall(r => r.getAs[Long]("n_leaky_docs") > 0L &&
        r.getAs[Long]("n_shared_grams") > 0L))
      // the shared-GRAM count is direction-free (docs counts are not)
      val grams = rows.map(r => (r.getAs[String]("split_from"),
        r.getAs[String]("split_to")) -> r.getAs[Long]("n_shared_grams")).toMap
      for (((a, b), g) <- grams)
        assert(grams.get((b, a)).contains(g), s"asymmetric grams for ($a,$b)")
    } finally out.unpersist()
  }

  test("t_oov_rate: three splits, rate consistent with counts, non-vacuous OOV") {
    val out = SparkEntry.queries("t_oov_rate")(spark, sf).cache()
    try {
      val rows = out.collect()
      assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
      for (r <- rows) {
        val n = r.getAs[Long]("n_tokens"); val oov = r.getAs[Long]("n_oov")
        assert(n > 0 && oov >= 0 && oov <= n)
        assert(math.abs(r.getAs[Double]("oov_rate") - oov.toDouble / n) < 1e-12)
      }
      // the top-16 cutoff must leave the OOV path exercised on this
      // corpus (31 distinct tokens) — a vacuous all-zero op is a bug
      assert(rows.exists(_.getAs[Long]("n_oov") > 0L))
    } finally out.unpersist()
  }

  test("ev_peak_concurrency: sweep conserves opens/closes and peak bounds hold") {
    val out = SparkEntry.queries("ev_peak_concurrency")(spark, sf).cache()
    try {
      val n = graft.sources.Tables.table(spark, sf, "events").count()
      // every event opens exactly once, somewhere
      assert(out.agg(sum(col("n_opens"))).head.getLong(0) == n)
      // peak is at least 1 on any day with an open, and can never
      // exceed that day's open count (+ carry-over from the 5-minute
      // horizon of the previous day's final opens)
      assert(out.filter(col("n_opens") > 0 && col("peak_active") < 1).count() == 0L)
      val bad = out.filter(col("peak_active") > col("n_opens") + 10).count()
      assert(bad == 0L, "peak exceeds opens plus any plausible midnight carry")
    } finally out.unpersist()
    // an interval open past midnight carries into the next day: A
    // opens 23:58, B and C open together early next day → day-2
    // peak 3 is reachable ONLY via the carry
    import spark.implicits._
    val dir = tmpDir()
    Seq(
      (1L, "2024-03-01 23:58:00", 10L, "view", 1.0, "{}"),
      (2L, "2024-03-02 00:01:00", 11L, "view", 1.0, "{}"),
      (3L, "2024-03-02 00:02:00", 12L, "view", 1.0, "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    val carried = SparkEntry.queries("ev_peak_concurrency")(spark, dir)
      .select(col("day").cast("string"), col("peak_active"), col("n_opens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(carried.contains(("2024-03-02", 3L, 2L)),
      "a day-2 peak that needs day-1's open interval")
  }

  test("j_interval_overlap: pair counts bounded by active-user pairs, argmax pair ordered") {
    val out = SparkEntry.queries("j_interval_overlap")(spark, sf).cache()
    try {
      val activePairs = graft.sources.Tables.table(spark, sf, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("u"))
        .select(col("day"), (col("u") * (col("u") - 1) / 2).as("max_pairs"))
      val viol = out.join(activePairs, "day")
        .filter(col("n_pairs") > col("max_pairs")).count()
      assert(viol == 0L)
      assert(out.filter(col("top_u1") >= col("top_u2")).count() == 0L)
      assert(out.filter(col("max_overlap_us") < 600L * 1000000L).count() == 0L)
    } finally out.unpersist()
  }

  test("e_quantize_int8: codes bounded in [0,255], full dim coverage, distortion below one step") {
    val out = SparkEntry.queries("e_quantize_int8")(spark, sf).cache()
    try {
      assert(out.filter(col("max_code") > 255 || col("max_code") < 0).count() == 0L)
      assert(out.filter(col("n_dims") =!= 64).count() == 0L)
      // midpoint reconstruction error is ≤ step/2 per dim; mean must
      // stay well under one per-dim step for a non-degenerate corpus
      assert(out.filter(col("mean_abs_err") < 0.0).count() == 0L)
      assert(out.agg(max(col("mean_abs_err"))).head.getDouble(0) < 0.05)
    } finally out.unpersist()
  }

  test("t_split_contamination: df-capped boilerplate drops, rare leakage survives") {
    import spark.implicits._
    // the split rule the operator applies (md5 first nibble of doc_id)
    def splitOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(h(0)).charAt(0) match {
        case 'c' | 'd' => "val"
        case 'e' | 'f' => "test"
        case _ => "train"
      }
    }
    // 200 docs all carrying the SAME 13-token boilerplate (one
    // shingle, df=200 ≫ 64): the hot key that makes the posting
    // self-join quadratic — the cap must drop it entirely
    val boiler = (1 to 13).map(i => s"b$i").mkString(" ")
    val boilerDocs = (1L to 200L).map(i => (i, boiler))
    // plus one genuinely leaked passage: a unique 13-gram shared by
    // exactly two docs that the md5 rule puts in different splits
    val leakIds = (201L to 400L).groupBy(splitOf).map(_._2.head).toSeq.sorted
    assert(leakIds.size >= 2)
    val (idA, idB) = (leakIds(0), leakIds(1))
    val leak = (1 to 13).map(i => s"u$i").mkString(" ")
    val docsDf = (boilerDocs ++ Seq((idA, leak), (idB, leak)))
      .toDF("doc_id", "text")
    val capped = graft.operators.TextQueries
      .splitContaminationOf(docsDf, maxDf = 64).collect()
    // only the rare leak registers: one ordered pair each way, one
    // shared gram, one leaky doc
    val expected = Set(
      (splitOf(idA), splitOf(idB), 1L, 1L),
      (splitOf(idB), splitOf(idA), 1L, 1L))
    val got = capped.map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"got $got")
    // with the cap lifted the boilerplate floods every split pair —
    // the contrast that shows the cap is doing the dropping
    val uncapped = graft.operators.TextQueries
      .splitContaminationOf(docsDf, maxDf = 1000)
      .agg(sum(col("n_leaky_docs"))).head.getLong(0)
    assert(uncapped > 200L, s"uncapped leaky-doc mass $uncapped")
  }

  test("sim_kmeans_converged: early stop fires on a separable corpus, capped on the gate corpus") {
    import spark.implicits._
    // two tight, well-separated direction clusters: Lloyd fixes in a
    // couple of passes, so the early-stop branch (never reached on
    // the gate corpus, which needs ~12) is actually exercised
    val a = Seq(1.0, 0.0, 0.0, 0.0); val b = Seq(0.0, 1.0, 0.0, 0.0)
    def jit(v: Seq[Double], i: Int): Seq[Double] = {
      val raw = v.zipWithIndex.map { case (x, j) =>
        x + (if (j == (i % 4)) 0.001 * i else 0.0) }
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val emb = ((1 to 6).map(i => (i.toLong, jit(a, i))) ++
      (7 to 12).map(i => (i.toLong, jit(b, i)))).toDF("vec_id", "e")
    val out = graft.operators.SimilarityQueries.kmeansConvergedOf(emb).collect()
    assert(out.length == 12)
    val iters = out.map(_.getAs[Long]("iters")).distinct
    assert(iters.length == 1 && iters.head >= 2 && iters.head < 6,
      s"expected early stop, got iters=${iters.toSeq}")
    // fixed point reached → deterministic across reruns
    val again = graft.operators.SimilarityQueries.kmeansConvergedOf(emb).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    // gate corpus: hits the documented cap, still one row per vector
    val full = SparkEntry.queries("sim_kmeans_converged")(spark, sf)
    val n = graft.sources.Tables.table(spark, sf, "embeddings").count()
    assert(full.count() == n)
    assert(full.select(col("iters")).distinct().head().getLong(0) == 6L)
  }

  test("sim_ivf_pq_search: 5 results per query, positive distances, no self-matches") {
    val out = SparkEntry.queries("sim_ivf_pq_search")(spark, sf).cache()
    try {
      val rows = out.collect()
      val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
      assert(perQuery.size == 10)
      perQuery.foreach { case (q, rs) =>
        assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to 5), s"query $q")
        assert(rs.forall(_.getAs[Long]("neighbor_id") != q))
        // ADC distances are sums of squared sub-distances
        assert(rs.forall(_.getAs[Double]("approx_dist") >= 0.0))
        // ranks follow the distance order
        val byRk = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("approx_dist"))
        assert(byRk.zip(byRk.tail).forall { case (x, y) => x <= y }, s"query $q")
      }
    } finally out.unpersist()
  }

  test("sim_ann_recall_eval: one row per query, recall consistent with hits") {
    val out = SparkEntry.queries("sim_ann_recall_eval")(spark, sf).collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("n_returned") == 5L)
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 5L)
      assert(r.getAs[Double]("recall_at_5") == hits.toDouble / 5.0)
    }
    // the IVF index must find SOMETHING on this corpus — an all-zero
    // recall eval means the index or the eval join is broken
    assert(out.map(_.getAs[Long]("n_hits")).sum > 0L)
  }

  test("sql_recursive_batched: batch folds reproduce the sequential product bit-for-bit") {
    val out = SparkEntry.queries("sql_recursive_batched")(spark, sf)
      .orderBy(col("yr"), col("mo")).collect()
    assert(out.length > 33, "needs 3+ batches of 16 to exercise the recursion")
    // sequential replay in plain Scala over the SAME monthly doubles:
    // idx_k = idx_{k-1} * (rev_k / rev_{k-1}) left-to-right — the
    // batched aggregate() folds must match exactly, not approximately
    val revs = out.map(_.getAs[Double]("rev"))
    var idx = 100.0
    val expected = revs.zipWithIndex.map { case (r, i) =>
      if (i == 0) 100.0
      else {
        idx = idx * (r / revs(i - 1))
        // Spark's round(double, 6) semantics: HALF_UP via BigDecimal
        java.math.BigDecimal.valueOf(idx)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
    val got = out.map(_.getAs[Double]("growth_index"))
    assert(got.toSeq == expected.toSeq)
  }

  test("t_k_anonymity: rollup internally consistent, corpus covered, non-vacuous risk") {
    val out = SparkEntry.queries("t_k_anonymity")(spark, sf).collect()
    val n = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == n, "every document audited")
    out.foreach { r =>
      assert(r.getAs[Long]("n_risky_buckets") <= r.getAs[Long]("n_buckets"))
      assert(r.getAs[Long]("n_docs_at_risk") <= r.getAs[Long]("n_docs"))
      // a risky bucket has < 5 members by definition
      assert(r.getAs[Long]("n_docs_at_risk") < 5 * math.max(1L, r.getAs[Long]("n_risky_buckets")) ||
        r.getAs[Long]("n_risky_buckets") == 0L)
      assert(math.abs(r.getAs[Double]("risk_share") -
        r.getAs[Long]("n_docs_at_risk").toDouble / r.getAs[Long]("n_docs")) < 1e-12)
    }
    // the synthetic corpus has sparse QI cells — an all-zero audit
    // would mean the bucketing is degenerate
    assert(out.map(_.getAs[Long]("n_docs_at_risk")).sum > 0L)
  }

  test("ev_rfm_segments: users and events conserved, well-formed quartile labels") {
    val out = SparkEntry.queries("ev_rfm_segments")(spark, sf).collect()
    val ev = graft.sources.Tables.table(spark, sf, "events")
    assert(out.map(_.getAs[Long]("n_users")).sum ==
      ev.select(countDistinct(col("user_id"))).head().getLong(0))
    assert(out.map(_.getAs[Long]("total_events")).sum == ev.count())
    val pat = "^R[1-4]F[1-4]M[1-4]$".r
    assert(out.forall(r => pat.matches(r.getAs[String]("segment"))))
    assert(out.forall(_.getAs[Double]("avg_recency_days") >= 0.0))
    // quartiles must actually spread: more than one segment
    assert(out.length > 1)
  }

  test("t_ngram_novelty: first document is fully novel, rates bounded, corpus covered") {
    val out = SparkEntry.queries("t_ngram_novelty")(spark, sf).collect()
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    assert(out.length == docs.count())
    out.foreach { r =>
      val nv = r.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams"))
    }
    // the smallest doc_id first-occurs every one of its grams
    val minDoc = out.minBy(_.getAs[Long]("doc_id"))
    assert(minDoc.getAs[Double]("novelty") == 1.0)
    // duplicates exist in the corpus → someone's novelty is < 1
    assert(out.exists(_.getAs[Double]("novelty") < 1.0))
  }

  test("w_cusum_drift: non-negative statistic, both alarm states, full day coverage") {
    val out = SparkEntry.queries("w_cusum_drift")(spark, sf).collect()
    val days = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderdate")).distinct().count()
    assert(out.length == days)
    out.foreach { r =>
      assert(r.getAs[Double]("cusum") >= 0.0)
      // a zero statistic can never alarm (threshold is 0.5·mu > 0)
      if (r.getAs[Double]("cusum") == 0.0) assert(!r.getAs[Boolean]("alarm"))
    }
    val alarms = out.count(_.getAs[Boolean]("alarm"))
    assert(alarms > 0 && alarms < out.length,
      s"degenerate alarm mix: $alarms of ${out.length}")
  }

  test("e_quantize_int8: a constant dimension quantizes to code 0 with zero error") {
    import spark.implicits._
    // dim 1 is constant across the corpus → hi == lo → step == 0; the
    // unguarded (v-lo)/step is 0/0 = NaN, which a non-ANSI long cast
    // silently turns into 0 while an ANSI engine (the oracle) errors.
    // The guard must make the degenerate bucket explicit and exact.
    val emb = Seq(
      (1L, Seq(0.5, 1.0, -2.0)),
      (2L, Seq(0.5, 3.0, 4.0)),
      (3L, Seq(0.5, 2.0, 0.0))).toDF("vec_id", "e")
    val out = graft.operators.EmbeddingQueries.quantizeInt8Of(emb).collect()
    assert(out.length == 3)
    // no NaN/null leaked into any aggregate
    out.foreach { r =>
      assert(!r.anyNull, s"null in $r")
      assert(!r.getAs[Double]("mean_abs_err").isNaN, s"NaN in $r")
      assert(r.getAs[Long]("n_dims") == 3L)
    }
    // an all-constant corpus row: every dim constant → all codes 0,
    // reconstruction exact
    val flat = Seq((1L, Seq(2.0, 2.0)), (2L, Seq(2.0, 2.0)))
      .toDF("vec_id", "e")
    val fo = graft.operators.EmbeddingQueries.quantizeInt8Of(flat).collect()
    fo.foreach { r =>
      assert(r.getAs[Long]("sum_code") == 0L && r.getAs[Long]("max_code") == 0L)
      assert(r.getAs[Double]("mean_abs_err") == 0.0)
    }
  }
}
