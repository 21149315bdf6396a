package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GraphQueries}

/** Invariant pins for the round-9 curation/retrieval operators —
  * properties the DuckDB oracle's hash match can't express (the
  * oracle proves engine equality; these prove the CONTRACT). */
class TrainingData5Spec extends SparkTestBase {

  private def splitOfRep(c: org.apache.spark.sql.Column) =
    when(substring(md5(c.cast("string")), 1, 1).isin("c", "d"), "val")
      .when(substring(md5(c.cast("string")), 1, 1).isin("e", "f"), "test")
      .otherwise("train")

  test("leakage-safe split: no near-dup group straddles splits, docs conserved") {
    val groups = Dedup.dupGroups(
      Dedup.minhashLshPairs(spark, sf, portableHashes = true))
    val membership = groups
      .select(col("canonical_id"), explode(col("members")).as("doc_id"))
    // the fixture must actually contain multi-doc groups or the test
    // is vacuous
    assert(membership.count() > 0, "corpus has no near-dup groups")
    // group-keyed hashing ⇒ every member lands in its rep's split
    val straddle = membership
      .withColumn("split", splitOfRep(col("canonical_id")))
      .groupBy(col("canonical_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddle == 0, s"$straddle groups straddle splits")
    val out = SparkEntry.queries("t_leakage_safe_split")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_._2).sum == nDocs, "split doc counts must conserve corpus")
    assert(out.map(_._4).sum == membership.count(),
      "grouped-doc accounting must equal group membership")
  }

  test("rrf fusion: dense top-5 per query, score consistent with the ranks") {
    val out = SparkEntry.queries("sim_rrf_fusion")(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("fused_rk")).sorted.toSeq ==
        (1 to rows.length), "fused ranks must be dense from 1")
      assert(rows.length <= 5)
    }
    out.foreach { r =>
      val lex = r.getAs[Int]("lex_rk"); val vec = r.getAs[Int]("vec_rk")
      assert(lex >= -1 && vec >= -1 && (lex > 0 || vec > 0),
        "a fused doc must appear in at least one source ranking")
      val expected =
        (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
          (if (vec > 0) 1.0 / (60 + vec) else 0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expected) < 1e-6,
        "rrf must equal the reciprocal-rank sum of its own rank columns")
    }
  }

  test("adamic-adar: predicted pairs are non-adjacent 2-hop pairs with positive score") {
    val out = SparkEntry.queries("g_adamic_adar")(spark, sf)
    val und = GraphQueries.knnUndirected(spark, sf)
    assert(out.count() > 0, "fixture produced no candidate links")
    val adjacentLeaks = out.join(und,
      col("u") === col("src") && col("v") === col("dst")).count()
    assert(adjacentLeaks == 0, "link prediction must exclude existing edges")
    assert(out.filter(col("aa") <= 0.0 || col("n_common") < 1).count() == 0)
    assert(out.filter(col("u") >= col("v")).count() == 0,
      "pairs must be canonically ordered u < v")
  }

  test("temperature mix: alpha shares normalize and compress toward uniform") {
    val rows = SparkEntry.queries("t_temperature_mix")(spark, sf).collect()
    val raw = rows.map(_.getAs[Double]("raw_share"))
    val alpha = rows.map(_.getAs[Double]("alpha_share"))
    assert(math.abs(raw.sum - 1.0) < 1e-4 && math.abs(alpha.sum - 1.0) < 1e-4)
    // α < 1 flattens the distribution: the spread must shrink
    assert(alpha.max / alpha.min < raw.max / raw.min,
      "temperature scaling must compress the share range")
    // and the rarest language must be UP-sampled relative to the top one
    val byRaw = rows.sortBy(_.getAs[Double]("raw_share"))
    assert(byRaw.head.getAs[Double]("multiplier") >
      byRaw.last.getAs[Double]("multiplier"))
  }

  test("calibration bins: partition the corpus, rates and means in-range") {
    val rows = SparkEntry.queries("t_calibration_ece")(spark, sf).collect()
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val pr = r.getAs[Double]("pos_rate")
      val ms = r.getAs[Double]("mean_score")
      assert(pr >= 0.0 && pr <= 1.0)
      // bin 9 absorbs the [0.9, 1.0] tail, others are exact deciles
      val lo = bin / 10.0; val hi = if (bin == 9) 1.0 else (bin + 1) / 10.0
      assert(ms >= lo - 1e-6 && ms <= hi + 1e-6,
        s"bin $bin mean $ms outside [$lo, $hi]")
    }
  }

  test("dow seasonality: day-weighted seasonal index averages to exactly 1") {
    val rows = SparkEntry.queries("w_dow_seasonality")(spark, sf).collect()
    assert(rows.length == 7, "every weekday must appear")
    val days = rows.map(_.getAs[Long]("n_days"))
    val idx = rows.map(_.getAs[Double]("seasonal_index"))
    val weighted = days.zip(idx).map { case (n, i) => n * i }.sum / days.sum
    assert(math.abs(weighted - 1.0) < 1e-9,
      "index is avg/overall, so the day-weighted mean must be 1")
  }

  test("chi-square: output self-consistent (dof, effect size, bounds)") {
    val r = SparkEntry.queries("a_chi_square")(spark, sf).head()
    val chi2 = r.getAs[Double]("chi2")
    val n = r.getAs[Long]("n_docs"); val rr = r.getAs[Long]("n_langs")
    val cc = r.getAs[Long]("n_sources")
    assert(chi2 >= 0.0)
    assert(r.getAs[Long]("dof") == (rr - 1) * (cc - 1))
    val v = math.sqrt(chi2 / (n.toDouble * math.min(rr - 1, cc - 1)))
    assert(math.abs(r.getAs[Double]("cramers_v") - v) < 1e-5)
    assert(v >= 0.0 && v <= 1.0, "Cramér's V is bounded in [0, 1]")
  }

  test("holt-winters: fold equals a bit-exact sequential Scala replay") {
    // day renders ISO (NTZ LocalDateTime today; string-sort == time-sort
    // for any temporal encoding the schema contract allows)
    val out = SparkEntry.queries("w_holt_winters")(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.length > 14, "needs at least two full weekly seasons")
    // sequential replay of the published recurrence, same op order
    val byYear = out.groupBy(_._1.take(4)).toSeq.sortBy(_._1)
    byYear.foreach { case (_, rows0) =>
      val rows = rows0.sortBy(_._1)
      var l = 0.0; var b = 0.0; val sArr = Array.fill(7)(0.0)
      rows.zipWithIndex.foreach { case ((_, rev, level, trend, seasonal, fc), i) =>
        val t = i + 1
        val shat = sArr((t - 1) % 7)
        val lprev = if (t == 1) rev else l
        val lNew = 0.3 * (rev - shat) + 0.7 * (lprev + b)
        val bNew = 0.1 * (lNew - lprev) + 0.9 * b
        sArr((t - 1) % 7) = 0.2 * (rev - lNew) + 0.8 * shat
        l = lNew; b = bNew
        val fcExp = lNew + bNew + sArr(t % 7)
        assert(level == lNew && trend == bNew && seasonal == shat && fc == fcExp,
          s"t=$t diverged: ($level,$trend,$seasonal,$fc) vs ($lNew,$bNew,$shat,$fcExp)")
      }
    }
    // the seasonal component must actually engage after one season
    assert(out.count(_._5 != 0.0) > 0, "seasonal never updated — vacuous")
  }

  test("kmv sketch: exact below k, engaged estimator above, error consistent") {
    val rows = SparkEntry.queries("a_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Int]("kmv_k") == 8),
      "no source reached k distinct values — estimator never engaged")
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_distinct_exact")
      val est = r.getAs[Double]("kmv_est")
      if (r.getAs[Int]("kmv_k") < 8)
        assert(est == exact.toDouble, "below k the KMV count is exact")
      else // k=8 is a noisy sketch; the DETERMINISTIC value is
        // oracle-pinned — this is just a sanity envelope
        assert(est > exact / 5.0 && est < exact * 5.0,
          s"estimate $est implausible vs exact $exact")
      assert(math.abs(r.getAs[Double]("rel_err") -
        math.abs(est - exact) / exact) < 1e-5)
    }
  }

  test("compaction plan: bins dense, capacity respected, FFD-tight") {
    val rows = SparkEntry.queries("o_compaction_plan")(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Int]("bin"),
        r.getAs[Long]("cap")))
    val cap = rows.head._3
    val loads = rows.groupBy(_._2).map { case (b, g) => (b, g.map(_._1).sum) }
    assert(loads.values.forall(_ <= cap), "a bin exceeds capacity")
    val bins = loads.keys.toSeq.sorted
    assert(bins == (1 to bins.length), s"bin ids not dense: $bins")
    // FFD can't use more than twice the volume lower bound (loose
    // envelope; the exact plan is oracle-pinned)
    val total = rows.map(_._1).sum
    assert(bins.length <= 2 * ((total + cap - 1) / cap).toInt + 1)
    // largest group goes first, into bin 1
    assert(rows.maxBy(_._1)._2 == 1)
  }

  test("psi drift: buckets partition both periods, contributions non-negative") {
    val rows = SparkEntry.queries("a_psi_drift")(spark, sf).collect()
    val total = graft.sources.Tables.table(spark, sf, "events").count()
    assert(rows.map(r => r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur")).sum
      == total, "bucket counts must conserve the event stream")
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 1 && b <= 10)
      // (p−q)·ln(p/q) ≥ 0 pointwise — a negative contribution is a bug
      assert(r.getAs[Double]("psi_contrib") >= 0.0)
    }
    assert(rows.length >= 2, "PSI over one bucket is vacuous")
  }

  test("domain filter: kept accounting matches the keep flag") {
    val rows = SparkEntry.queries("t_domain_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kept = r.getAs[Long]("n_docs_kept")
      assert(kept == (if (r.getAs[Boolean]("keep_source")) r.getAs[Long]("n_docs") else 0L))
    }
  }
}
