package graft

import org.apache.spark.sql.functions._


/** Semantic checks for the rank-stat / sketch / collocation / layout
  * operators (the DuckDB oracle checks cross-engine equivalence;
  * these check the math means what it claims).
  */
class TrainingData3Spec extends SparkTestBase {
  import spark.implicits._

  test("spearman: bounded on real data, exactly ±1 on monotone data") {
    val r = SparkEntry.queries("a_spearman")(spark, sf)
      .select("spearman_rho").as[Double].collect()
    assert(r.nonEmpty)
    r.foreach(rho => assert(rho >= -1.0 && rho <= 1.0))
    // planted: y monotone-increasing in x under flag "M" (rho = 1),
    // monotone-decreasing under "D" (rho = -1); ranks, not values
    val dir = tmpDir()
    val rows = (1 to 50).map(i => ("M", i, i * i)) ++
      (1 to 50).map(i => ("D", i, -3 * i))
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val planted = SparkEntry.queries("a_spearman")(spark, dir)
      .select("flag", "spearman_rho").as[(String, Double)].collect().toMap
    assert(planted("M") == 1.0 && planted("D") == -1.0)
  }

  test("count-min never underestimates and is exact sans collisions") {
    val r = SparkEntry.queries("a_countmin")(spark, sf)
      .select("exact_c", "cm_est", "est_ge_exact")
      .as[(Long, Long, Boolean)].collect()
    assert(r.length == 10)
    r.foreach { case (exact, est, flag) =>
      assert(flag && est >= exact)
    }
  }

  test("pmi: top bigrams are count-ordered and pmi is finite") {
    val r = SparkEntry.queries("t_pmi_bigrams")(spark, sf)
      .select("n_xy", "pmi").as[(Long, Double)].collect()
    assert(r.length == 20)
    assert(r.map(_._1).toSeq == r.map(_._1).toSeq.sortBy(-_))
    r.foreach { case (_, pmi) => assert(!pmi.isNaN && !pmi.isInfinite) }
  }

  test("components: planted clusters resolve, isolated nodes drop") {
    val dir = tmpDir()
    // ids 0-2 identical, ids 3-4 identical-but-orthogonal to them,
    // id 5 alone in another label block (no candidate pairs at all)
    val e1 = Array(1.0f, 0.0f); val e2 = Array(0.0f, 1.0f)
    Seq((0L, "a", e1), (1L, "a", e1), (2L, "a", e1),
        (3L, "a", e2), (4L, "a", e2), (5L, "b", e1))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("g_components")(spark, dir)
      .select("component", "n_members", "max_member")
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((0L, 3L, 2L), (3L, 2L, 4L)))
  }

  test("pagerank: 50 nodes, positive ranks, mass bounded by 1") {
    val r = SparkEntry.queries("g_pagerank")(spark, sf)
      .select("pagerank").as[Double].collect()
    assert(r.length > 0 && r.length <= 50) // capped by corpus vocabulary
    r.foreach(pr => assert(pr > 0.0 && pr < 1.0))
    // total mass ≤ 1 (dangling nodes leak), ≥ the teleport floor
    assert(r.sum <= 1.000001 && r.sum >= r.length * (0.15 / 50.0))
  }

  test("tfidf: per-doc top-3, scores non-increasing within doc") {
    val r = SparkEntry.queries("t_tfidf_topk")(spark, sf)
      .select("doc_id", "rk", "tfidf").as[(Long, Int, Double)].collect()
    r.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      val byRk = rows.sortBy(_._2).map(_._3)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lateral top-2 equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val viaSql = SparkEntry.queries("sql_lateral")(spark, sf)
      .as[(String, String, Double)].collect().toSeq
    val c = graft.sources.Tables.table(spark, sf, "customer")
    val n = graft.sources.Tables.table(spark, sf, "nation")
    val viaWin = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .withColumn("rk", row_number().over(Window.partitionBy($"n_name")
        .orderBy(desc("c_acctbal"), $"c_name")))
      .filter($"rk" <= 2)
      .select($"n_name", $"c_name", $"c_acctbal".cast("double").as("acctbal"))
      .orderBy($"n_name", desc("acctbal"), $"c_name")
      .as[(String, String, Double)].collect().toSeq
    assert(viaSql == viaWin)
  }

  test("ewma seeds on each year's first day and stays in the prefix range") {
    val r = SparkEntry.queries("w_ewma_revenue")(spark, sf)
      .select(year($"day").as("yr"), $"day", $"revenue", $"ewma")
      .as[(Int, java.sql.Timestamp, Double, Double)].collect()
      .groupBy(_._1)
    r.values.foreach { rows =>
      val sorted = rows.sortBy(_._2.getTime)
      assert(math.abs(sorted.head._4 - sorted.head._3) < 1e-6)
      sorted.inits.toSeq.reverse.drop(1).foreach { prefix =>
        val revs = prefix.map(_._3)
        val e = prefix.last._4
        assert(e >= revs.min - 1e-6 && e <= revs.max + 1e-6,
          "ewma is a convex combination of the prefix")
      }
    }
  }

  test("disjunctive revenue equals the sum of its three disjuncts") {
    val whole = SparkEntry.queries("q19_disjunctive")(spark, sf)
      .as[(Double, Long)].head()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = spark.read.parquet(s"$sf/part.parquet")
    val j = li.join(p, $"l_partkey" === $"p_partkey")
    def part(brand: String, s1: Int, s2: Int, q1: Int, q2: Int): (Double, Long) =
      j.filter($"p_brand" === brand && $"p_size".between(s1, s2) &&
          $"l_quantity".between(q1, q2))
        .agg(sum($"l_extendedprice".cast("decimal(18,2)") *
          (lit(1) - $"l_discount".cast("decimal(18,2)"))).cast("double"),
          count(lit(1)))
        .as[(Option[Double], Long)].head() match {
          case (rev, n) => (rev.getOrElse(0.0), n)
        }
    val parts = Seq(part("Brand#12", 1, 15, 1, 11),
      part("Brand#23", 10, 25, 10, 20), part("Brand#3", 20, 40, 20, 30))
    assert(whole._2 == parts.map(_._2).sum, "disjuncts are disjoint (brands differ)")
    assert(math.abs(whole._1 - parts.map(_._1).sum) < 1e-6)
    assert(whole._2 > 0, "predicate must actually select rows")
  }

  test("cdc apply: live keys = keys whose final event is not a tombstone") {
    val live = SparkEntry.queries("w_cdc_apply")(spark, sf)
      .agg(sum($"n_live")).as[Long].head()
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val expected = o.groupBy($"o_custkey")
      .agg(max(struct($"o_orderdate", $"o_orderkey", $"o_orderstatus")).as("m"))
      .filter($"m.o_orderstatus" =!= "F").count()
    assert(live == expected)
  }

  test("q8: market share is a valid fraction of total revenue") {
    val r = SparkEntry.queries("q8_market_share")(spark, sf)
      .select("nation_revenue", "total_revenue", "mkt_share")
      .as[(Double, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (nat, tot, share) =>
      assert(nat >= 0.0 && nat <= tot + 1e-9)
      assert(share >= 0.0 && share <= 1.0)
      assert(math.abs(share - nat / tot) < 1e-9)
    }
  }

  test("ks drift: bounded, and exactly 0 for identical samples") {
    val real = SparkEntry.queries("a_ks_drift")(spark, sf)
      .select("ks_stat").as[Double].head()
    assert(real >= 0.0 && real <= 1.0)
    val dir = tmpDir()
    val rows = (1 to 40).flatMap(i => Seq(
      (i.toLong, java.sql.Timestamp.valueOf("1996-03-01 00:00:00"), (i % 7) * 100.0),
      (i.toLong + 100, java.sql.Timestamp.valueOf("1999-03-01 00:00:00"), (i % 7) * 100.0)))
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val same = SparkEntry.queries("a_ks_drift")(spark, dir)
      .select("ks_stat").as[Double].head()
    assert(same == 0.0)
  }

  test("gini: bounded on real data, exactly 0 for equal values") {
    val g = SparkEntry.queries("a_gini_revenue")(spark, sf)
      .select("gini").as[Double].head()
    assert(g >= 0.0 && g < 1.0)
    val dir = tmpDir()
    (1 to 30).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), 250.0))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
      .withColumn("o_orderkey", $"o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val flat = SparkEntry.queries("a_gini_revenue")(spark, dir)
      .select("gini").as[Double].head()
    assert(flat == 0.0)
  }

  test("benford: observed shares partition the corpus over digits 1-9") {
    val r = SparkEntry.queries("a_benford")(spark, sf)
      .select("digit", "obs_share").as[(Int, Double)].collect()
    assert(r.map(_._1).forall(dgt => dgt >= 1 && dgt <= 9))
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9)
  }

  test("null-safe join pairs the NULL-keyed groups") {
    val r = SparkEntry.queries("j_nullsafe")(spark, sf)
      .select($"seg", $"revenue").collect()
    val nullRow = r.filter(_.isNullAt(0))
    assert(nullRow.length == 1, "exactly one NULL-keyed group")
    assert(!nullRow.head.isNullAt(1),
      "NULL key must still match its revenue row under <=>")
  }

  test("pivot-multi cells reconcile with the plain group-by") {
    val r = SparkEntry.queries("r5_pivot_multi")(spark, sf)
    val totalN = r.select(($"F_n" + $"O_n" + $"P_n").as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(totalN == spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("mode is the argmax of the per-status priority counts") {
    val r = SparkEntry.queries("a_mode_status")(spark, sf)
      .select("o_orderstatus", "mode_priority", "n")
      .as[(String, String, Long)].collect()
    val counts = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_orderstatus", $"o_orderpriority").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1)
    r.foreach { case (status, mode, n) =>
      val best = counts(status).map(_._3).max
      assert(n == best && counts(status)
        .filter(_._3 == best).map(_._2).min == mode)
    }
  }

  test("autocorr is a valid correlation; +1 on a planted linear series") {
    val r = SparkEntry.queries("a_autocorr")(spark, sf)
      .select("autocorr_lag1").as[Double].head()
    assert(r >= -1.0 && r <= 1.0)
    val dir = tmpDir()
    (1 to 28).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"1996-01-$i%02d 00:00:00"), i * 100.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    // one order per day, totals strictly arithmetic → lag-1 pairs
    // perfectly linear
    val planted = SparkEntry.queries("a_autocorr")(spark, dir)
      .select("autocorr_lag1").as[Double].head()
    assert(math.abs(planted - 1.0) < 1e-6)
  }

  test("rolling median lies within its trailing window's range") {
    val rows = SparkEntry.queries("w_rolling_median")(spark, sf)
      .select("revenue", "rolling_median").as[(Double, Double)].collect()
    val revs = rows.map(_._1)
    rows.zipWithIndex.foreach { case ((_, med), i) =>
      val win = revs.slice(math.max(0, i - 6), i + 1)
      assert(med >= win.min && med <= win.max)
    }
  }

  test("shard manifest covers the corpus and respects the byte budget") {
    val r = SparkEntry.queries("mm_shard_manifest")(spark, sf)
      .select("shard", "n_docs", "shard_bytes").as[(Long, Long, Long)].collect()
    assert(r.map(_._2).sum == 500)
    assert(r.map(_._1).sorted.toSeq == r.map(_._1).toSeq.sorted)
    // every shard except possibly the last stays within one doc of
    // the budget (a doc never splits across shards)
    val maxDoc = spark.read.parquet(s"$sf/documents.parquet")
      .agg(max(length($"text"))).as[Int].head()
    r.dropRight(1).foreach { case (_, _, b) => assert(b <= 16384L + maxDoc) }
  }

  test("triangles: planted 3-clique plus a dangling edge counts once") {
    val dir = tmpDir()
    // 0,1,2 mutually identical (a 3-clique at cos 1); 3 orthogonal
    // except paired with 4; label-blocked together
    val e1 = Array(1.0f, 0.0f); val e2 = Array(0.0f, 1.0f)
    Seq((0L, "a", e1), (1L, "a", e1), (2L, "a", e1),
        (3L, "a", e2), (4L, "a", e2))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("g_triangles")(spark, dir)
      .select("n_nodes", "n_edges", "n_triangles", "clustering_coeff")
      .as[(Long, Long, Long, Double)].head()
    // 3-clique: 3 edges, 1 triangle, 3 wedges (the dangling pair's
    // endpoints have degree 1 → no wedge) → coefficient 3·1/3 = 1
    assert(r == ((5L, 4L, 1L, 1.0)))
  }

  test("skew factor is max over average key multiplicity") {
    val r = SparkEntry.queries("a_skew_metrics")(spark, sf)
      .select("n_keys", "n_rows", "max_rows", "skew_factor")
      .as[(Long, Long, Long, Double)].head()
    assert(r._4 >= 1.0, "max is at least the average")
    assert(math.abs(r._4 - r._3.toDouble * r._1 / r._2) < 1e-9)
  }

  test("fixture preconditions the oracles assume") {
    // a_ks_drift divides by each year's sample size: both years must
    // be populated or the statistic degenerates to NaN
    val yrs = spark.read.parquet(s"$sf/orders.parquet")
      .select(year($"o_orderdate").as("y")).filter($"y".isin(1996, 1999))
      .groupBy($"y").count().as[(Int, Long)].collect().toMap
    assert(yrs.getOrElse(1996, 0L) > 0 && yrs.getOrElse(1999, 0L) > 0)
    // t_tfidf_topk packs (term, tf, df) tab-separated: a token
    // containing '\t' would corrupt the payload (tokens are
    // space-split, so only a literal tab inside a token could)
    val tabbed = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"text".contains("\t")).count()
    assert(tabbed == 0, "corpus must stay tab-free for the packed payload")
  }

  test("recursive growth index: seeds at 100, compounds year ratios") {
    val r = SparkEntry.queries("sql_recursive")(spark, sf)
      .select("rev", "growth_index").as[(Double, Double)].collect()
    val years = spark.read.parquet(s"$sf/orders.parquet")
      .select(year($"o_orderdate").as("yr"))
      .distinct().count()
    assert(r.length == years, "one index level per year — recursion covered all")
    assert(r.head._2 == 100.0)
    // index_t / index_{t-1} must equal rev_t / rev_{t-1}
    r.sliding(2).foreach { case Array((rPrev, iPrev), (rCur, iCur)) =>
      assert(math.abs(iCur / iPrev - rCur / rPrev) < 1e-6)
    }
  }

  test("fill-forward: spine is dense and gaps carry the last value") {
    val rows = SparkEntry.queries("w_fill_forward")(spark, sf)
      .select($"day", $"revenue_filled", $"is_gap")
      .as[(java.sql.Date, Double, Boolean)].collect()
    assert(rows.length >= rows.count(!_._3), "spine covers at least observed days")
    rows.sliding(2).foreach { case Array((d1, v1, _), (d2, v2, gap2)) =>
      assert(d2.toLocalDate == d1.toLocalDate.plusDays(1), "no calendar holes")
      if (gap2) assert(v2 == v1, "a gap day must carry the previous value")
    }
  }

  test("pivot/unpivot round-trip equals the plain group-by") {
    val viaPivot = SparkEntry.queries("sql_pivot")(spark, sf)
      .as[(Long, String, Double)].collect().toSeq
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(year($"o_orderdate").cast("long").as("y"), $"o_orderstatus")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("r"))
      .orderBy($"y", $"o_orderstatus")
      .as[(Long, String, Double)].collect().toSeq
    assert(viaPivot == direct)
  }

  test("interval suite: clamping and next-monday semantics") {
    val r = SparkEntry.queries("c_interval_suite")(spark, sf)
      .select($"d", $"plus_1m", $"month_end", $"next_monday")
      .as[(java.sql.Date, java.sql.Date, java.sql.Date, java.sql.Date)]
      .collect()
    r.foreach { case (d, p1, me, nm) =>
      assert(!p1.before(d), "add_months moves forward")
      assert(!me.before(d) && me.toLocalDate.getMonth == d.toLocalDate.getMonth)
      assert(nm.toLocalDate.getDayOfWeek == java.time.DayOfWeek.MONDAY)
      val gap = nm.toLocalDate.toEpochDay - d.toLocalDate.toEpochDay
      assert(gap >= 1 && gap <= 7, "strictly-next Monday")
    }
  }

  test("iqr outliers: planted spike is flagged, uniform body is not") {
    val dir = tmpDir()
    val ts = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val rows = (1 to 99).map(i => (i.toLong, ts, "O", 100.0 + i)) :+
      (100L, ts, "O", 99999.0)
    rows.toDF("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("a_iqr_outliers")(spark, dir)
      .select("n", "n_outliers").as[(Long, Long)].head()
    assert(r == ((100L, 1L)))
  }

  test("z-order buckets are 16x16 tiles covering every row") {
    val r = SparkEntry.queries("o_zorder_layout")(spark, sf)
      .select("n", "cell_span").as[(Long, Long)].collect()
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(r.map(_._1).sum == total)
    // one z-bucket of 256 consecutive z values is exactly a 16x16 tile
    r.foreach { case (_, span) => assert(span <= 256) }
  }

  test("g_label_prop: communities partition the similarity-graph nodes, at least as fine as components") {
    val comm = SparkEntry.queries("g_label_prop")(spark, sf).collect()
    val comp = SparkEntry.queries("g_components")(spark, sf).collect()
    // same node universe: both operate on the cosine>=0.3 graph
    assert(comm.map(_.getAs[Long]("n_members")).sum ==
      comp.map(_.getAs[Long]("n_members")).sum)
    // label propagation can only split components, never merge them
    assert(comm.length >= comp.length)
    assert(comm.forall(_.getAs[Long]("n_members") > 0))
    // community ids are member ids (labels start as node ids and
    // propagate) — each must lie within the node id range
    val ids = comm.map(_.getAs[Long]("community"))
    assert(ids.distinct.length == ids.length)
    assert(comm.nonEmpty, "similarity graph produced no communities — vacuous")
  }
}
