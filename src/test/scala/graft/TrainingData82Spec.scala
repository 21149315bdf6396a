package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-12 batch-82 operators: full driver
  * replays of the signed-rank z, the Bollinger windows, the Wilder
  * RSI fold, the DF t-statistic, the per-source KL, and the MaxSim
  * scores.
  */
class TrainingData82Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A&S 7.1.26 erf — the engine polynomial. */
  private def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429))))
    1.0 - poly * math.exp(-(x * x))
  }

  // day keys travel as ISO strings: o_orderdate's parquet encoding
  // is generation-dependent (TESTDATA.md) and NTZ surfaces as
  // LocalDateTime, which java.sql.Timestamp getAs casts reject
  private def dailyRev(): Seq[(String, Long)] =
    graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .orderBy(col("day"))
      .select(col("day").cast("string"), col("x"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("x")))
      .toSeq

  test("a_wilcoxon_signrank: exact midrank replay of the year-paired test") {
    val monthly = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("rev"))
      .collect()
      .map(r => (r.getAs[java.sql.Date]("m").toLocalDate,
        r.getAs[Long]("rev"))).toMap
    val ds = monthly.toSeq.flatMap { case (m, rev) =>
      monthly.get(m.minusMonths(12)).map(prev => rev - prev)
    }.filter(_ != 0L)
    val n = ds.size.toLong
    val ads = ds.map(math.abs)
    def rank2(ad: Long): Long =
      1L + ads.map(b => if (b < ad) 2L else if (b == ad) 1L else 0L).sum
    val w2 = ds.filter(_ > 0L).map(d => rank2(math.abs(d))).sum
    val tie3 = ads.groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * t * t - t }).sum
    val z = (w2 - n * (n + 1) / 2).toDouble /
      math.sqrt((2 * n * (n + 1) * (2 * n + 1) - tie3).toDouble / 12.0)
    val zm = math.floor(math.abs(z) * 1.0e6).toLong
    val bucket =
      if (zm >= 3290526L) "p<0.001"
      else if (zm >= 2575829L) "p<0.01"
      else if (zm >= 1959963L) "p<0.05"
      else if (zm >= 1644853L) "p<0.10"
      else "p>=0.10"
    val out = SparkEntry.queries("a_wilcoxon_signrank")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_pairs") == n)
    assert(r.getAs[Double]("w_plus") == w2.toDouble / 2.0)
    assert(r.getAs[Double]("z") == r6(z))
    assert(r.getAs[String]("p_bucket") == bucket)
    assert(r.getAs[String]("verdict") ==
      (if (zm >= 1959963L) "shifted" else "no_shift"))
    // W⁺ bounded by the total rank mass
    assert(w2 >= 0 && w2 <= n * (n + 1))
  }

  test("w_bollinger_bands: naive 20-day window replay, breach set exact") {
    val days = dailyRev()
    val expected = days.indices.flatMap { i =>
      if (i < 19) None
      else {
        val win = days.slice(i - 19, i + 1).map(_._2)
        val sx = win.map(BigInt(_)).sum
        val sxx = win.map(v => BigInt(v) * BigInt(v)).sum
        val nvar = BigInt(20) * sxx - sx * sx
        val tw = BigInt("1000000000000")
        val nvD = (nvar / tw).toDouble * 1.0e12 + (nvar % tw).toDouble
        val sigma = math.sqrt(nvD) / 20.0
        val meanMu = (sx * 1000000 / 20).toLong
        val z = (days(i)._2.toDouble - meanMu.toDouble / 1.0e6) /
          (if (sigma > 0.0) sigma else 1.0)
        if (math.abs(z) > 2.0 && sigma > 0.0)
          Some((days(i)._1, days(i)._2, meanMu, r6(z),
            if (z > 0.0) "above" else "below"))
        else None
      }
    }
    val out = SparkEntry.queries("w_bollinger_bands")(spark, sf)
      .withColumn("day", col("day").cast("string"))
      .collect()
      .map(r => (r.getAs[String]("day"),
        r.getAs[Long]("rev_cents"), r.getAs[Long]("mean_microcents"),
        r.getAs[Double]("z_score"), r.getAs[String]("side"))).toSeq
    assert(out == expected)
    assert(out.nonEmpty) // the band rule fires somewhere on this corpus
  }

  test("w_rsi_wilder: per-year EWMA fold replay") {
    val days = dailyRev()
    val deltas = days.zip(days.drop(1)).map { case ((_, prev), (day, cur)) =>
      (day, math.max(cur - prev, 0L), math.max(prev - cur, 0L))
    }
    val byYear = deltas.groupBy(_._1.take(4).toInt)
    val out = SparkEntry.queries("w_rsi_wilder")(spark, sf)
      .collect().map(r => r.getAs[Long]("year") -> r).toMap
    assert(out.size == byYear.size)
    byYear.foreach { case (yr, rows) =>
      var ag = 0.0; var al = 0.0; var over = 0.0; var under = 0.0
      var rsi = 50.0
      rows.sortBy(_._1).foreach { case (_, g, l) =>
        ag = (13.0 * ag + g.toDouble) / 14.0
        al = (13.0 * al + l.toDouble) / 14.0
        rsi = if (al > 0.0) 100.0 - 100.0 / (1.0 + ag / al) else 100.0
        if ((al > 0.0 && rsi > 70.0) || al <= 0.0) over += 1.0
        if (al > 0.0 && rsi < 30.0) under += 1.0
      }
      val r = out(yr.toLong)
      assert(r.getAs[Long]("n_days") == rows.size.toLong)
      assert(r.getAs[Double]("rsi_final") == r6(rsi))
      assert(r.getAs[Long]("overbought_days") == over.toLong)
      assert(r.getAs[Long]("oversold_days") == under.toLong)
      // RSI bounded
      assert(rsi >= 0.0 && rsi <= 100.0)
    }
  }

  test("w_adf_test: exact-moment DF replay") {
    val days = dailyRev().map(_._2)
    val y = days.drop(1); val yl = days.dropRight(1)
    val m = y.size
    val n = m.toDouble
    def q6(vs: Seq[BigInt]): Double = (vs.sum / 1000000).toDouble * 1.0e6
    val sx = yl.map(BigInt(_)).sum.toDouble
    val sy = y.map(BigInt(_)).sum.toDouble
    val sxx = q6(yl.map(v => BigInt(v) * BigInt(v)))
    val sxy = q6(y.zip(yl).map { case (a, b) => BigInt(a) * BigInt(b) })
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - b * sx) / n
    val sxxC = sxx - sx * sx / n
    val es = (0 until m).map(i => y(i).toDouble - a - b * yl(i).toDouble)
    val rss = TrainingData78Spec.rssQ(es)
    val t =
      if (rss > 0.0) (b - 1.0) / math.sqrt((rss / (m - 2).toDouble) / sxxC)
      else 0.0
    val out = SparkEntry.queries("w_adf_test")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_obs") == m.toLong)
    assert(r.getAs[Double]("ar1_coef") == r6(b))
    assert(r.getAs[Double]("t_stat") == r6(t))
    assert(r.getAs[String]("verdict") ==
      (if (t < -2.86) "stationary" else "unit_root"))
    // AR(1) on a mean-reverting daily series: |b| sane
    assert(math.abs(b) < 2.0)
  }

  test("t_unigram_kl: quantized-contribution replay; KL non-negative") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val st = docs.flatMap { case (src, text) =>
      text.split(" ", -1).map(tok => (src, tok))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ns = st.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val vocabS = st.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val ct = st.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nn = st.values.sum
    val kqs = st.toSeq.map { case ((src, tok), c) =>
      val contrib = (c.toDouble / ns(src).toDouble) *
        math.log((c.toDouble * nn.toDouble) /
          (ns(src).toDouble * ct(tok).toDouble))
      (src, math.floor(contrib * 1.0e9).toLong)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = SparkEntry.queries("t_unigram_kl")(spark, sf)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out.keySet == ns.keySet)
    ns.keySet.foreach { src =>
      val r = out(src)
      assert(r.getAs[Long]("n_tokens") == ns(src))
      assert(r.getAs[Long]("vocab_terms") == vocabS(src))
      assert(r.getAs[Double]("kl_nats") == r6(kqs(src).toDouble / 1.0e9))
      // Gibbs: KL ≥ 0 up to the 1e-9-per-term floor quantization
      assert(r.getAs[Double]("kl_nats") >= -1e-5)
    }
  }

  test("sim_maxsim_multivector: brute-force MaxSim replay, top-3 exact") {
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until a.length).foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def subs(e: Array[Double]): Seq[Array[Double]] =
      (0 until 4).map(i => e.slice(i * 16, i * 16 + 16))
    val queries = emb.filter(_._1 < 4)
    val expected = queries.flatMap { case (qid, qe) =>
      val scored = emb.filter(_._1 != qid).map { case (did, de) =>
        val score = subs(qe).map(qs =>
          subs(de).map(dsv => cos(qs, dsv)).max).sum
        (did, score)
      }
      scored.sortBy { case (did, sc) => (-sc, did) }.take(3).zipWithIndex
        .map { case ((did, sc), i) => (qid, did, r6(sc), i + 1) }
    }
    val out = SparkEntry.queries("sim_maxsim_multivector")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("maxsim_score"), r.getAs[Int]("rk"))).toSeq
    assert(out == expected)
    // MaxSim over 4 unit-max cosines is bounded by ±4
    out.foreach { case (_, _, sc, _) => assert(sc >= -4.0 && sc <= 4.0) }
  }
}
