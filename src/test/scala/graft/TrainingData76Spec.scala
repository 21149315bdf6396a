package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-76 operators: complete
  * driver replays of the ANOVA/Brown–Forsythe moment machinery, the
  * Jarque–Bera central-moment folds, and the Durbin–Watson residual
  * walk — each against the same sf0.001 tables the queries read.
  */
class TrainingData76Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (priority, cents) rows straight off the orders table. */
  private def rows(): Seq[(String, Long)] =
    graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Sequential replay of the shared moment ANOVA (g-ascending fold). */
  private def anovaReplay(data: Seq[(String, Long)])
      : (Long, Long, Double, Double, Double, Long) = {
    val byG = data.groupBy(_._1).toSeq.sortBy(_._1)
    val nn = data.size.toLong
    val k = byG.size.toLong
    val st = data.map(r => BigInt(r._2)).sum
    val sst = data.map(r => BigInt(r._2) * BigInt(r._2)).sum
    val sb = byG.foldLeft(0.0) { case (a, (_, rs)) =>
      val s = rs.map(r => BigInt(r._2)).sum
      a + s.toDouble * s.toDouble / rs.size.toDouble
    }
    val ssb = sb - st.toDouble * st.toDouble / nn.toDouble
    val ssw = sst.toDouble - sb
    val df1 = k - 1; val df2 = nn - k
    val msw = ssw / df2.toDouble
    val f = (ssb / df1.toDouble) / msw
    val eta2 = ssb / (ssb + ssw)
    val omega2 = (ssb - df1.toDouble * msw) / (ssb + ssw + msw)
    // the engine's integer-compare surface: floor(df1·F·1e6)
    val xm = math.floor(df1.toDouble * f * 1.0e6).toLong
    (df1, df2, f, eta2, omega2, xm)
  }

  /** χ²(4) p-bucket from the fixed critical values (micro-units). */
  private def chi4Bucket(xm: Long): String =
    if (xm >= 18466826L) "p<0.001"
    else if (xm >= 13276704L) "p<0.01"
    else if (xm >= 9487729L) "p<0.05"
    else if (xm >= 7779440L) "p<0.10"
    else "p>=0.10"

  /** χ²(2) p-bucket (micro-units). */
  private def chi2Bucket(xm: Long): String =
    if (xm >= 13815510L) "p<0.001"
    else if (xm >= 9210340L) "p<0.01"
    else if (xm >= 5991464L) "p<0.05"
    else if (xm >= 4605170L) "p<0.10"
    else "p>=0.10"

  test("a_anova_f: full driver replay of moments, F, effect sizes, p") {
    val out = SparkEntry.queries("a_anova_f")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val (df1, df2, f, eta2, omega2, xm) = anovaReplay(rows())
    assert(r.getAs[Long]("df1") == df1 && r.getAs[Long]("df2") == df2)
    assert(r.getAs[Double]("f_stat") == r6(f))
    assert(r.getAs[Double]("eta2") == r6(eta2))
    assert(r.getAs[Double]("omega2") == r6(omega2))
    assert(r.getAs[String]("p_bucket") == chi4Bucket(xm))
    assert(r.getAs[String]("verdict") ==
      (if (xm >= 9487729L) "means_differ" else "no_evidence"))
  }

  test("a_levene_bf: exact group medians and the deviation ANOVA") {
    val out = SparkEntry.queries("a_levene_bf")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val data = rows()
    // exact per-group median in half-cents off sorted values
    val med2 = data.groupBy(_._1).map { case (g, rs) =>
      val v = rs.map(_._2).sorted
      val n = v.size
      g -> (v((n + 1) / 2 - 1) + v((n + 2) / 2 - 1))
    }
    val dev = data.map { case (g, x) => (g, math.abs(x * 2 - med2(g))) }
    val (df1, df2, f, eta2, _, xm) = anovaReplay(dev)
    assert(r.getAs[Long]("df1") == df1 && r.getAs[Long]("df2") == df2)
    assert(r.getAs[Double]("f_stat") == r6(f))
    assert(r.getAs[Double]("eta2") == r6(eta2))
    assert(r.getAs[String]("verdict") ==
      (if (xm >= 9487729L) "spreads_differ" else "homoscedastic"))
    // the Brown–Forsythe F must differ from the plain ANOVA F (it
    // tests spread, not location) — guards against wiring the wrong
    // input into the shared helper
    val fAnova = anovaReplay(data)._3
    assert(math.abs(f - fAnova) > 1e-9)
  }

  /** Day-ascending daily revenue cents. */
  private def daily(): Seq[Long] =
    graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .orderBy(col("day"))
      .collect().map(_.getAs[Long]("x")).toSeq

  test("a_jarque_bera: central-moment folds, JB and the closed-form p") {
    val out = SparkEntry.queries("a_jarque_bera")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val xs = daily()
    val n = xs.size
    val meanq = (xs.map(BigInt(_)).sum * 1000000) / n
    val mean = meanq.toLong / 1000000.0
    val s2 = xs.foldLeft(0.0)((a, x) => a + (x - mean) * (x - mean))
    val s3 = xs.foldLeft(0.0)((a, x) =>
      a + (x - mean) * (x - mean) * (x - mean))
    val s4 = xs.foldLeft(0.0) { (a, x) =>
      val d2 = (x - mean) * (x - mean); a + d2 * d2
    }
    val m2 = s2 / n
    // the engine's deterministic m2^1.5 = m2·sqrt(m2)
    val skew = (s3 / n) / (m2 * math.sqrt(m2))
    val kurt = (s4 / n) / (m2 * m2)
    val jb = n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
    val jbm = math.floor(jb * 1.0e6).toLong
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(r.getAs[Double]("skewness") == r6(skew))
    assert(r.getAs[Double]("kurtosis") == r6(kurt))
    assert(r.getAs[Double]("jb_stat") == r6(jb))
    assert(r.getAs[String]("p_bucket") == chi2Bucket(jbm))
    assert(r.getAs[String]("verdict") ==
      (if (jbm >= 5991464L) "non_normal" else "normal"))
  }

  test("w_durbin_watson: OLS fit + residual walk replay") {
    val out = SparkEntry.queries("w_durbin_watson")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val ys = daily()
    val n = ys.size
    val st = BigInt((1 to n).map(_.toLong).sum)
    val stt = (1 to n).map(t => BigInt(t) * BigInt(t)).sum
    val sy = ys.map(BigInt(_)).sum
    val sty = ys.zipWithIndex
      .map { case (y, i) => BigInt(i + 1) * BigInt(y) }.sum
    val slope = (n.toDouble * sty.toDouble - st.toDouble * sy.toDouble) /
      (n.toDouble * stt.toDouble - st.toDouble * st.toDouble)
    val icept = (sy.toDouble - slope * st.toDouble) / n.toDouble
    val e = ys.zipWithIndex.map { case (y, i) =>
      y.toDouble - icept - slope * (i + 1).toDouble
    }
    val num = e.zip(e.drop(1)).foldLeft(0.0) { case (a, (p, c)) =>
      a + (c - p) * (c - p)
    }
    val den = e.foldLeft(0.0)((a, x) => a + x * x)
    val dw = num / den
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(r.getAs[Double]("trend_slope_cents_per_day") == r6(slope))
    assert(r.getAs[Double]("dw_stat") == r6(dw))
    assert(r.getAs[Double]("rho_approx") == r6(1.0 - dw / 2.0))
    // DW lives in [0, 4]
    assert(dw >= 0.0 && dw <= 4.0)
  }
}
