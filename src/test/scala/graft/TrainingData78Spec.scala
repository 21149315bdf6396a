package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-11 batch-78 operators: a full
  * driver replay of both Granger directions with an INDEPENDENT
  * normal-equation orthogonality check of the Cramer solve, a
  * per-day Cook's-distance replay, a κ-arithmetic + semantic-rater
  * replay, and a complete semantic-leakage replay.
  */
class TrainingData78Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Day-ascending (volume, revenue-cents) daily series. */
  private def daily(): Seq[(Long, Long)] =
    graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast("long").as("vol"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("rev"))
      .orderBy(col("day"))
      .collect().map(r => (r.getAs[Long]("vol"), r.getAs[Long]("rev"))).toSeq

  /** Replay one Granger direction; returns (b1, b2, rssR, rssU, f)
    * plus the unrestricted residual series and lagged regressors for
    * the orthogonality pin. */
  private var orthoBound: Double = 0.0
  private var lastEr: Seq[Double] = Nil

  private def grangerReplay(y: Seq[Long], x: Seq[Long])
      : (Double, Double, Double, Double, Double,
         Seq[Double], Seq[Double], Seq[Double]) = {
    val yt = y.drop(1); val yl = y.dropRight(1); val xl = x.dropRight(1)
    val m = yt.size
    val n = m.toDouble
    def bsum(vs: Seq[BigInt]): Double = vs.sum.toDouble
    // the engine's ÷10⁶ integral quantization of the product moments
    def q6(vs: Seq[BigInt]): Double = (vs.sum / 1000000).toDouble * 1.0e6
    val s1 = bsum(yl.map(BigInt(_)))
    val s2 = bsum(xl.map(BigInt(_)))
    val s11 = q6(yl.map(v => BigInt(v) * BigInt(v)))
    val s12 = q6(yl.zip(xl).map { case (a, b) => BigInt(a) * BigInt(b) })
    val s22 = q6(xl.map(v => BigInt(v) * BigInt(v)))
    val t0 = bsum(yt.map(BigInt(_)))
    val t1 = q6(yt.zip(yl).map { case (a, b) => BigInt(a) * BigInt(b) })
    val t2 = q6(yt.zip(xl).map { case (a, b) => BigInt(a) * BigInt(b) })
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val b0 = (t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) +
      s2 * (t1 * s12 - s11 * t2)) / det
    val b1 = (n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * t2 - t1 * s2)) / det
    val b2 = (n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) +
      t0 * (s1 * s12 - s11 * s2)) / det
    val rb = (n * t1 - s1 * t0) / (n * s11 - s1 * s1)
    val ra = (t0 - rb * s1) / n
    // normal-equation residual bound: the solve is exact for the
    // QUANTIZED moments, each of which differs from the raw moment
    // by < 10⁶ (the div remainder), so Σe·x_k deviates from 0 by at
    // most (1 + Σ|β|)·10⁶ (×10 safety margin in the assert)
    orthoBound = (1.0 + math.abs(b0) + math.abs(b1) + math.abs(b2)) * 1.0e6
    val eu = (0 until m).map(i => yt(i) - b0 - b1 * yl(i) - b2 * xl(i))
    val er = (0 until m).map(i => yt(i) - ra - rb * yl(i))
    lastEr = er
    // the engine's order-free integral RSS: milli-floored residual
    // squares summed exactly, hi/lo-split back to double
    val rssU = TrainingData78Spec.rssQ(eu)
    val rssR = TrainingData78Spec.rssQ(er)
    val f =
      if (rssU > 0.0)
        math.min(1.0e9,
          math.max(0.0, (rssR - rssU) / (rssU / (m - 3).toDouble)))
      else 0.0
    (b1, b2, rssR, rssU, f, eu, yl.map(_.toDouble), xl.map(_.toDouble))
  }

  test("w_granger_causality: both directions replay; Cramer solve is a true OLS") {
    val out = SparkEntry.queries("w_granger_causality")(spark, sf)
      .collect().map(r => r.getAs[String]("direction") -> r).toMap
    val d = daily()
    val vol = d.map(_._1); val rev = d.map(_._2)
    val cases = Seq(
      ("volume_to_revenue", rev, vol),
      ("revenue_to_volume", vol, rev))
    cases.foreach { case (label, y, x) =>
      val (b1, b2, rssR, rssU, f, eu, yl, xl) = grangerReplay(y, x)
      val r = out(label)
      assert(r.getAs[Long]("n_obs") == (y.size - 1).toLong)
      // hashed-output discipline: integer-exact columns only
      assert(r.getAs[Long]("ar_coef_micro") ==
        math.floor(b1 * 1.0e6).toLong)
      assert(r.getAs[Long]("cross_coef_micro") ==
        math.floor(b2 * 1.0e6).toLong)
      assert(r.getAs[Long]("rss_restricted_q") ==
        TrainingData78Spec.rssRawQ(lastEr))
      assert(r.getAs[Long]("rss_unrestricted_q") ==
        TrainingData78Spec.rssRawQ(eu))
      val fMicro = math.floor(f * 1.0e6).toLong
      assert(r.getAs[Long]("f_stat_micro") == fMicro)
      val pBucket =
        if (fMicro >= 10827566L) "p<0.001"
        else if (fMicro >= 6634897L) "p<0.01"
        else if (fMicro >= 3841459L) "p<0.05"
        else if (fMicro >= 2705543L) "p<0.10"
        else "p>=0.10"
      assert(r.getAs[String]("p_bucket") == pBucket)
      assert(r.getAs[String]("verdict") ==
        (if (fMicro >= 3841459L) "causal_signal" else "no_signal"))
      // independent check that the Cramer formulas solved the normal
      // equations: residuals orthogonal to every regressor, up to
      // the ÷10⁶ moment-quantization envelope (a WRONG cofactor
      // formula errs at raw-moment magnitude, ~10⁹× this bound)
      val m = eu.size
      val bound = orthoBound * 10.0 / m + 1e-6
      assert(math.abs(eu.sum / m) < bound)
      val c1 = eu.zip(yl).map { case (e, v) => e * v }.sum / m
      val c2 = eu.zip(xl).map { case (e, v) => e * v }.sum / m
      assert(math.abs(c1) < bound)
      assert(math.abs(c2) < bound)
      // F is clamped non-negative (quantized moments can break the
      // exact nesting inequality by jitter)
      assert(f >= 0.0)
    }
  }

  test("w_cooks_distance: per-day influence replay, top-10 ordering") {
    val out = SparkEntry.queries("w_cooks_distance")(spark, sf).collect()
    val ys = daily().map(_._2)
    val m = ys.size
    val st = (1 to m).map(BigInt(_)).sum.toDouble
    val stt = (1 to m).map(t => BigInt(t) * BigInt(t)).sum.toDouble
    val sy = ys.map(BigInt(_)).sum.toDouble
    val sty = ys.zipWithIndex.map { case (y, i) =>
      BigInt(i + 1) * BigInt(y)
    }.sum.toDouble
    val slope = (m * sty - st * sy) / (m * stt - st * st)
    val icept = (sy - slope * st) / m
    val tbar = st / m
    val sxx = stt - st * st / m
    val e = ys.zipWithIndex.map { case (y, i) =>
      y.toDouble - icept - slope * (i + 1).toDouble
    }
    // the engine's order-free integral RSS (milli-floor, hi/lo split)
    val s2 = TrainingData78Spec.rssQ(e) / (m - 2).toDouble
    val cooks = e.zipWithIndex.map { case (ei, i) =>
      val t = (i + 1).toDouble
      val h = 1.0 / m + (t - tbar) * (t - tbar) / sxx
      val ck = ei * ei * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
      (i, r6(ck), math.floor(ei * 1000.0).toLong, r6(h))
    }
    val top = cooks.sortBy { case (i, ck, _, _) => (-ck, i) }.take(10)
    assert(out.length == 10)
    out.zip(top).foreach { case (r, (_, ck, ei, h)) =>
      assert(r.getAs[Double]("cooks_d") == ck)
      assert(r.getAs[Long]("residual_millicents") == ei)
      assert(r.getAs[Double]("leverage") == h)
    }
    // Cook's distance is non-negative and leverage ∈ (0, 1)
    cooks.foreach { case (_, ck, _, h) =>
      assert(ck >= 0.0 && h > 0.0 && h < 1.0)
    }
  }

  /** Label-blocked cosine pairs ≥ threshold, Scala replay. */
  private def semPairs(threshold: Double): Seq[(Long, Long, Double)] = {
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until a.length).foldLeft(0.0)((s, i) => s + a(i) * b(i))
    for {
      (i1, l1, e1) <- emb; (i2, l2, e2) <- emb
      if l1 == l2 && i1 < i2
      cos = dot(e1, e2) / (math.sqrt(dot(e1, e1)) * math.sqrt(dot(e2, e2)))
      if cos >= threshold
    } yield (i1, i2, cos)
  }

  test("dedup_cohens_kappa: cell arithmetic + the semantic rater replay") {
    val out = SparkEntry.queries("dedup_cohens_kappa")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val n = r.getAs[Long]("n_docs")
    val n11 = r.getAs[Long]("both_flag"); val n10 = r.getAs[Long]("lexical_only")
    val n01 = r.getAs[Long]("semantic_only"); val n00 = r.getAs[Long]("neither")
    assert(n == n11 + n10 + n01 + n00)
    assert(n == graft.sources.Tables.table(spark, sf, "embeddings").count())
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10).toDouble * (n11 + n01) +
      (n01 + n00).toDouble * (n10 + n00)) / (n.toDouble * n)
    val kappa = (po - pe) / (1.0 - pe)
    assert(r.getAs[Double]("p_observed") == r6(po))
    assert(r.getAs[Double]("p_chance") == r6(pe))
    assert(r.getAs[Double]("kappa") == r6(kappa))
    // the semantic rater's doc set replayed exactly
    val semDocs = semPairs(0.4).flatMap(p => Seq(p._1, p._2)).toSet
    assert(n11 + n01 == semDocs.size.toLong)
    // the lexical rater's doc set agrees with the registered pair op
    val lexDocs = Dedup.minhashLshPairs(spark, sf, portableHashes = true)
      .select(col("d1"), col("d2")).collect()
      .flatMap(r0 => Seq(r0.getLong(0), r0.getLong(1))).toSet
    assert(n11 + n10 == lexDocs.size.toLong)
  }

  test("t_semantic_leakage: full replay under the md5-nibble split rule") {
    val out = SparkEntry.queries("t_semantic_leakage")(spark, sf)
      .collect()
    def splitOf(id: Long): String = md5hex(id.toString).charAt(0) match {
      case 'c' | 'd' => "val"
      case 'e' | 'f' => "test"
      case _ => "train"
    }
    val leaks = semPairs(0.4)
      .map { case (v1, v2, cos) => (v1, splitOf(v1), v2, splitOf(v2), cos) }
      .filter { case (_, s1, _, s2, _) =>
        s1 != s2 && (s1 == "train" || s2 == "train")
      }
      .map { case (v1, s1, v2, s2, cos) =>
        if (s1 == "train") (v2, s2, cos) else (v1, s1, cos)
      }
    val expected = leaks.groupBy(l => (l._1, l._2)).map { case ((id, sp), ls) =>
      (id, sp, ls.size.toLong, r6(ls.map(_._3).max))
    }.toSeq.sortBy(_._1)
    assert(out.length == expected.size && out.nonEmpty)
    out.zip(expected).foreach { case (r, (id, sp, cnt, mx)) =>
      assert(r.getAs[Long]("doc_id") == id)
      assert(r.getAs[String]("split") == sp)
      assert(r.getAs[Long]("n_train_neighbors") == cnt)
      assert(r.getAs[Double]("max_train_cosine") == mx)
    }
    // no leaked doc may itself be in train
    out.foreach(r => assert(r.getAs[String]("split") != "train"))
  }
}

object TrainingData78Spec {
  /** Replay of the engine's order-free quantized RSS: floor(e·1000)
    * squared, summed exactly, hi = s div 10¹² / lo = s mod 10¹²
    * re-assembled with the engine's exact IEEE op sequence. */
  def rssQ(es: Seq[Double]): Double = {
    val tw = BigInt("1000000000000")
    val s = es.map(e => BigInt(math.floor(e * 1000.0).toLong).pow(2)).sum
    ((s / tw).toDouble * 1.0e12 + (s % tw).toDouble) / 1.0e6
  }

  /** The shipped integer RSS quantization: exact Σfloor(e·1000)²
    * div 10¹² (units of 10⁶ cents²) — a pure integer op. */
  def rssRawQ(es: Seq[Double]): Long = {
    val s = es.map(e => BigInt(math.floor(e * 1000.0).toLong).pow(2)).sum
    (s / BigInt("1000000000000")).toLong
  }
}
