package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.operators.{AnalyticsQueries, SimilarityQueries}

/** Invariant pins for the round-11 batch-74 operators: a complete
  * driver replay of the BCa construction (hash weights → reps →
  * probit/Φ polynomials → order statistics), the ε-advisor's order
  * statistics, and the profiler's counts.
  */
class TrainingData74Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def probit(p: Double): Double = {
    val pl = 0.02425
    def tail(pp: Double): Double = {
      val q = math.sqrt(-2.0 * math.log(pp))
      (((((-0.007784894002430293 * q + -0.3223964580411365) * q +
        -2.400758277161838) * q + -2.549732539343734) * q +
        4.374664141464968) * q + 2.938163982698783) /
        (((((0.007784695709041462 * q + 0.3224671290700398) * q +
          2.445134137142996) * q + 3.754408661907416) * q) + 1.0)
    }
    if (p < pl) tail(p)
    else if (p > 1.0 - pl) -tail(1.0 - p)
    else {
      val q = p - 0.5; val r = q * q
      (((((-39.69683028665376 * r + 220.9460984245205) * r +
        -275.9285104469687) * r + 138.357751867269) * r +
        -30.66479806614716) * r + 2.506628277459239) * q /
        ((((((-54.47609879822406 * r + 161.5858368580409) * r +
          -155.6989798598866) * r + 66.80131188771972) * r +
          -13.28068155288572) * r) + 1.0)
    }
  }

  private def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429))))
    1.0 - poly * math.exp(-(x * x))
  }
  private def phi(z: Double): Double =
    if (z >= 0.0) 0.5 * (1.0 + erf(z / math.sqrt(2.0)))
    else 0.5 * (1.0 - erf(-z / math.sqrt(2.0)))

  test("bca bootstrap: full driver replay of corrections and order stats") {
    val out = SparkEntry.queries("a_bootstrap_bca")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val rows = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_id"),
        expr("CAST(floor(CAST(value AS DECIMAL(18,2)) * 1000000) AS BIGINT)"),
        round(col("value") * 100).cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val n = rows.length
    val theta = rows.map(_._2).sum.toDouble / n.toDouble / 1e6
    // rep means from the md5 Poisson weights
    val ts = AnalyticsQueries.poissonT
    val reps = (0 until 64).map { b =>
      var (nb, sb) = (0L, 0L)
      rows.foreach { case (id, m, _) =>
        val h = java.lang.Long.parseLong(md5hex(s"$id#$b").take(12), 16)
        val w = ts.count(_ <= h).toLong
        nb += w; sb += w * m
      }
      (sb.toDouble / nb.toDouble / 1e6, b)
    }.sortBy(identity).map(_._1)
    val cnt = reps.count(_ < theta)
    val p0 = math.min(math.max(cnt / 64.0, 1.0 / 65.0), 64.0 / 65.0)
    val z0 = probit(p0)
    // acceleration from exact BigInt central power sums (cents)
    val c = rows.map(_._3).map(BigInt(_))
    val (bn, s1) = (BigInt(n), c.sum)
    val s2 = c.map(x => x * x).sum
    val s3 = c.map(x => x * x * x).sum
    val a2d = ((bn * s2 - s1 * s1) / 1000000).toDouble * 1.0e6
    val a3d = ((bn * bn * s3 - 3 * bn * s1 * s2 + 2 * s1 * s1 * s1)
      / BigInt("1000000000000000")).toDouble * 1.0e15
    val accel = a3d / (6.0 * math.pow(a2d, 1.5) * math.sqrt(n.toDouble))
    val za = 1.959963984540054
    val al = phi(z0 + (z0 - za) / (1.0 - accel * (z0 - za)))
    val au = phi(z0 + (z0 + za) / (1.0 - accel * (z0 + za)))
    def idx(a: Double): Int =
      math.min(math.max(math.floor(a * 64).toInt + 1, 1), 64)
    assert(r.getLong(0) == n.toLong && r.getLong(1) == 64L)
    assert(r.getAs[Double]("point_mean") == r6(theta))
    assert(r.getAs[Double]("z0") == r6(z0))
    assert(r.getAs[Double]("accel") == r6(accel))
    assert(r.getAs[Double]("alpha_lo") == r6(al))
    assert(r.getAs[Double]("alpha_hi") == r6(au))
    assert(r.getAs[Double]("bca_lo") == r6(reps(idx(al) - 1)))
    assert(r.getAs[Double]("bca_hi") == r6(reps(idx(au) - 1)))
    assert(r.getAs[Double]("pct_lo") == r6(reps(1)))
    assert(r.getAs[Double]("pct_hi") == r6(reps(62)))
    assert(r.getAs[Double]("bca_lo") <= r.getAs[Double]("bca_hi"))
  }

  test("eps advisor: cutoffs are the exact order statistics of edge cosines") {
    val out = SparkEntry.queries("sim_eps_advisor")(spark, sf).collect()
    assert(out.length == 3)
    val (edgesDf, assignedDf) = SimilarityQueries.lofInputs(spark, sf)
    val emb = assignedDf.select(col("vec_id"), col("e"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val de = edgesDf.select(col("src"), col("dst")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
      .map { case (s0, d0) => (s0, d0, dot(emb(s0), emb(d0))) }
    val nE = de.length.toLong
    out.foreach { r =>
      val rate = r.getAs[Double]("rate")
      val k = math.max(1L, math.floor(rate * nE).toLong)
      val top = de.sortBy(e => (-e._3, -e._1, -e._2)).take(k.toInt)
      assert(r.getLong(1) == nE)
      assert(r.getLong(2) == k, s"k at $rate")
      assert(r.getAs[Double]("eps") == r6(top.map(_._3).min), s"eps $rate")
      assert(r.getLong(4) == top.map(_._1).distinct.length.toLong)
    }
    // tighter rate => higher threshold
    val eps = out.sortBy(_.getAs[Double]("rate")).map(_.getAs[Double]("eps"))
    assert(eps.sameElements(eps.sorted.reverse))
  }

  test("dq profile: counts replay; key columns are unique") {
    val out = SparkEntry.queries("q_dq_profile")(spark, sf).collect()
    assert(out.length == 18)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang")).collect().map(_.getString(0))
    val langRow = out.find(r => r.getString(0) == "documents" &&
      r.getString(1) == "lang").get
    assert(langRow.getLong(2) == docs.length.toLong)
    assert(langRow.getLong(3) == 0L)
    assert(langRow.getLong(5) == docs.distinct.length.toLong)
    Seq("o_orderkey", "event_id", "doc_id").foreach { k =>
      val row = out.find(_.getString(1) == k).get
      assert(row.getBoolean(6), s"$k must profile as a unique key")
    }
    out.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= r.getLong(2))
      assert(r.getLong(5) <= r.getLong(2) - r.getLong(3))
    }
  }
}
