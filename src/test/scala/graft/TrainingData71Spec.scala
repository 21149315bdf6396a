package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-71 operators: full driver
  * replays of the ABTT pipeline (quantized sums → covariance →
  * power iteration → projection → anisotropy) and of the
  * span-corrected Fano factor.
  */
class TrainingData71Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("abtt isotropy: end-to-end driver replay of the correction") {
    val out = SparkEntry.queries("e_abtt_isotropy")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val vecs = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val n = vecs.length
    val q = vecs.map { case (_, e) =>
      e.map(x => math.floor(x.toDouble * 1048576.0).toLong) }
    val dim = 64
    // exact integer sums, then the op's exact float expressions
    val m = Array.tabulate(dim)(j => q.map(_(j)).sum)
    val mu = m.map(_.toDouble / (n.toDouble * 1048576.0))
    val cm = Array.tabulate(dim * dim) { k =>
      val (i, j) = (k / dim, k % dim)
      val s = q.map(v => v(i) * v(j)).sum
      s.toDouble / (n.toDouble * 1099511627776.0) - mu(i) * mu(j)
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(j =>
        (0 until dim).foldLeft(0.0)((a, i) => a + v(i) * cm(i * dim + j)))
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to 12) {
      val w = matvec(v)
      val nrm = math.sqrt(w.foldLeft(0.0)((a, y) => a + y * y))
      v = w.map(_ / nrm)
    }
    val w = matvec(v)
    val lam = (0 until dim).foldLeft(0.0)((a, j) => a + v(j) * w(j))
    val trace = (0 until dim).foldLeft(0.0)((a, j) => a + cm(j * dim + j))
    // per-vector raw and corrected unit vectors, vec_id order
    val units = q.map { qv =>
      val eq = qv.map(_.toDouble / 1048576.0)
      val nr = math.sqrt(eq.foldLeft(0.0)((a, x) => a + x * x))
      val cv = Array.tabulate(dim)(j => eq(j) - mu(j))
      val t = (0 until dim).foldLeft(0.0)((a, j) => a + cv(j) * v(j))
      val pr = Array.tabulate(dim)(j => cv(j) - t * v(j))
      val na = math.sqrt(pr.foldLeft(0.0)((a, x) => a + x * x))
      (eq.map(_ / nr), pr.map(_ / na))
    }
    def aniso(sel: ((Array[Double], Array[Double])) => Array[Double]): Double = {
      val means = Array.tabulate(dim) { j =>
        units.foldLeft(0.0)((a, u) => a + sel(u)(j)) / n.toDouble }
      (0 until dim).foldLeft(0.0)((a, j) => a + means(j) * means(j))
    }
    val (ar, aa) = (aniso(_._1), aniso(_._2))
    assert(r.getLong(0) == n.toLong)
    assert(r.getAs[Double]("anisotropy_raw") == r6(ar))
    assert(r.getAs[Double]("anisotropy_abtt") == r6(aa))
    assert(r.getAs[Double]("residual_ratio") == r6(aa / ar))
    assert(r.getAs[Double]("pc1_eigenvalue") == r6(lam))
    assert(r.getAs[Double]("pc1_explained") == r6(lam / trace))
    assert(r.getAs[Double]("pc1_explained") > 0.0 &&
      r.getAs[Double]("pc1_explained") <= 1.0)
    // the whole point of the correction on this corpus
    assert(aa < ar, "removing mean + PC1 reduces anisotropy here")
  }

  test("fano dispersion: empty-minute-free variance equals the dense replay") {
    val out = SparkEntry.queries("ev_fano_dispersion")(spark, sf).collect()
    assert(out.nonEmpty)
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 60000000")
        .as("m"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val (mn, mx) = (ev.map(_._2).min, ev.map(_._2).max)
    val nMin = mx - mn + 1
    out.foreach { r =>
      val tpe = r.getString(0)
      // dense replay: every minute of the span, zeros included
      val byMin = ev.filter(_._1 == tpe).groupBy(_._2)
        .map { case (k, v) => k -> v.length.toLong }
      val counts = (mn to mx).map(m => byMin.getOrElse(m, 0L))
      val t = counts.sum
      val mean = t.toDouble / nMin.toDouble
      val varDense = counts.map(c => (c.toDouble - mean) *
        (c.toDouble - mean)).sum / (nMin - 1).toDouble
      assert(r.getLong(1) == nMin)
      assert(r.getLong(2) == t)
      assert(r.getLong(3) == byMin.size.toLong)
      val fano = r.getAs[Double]("fano")
      assert(math.abs(fano - varDense / mean) < 1e-6,
        s"sparse-sum variance must equal the dense scan for $tpe")
      val z = r.getAs[Double]("z")
      val verdict = r.getString(7)
      if (z > 1.96) assert(verdict == "overdispersed")
      else if (z < -1.96) assert(verdict == "underdispersed")
      else assert(verdict == "poisson_compatible")
    }
  }
}
