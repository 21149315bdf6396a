package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-77 operators: an
  * independent Scala replay of the whole k-means dataflow feeding
  * exact Davies–Bouldin / Calinski–Harabasz recomputations, a
  * loop-replay of the quantized-Gram CKA, and a full replay of the
  * JL projection audit including the k-NN edge construction.
  */
class TrainingData77Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** (vec_id, L2-normalized vector), vec_id-ascending. */
  private def normalized(): Seq[(Long, Array[Double])] =
    graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val x = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(dot(x, x))
        (r.getLong(0), x.map(_ / n))
      }.sortBy(_._1).toSeq

  /** Scala replay of kmeansAssignCents: md5 seeds → assign → mean
    * update (member fold in vec_id order) → re-assign. Returns the
    * final (vec_id, cid, cos-with-centroid) and centroid map. */
  private def kmeansReplay(emb: Seq[(Long, Array[Double])])
      : (Seq[(Long, Int, Double)], Map[Int, Array[Double]]) = {
    val seeds = emb.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(8).zipWithIndex
      .map { case ((_, e), i) => (i + 1) -> e }.toMap
    def assign(cents: Map[Int, Array[Double]]): Seq[(Long, Int, Double)] =
      emb.map { case (id, e) =>
        val scored = cents.toSeq.map { case (cid, ce) => (cid, dot(e, ce)) }
        val (cid, cos) = scored.minBy { case (cid, cos) => (-cos, cid) }
        (id, cid, cos)
      }
    val a1 = assign(seeds)
    val byC = a1.groupBy(_._2)
    val cents1 = byC.map { case (cid, members) =>
      val ms = members.sortBy(_._1)
        .map { case (id, _, _) => emb.find(_._1 == id).get._2 }
      val dim = ms.head.length
      cid -> Array.tabulate(dim) { p =>
        ms.foldLeft(0.0)((a, v) => a + v(p)) / ms.size.toDouble
      }
    }
    (assign(cents1), cents1)
  }

  test("sim_davies_bouldin: independent replay of scatter, separation, index") {
    val out = SparkEntry.queries("sim_davies_bouldin")(spark, sf)
      .collect().map(r => r.getAs[Long]("cluster") -> r).toMap
    val emb = normalized()
    val (a2, cents) = kmeansReplay(emb)
    val cn2 = cents.map { case (c, ce) => c -> dot(ce, ce) }
    val scat = a2.groupBy(_._2).map { case (cid, ms) =>
      val s = ms.sortBy(_._1).foldLeft(0.0) { case (a, (_, _, cos)) =>
        a + math.sqrt(math.max(0.0, 1.0 - 2.0 * cos + cn2(cid)))
      } / ms.size
      cid -> (ms.size.toLong, s)
    }
    val cids = cents.keys.toSeq.sorted
    val ratios = for {
      i <- cids; j <- cids if i != j
    } yield {
      val m = math.sqrt(math.max(0.0,
        cn2(i) + cn2(j) - 2.0 * dot(cents(i), cents(j))))
      (i, j, (scat(i)._2 + scat(j)._2) / m)
    }
    val top = ratios.groupBy(_._1).map { case (i, rs) =>
      i -> rs.minBy { case (_, j, r) => (-r, j) }
    }
    val dbi = cids.foldLeft(0.0)((a, i) => a + top(i)._3) / cids.size
    assert(out.size == cids.size)
    cids.foreach { i =>
      val r = out(i.toLong)
      assert(r.getAs[Long]("n_members") == scat(i)._1)
      assert(r.getAs[Double]("scatter") == r6(scat(i)._2))
      assert(r.getAs[Double]("r_max") == r6(top(i)._3))
      assert(r.getAs[Long]("worst_neighbor") == top(i)._2.toLong)
      assert(r.getAs[Double]("db_index") == r6(dbi))
      assert(r.getAs[Long]("worst_neighbor") != i.toLong)
    }
  }

  test("sim_calinski_harabasz: SSW/SSB replay off the same clustering") {
    val out = SparkEntry.queries("sim_calinski_harabasz")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val emb = normalized()
    val (a2, cents) = kmeansReplay(emb)
    val cn2 = cents.map { case (c, ce) => c -> dot(ce, ce) }
    val byC = a2.groupBy(_._2)
    val swByC = byC.map { case (cid, ms) =>
      cid -> ms.sortBy(_._1).foldLeft(0.0) { case (a, (_, _, cos)) =>
        a + math.max(0.0, 1.0 - 2.0 * cos + cn2(cid))
      }
    }
    val cids = cents.keys.toSeq.sorted
    val ssw = cids.foldLeft(0.0)((a, c) => a + swByC(c))
    // exact quantized global mean of the normalized vectors
    val n = emb.size
    val dim = emb.head._2.length
    val xbar = Array.tabulate(dim) { p =>
      val sq = emb.map { case (_, e) =>
        BigInt(math.floor(e(p) * 1048576.0).toLong)
      }.sum
      sq.toDouble / n.toDouble / 1048576.0
    }
    val ssb = cids.foldLeft(0.0) { (a, c) =>
      val ce = cents(c)
      val d2 = (0 until dim).foldLeft(0.0) { (s, p) =>
        s + (ce(p) - xbar(p)) * (ce(p) - xbar(p))
      }
      a + byC(c).size.toDouble * d2
    }
    val k = cids.size
    val ch = (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble)
    assert(r.getAs[Long]("n_vectors") == n.toLong)
    assert(r.getAs[Long]("n_clusters") == k.toLong)
    assert(r.getAs[Double]("ssw") == r6(ssw))
    assert(r.getAs[Double]("ssb") == r6(ssb))
    assert(r.getAs[Double]("ch_index") == r6(ch))
  }

  test("e_matryoshka_cka: quantized Gram loop replay; prefix monotonicity") {
    val rows = SparkEntry.queries("e_matryoshka_cka")(spark, sf)
      .collect().map(r => r.getAs[Long]("prefix_dim") -> r).toMap
    val raw = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong)
          .toArray))
      .sortBy(_._1)
    val dim = 64
    val n = raw.length
    val g = Array.ofDim[Long](dim, dim)
    val s = Array.ofDim[Long](dim)
    raw.foreach { case (_, q) =>
      var i = 0
      while (i < dim) {
        s(i) += q(i)
        var j = 0
        while (j < dim) { g(i)(j) += q(i) * q(j); j += 1 }
        i += 1
      }
    }
    def c(i: Int, j: Int): Double =
      g(i)(j).toDouble - s(i).toDouble * s(j).toDouble / n.toDouble
    def hsic(mi: Int, mj: Int): Double = {
      var a = 0.0
      for (i <- 0 until mi; j <- 0 until mj) a += c(i, j) * c(i, j)
      a
    }
    val hxx = hsic(dim, dim)
    Seq(8, 16, 32).foreach { p =>
      val cka = hsic(dim, p) / math.sqrt(hxx * hsic(p, p))
      val row = rows(p.toLong)
      assert(row.getAs[Long]("n_vectors") == n.toLong)
      assert(row.getAs[Double]("cka") == r6(cka))
      assert(cka > 0.0 && cka <= 1.0 + 1e-9)
    }
    // a longer prefix can only explain MORE of the full representation
    assert(rows(8L).getAs[Double]("cka") <= rows(16L).getAs[Double]("cka"))
    assert(rows(16L).getAs[Double]("cka") <= rows(32L).getAs[Double]("cka"))
  }

  test("e_jl_distortion: full replay including the k-NN edge set") {
    val out = SparkEntry.queries("e_jl_distortion")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val emb = normalized()
    // knnEdgesWithAssigned replay: 16 md5 cells, top-3 cos edges
    val cents = emb.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(16).map { case (id, e) => (id, e) }
    val assigned = emb.map { case (id, e) =>
      val (cell, _) = cents.map { case (cid, ce) => (cid, dot(e, ce)) }
        .minBy { case (cid, cs) => (-cs, cid) }
      (id, cell, e)
    }
    val byCell = assigned.groupBy(_._2)
    val edges = assigned.flatMap { case (src, cell, es) =>
      byCell(cell).filter(_._1 != src)
        .map { case (dst, _, ed) => (dst, dot(es, ed)) }
        .sortBy { case (dst, cos) => (-cos, dst) } // TopKAgg order
        .take(3).map { case (dst, _) => (src, dst) }
    }
    // deterministic sign projection
    val rmat = Array.tabulate(64, 16) { (i, k) =>
      if ("01234567".contains(md5hex(s"jl$i:$k").charAt(0))) 0.25 else -0.25
    }
    val embMap = emb.toMap
    def proj(e: Array[Double]): Array[Double] =
      Array.tabulate(16) { k =>
        (0 until 64).foldLeft(0.0)((a, i) => a + e(i) * rmat(i)(k))
      }
    val pm = emb.map { case (id, e) => id -> proj(e) }.toMap
    val ratios = edges.flatMap { case (a, b) =>
      val ea = embMap(a); val eb = embMap(b)
      val od2 = (0 until 64).foldLeft(0.0) { (s, i) =>
        s + (ea(i) - eb(i)) * (ea(i) - eb(i))
      }
      val pa = pm(a); val pb = pm(b)
      val pd2 = (0 until 16).foldLeft(0.0) { (s, i) =>
        s + (pa(i) - pb(i)) * (pa(i) - pb(i))
      }
      if (od2 > 1e-12) Some(((a, b), pd2 / od2)) else None
    }
    val nUsed = ratios.size
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    assert(r.getAs[Long]("n_used") == nUsed.toLong)
    assert(r.getAs[Double]("min_ratio") == r6(ratios.map(_._2).min))
    assert(r.getAs[Double]("max_ratio") == r6(ratios.map(_._2).max))
    val mean = ratios.sortBy(_._1).foldLeft(0.0)((a, q) => a + q._2) / nUsed
    assert(r.getAs[Double]("mean_ratio") == r6(mean))
    val eps = math.sqrt(8.0 * math.log(emb.size.toDouble) / 16.0)
    assert(r.getAs[Double]("eps_jl") == r6(eps))
    val within = ratios.count(q => math.abs(q._2 - 1.0) <= eps)
    assert(r.getAs[Double]("share_within_eps") ==
      r6(within.toDouble / nUsed.toDouble))
  }
}
