package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Invariant pins for the round-12 batch-84 operators: exact
  * md5-dyadic replays of the FIM cuts and MLM masking census, and a
  * full greedy k-center replay with the Gonzalez monotonicity law.
  */
class TrainingData84Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The engine's md5₆₀ dyadic uniform. */
  private def u60(s: String): Double =
    (java.lang.Long.parseLong(md5hex(s).take(15), 16).toDouble + 0.5) /
      1152921504606846976.0

  test("t_fim_split: md5-dyadic cut replay, chars conserve exactly") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 >= 10L).sortBy(_._1).toSeq
    val expected = docs.map { case (id, len) =>
      val cut1 = math.floor(len.toDouble *
        (0.1 + 0.4 * u60(s"$id:fim1"))).toLong
      val cut2 = cut1 + math.floor((len - cut1).toDouble *
        (0.3 + 0.4 * u60(s"$id:fim2"))).toLong
      (id, len, cut1, cut2 - cut1, len - cut2)
    }
    val out = SparkEntry.queries("t_fim_split")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len_chars"),
        r.getAs[Long]("prefix_len"), r.getAs[Long]("middle_len"),
        r.getAs[Long]("suffix_len"))).toSeq
    assert(out == expected)
    out.foreach { case (_, len, p, m, sfx) =>
      assert(p + m + sfx == len) // exact conservation
      assert(p >= 0 && m >= 0 && sfx >= 0)
    }
  }

  test("t_mlm_masking: per-token decision replay, action split partitions") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      var masked = 0L; var aMask = 0L; var aRand = 0L; var aKeep = 0L
      toks.zipWithIndex.foreach { case (tok, pos) =>
        val u = u60(s"$id:$pos:$tok")
        if (u < 0.15) {
          masked += 1
          val v = u60(s"$id:$pos:act")
          if (v < 0.8) aMask += 1
          else if (v < 0.9) aRand += 1
          else aKeep += 1
        }
      }
      (id, toks.length.toLong, masked, aMask, aRand, aKeep,
        r6(masked.toDouble / toks.length.toDouble))
    }
    val out = SparkEntry.queries("t_mlm_masking")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_masked"), r.getAs[Long]("n_mask_token"),
        r.getAs[Long]("n_random_replace"),
        r.getAs[Long]("n_kept_original"),
        r.getAs[Double]("mask_rate"))).toSeq
    assert(out == expected)
    // the three actions partition the masked set; corpus mask rate
    // lands near the 15% budget
    out.foreach { case (_, _, m, a, b, c, _) => assert(a + b + c == m) }
    val totTok = out.map(_._2).sum.toDouble
    val totMask = out.map(_._3).sum.toDouble
    assert(math.abs(totMask / totTok - 0.15) < 0.03)
  }

  test("sim_kcenter_coreset: full Gonzalez replay; selection distances non-increasing") {
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until a.length).foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def dist(a: Array[Double], b: Array[Double]): Double =
      1.0 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val seed = emb.minBy { case (id, _) => (md5hex(id.toString), id) }
    var sel = Seq((1, seed._1, 0.0))
    var dm = emb.map { case (id, e) => (id, e, dist(e, seed._2)) }
    for (i <- 2 to 8) {
      val nxt = dm.minBy { case (id, _, d0) => (-d0, id) }
      sel = sel :+ ((i, nxt._1, nxt._3))
      dm = dm.map { case (id, e, d0) =>
        (id, e, math.min(d0, dist(e, nxt._2)))
      }
    }
    val radius = dm.map(_._3).max
    val expected = sel.map { case (o, id, d0) =>
      (o, id, r6(d0), r6(radius))
    }
    val out = SparkEntry.queries("sim_kcenter_coreset")(spark, sf)
      .collect()
      .map(r => (r.getAs[Int]("sel_order"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("sel_dist"), r.getAs[Double]("coverage_radius")))
      .toSeq
    assert(out == expected)
    // Gonzalez law: selection distances are non-increasing from step
    // 2 on, and the final radius never exceeds the last selection
    val dists = out.drop(1).map(_._3)
    assert(dists.zip(dists.drop(1)).forall { case (a, b) => a >= b })
    assert(out.head._4 <= dists.last + 1e-9)
  }
}
