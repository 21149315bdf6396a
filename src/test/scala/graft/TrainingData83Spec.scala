package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphQueries

/** Invariant pins for the round-12 batch-83 operators: exact ECDF
  * replay of the KS test, a bit-exact spectral-entropy replay, a
  * full Brandes replay in the engine's nano-unit arithmetic, and a
  * byte-window scene-cut replay.
  */
class TrainingData83Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("a_ks_two_sample: exact integer ECDF replay") {
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .select(col("x"),
        when(dayofweek(col("day")).isin(1, 7), 1L).otherwise(0L).as("we"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val n1 = rows.count(_._2 == 1L).toLong
    val n2 = rows.size.toLong - n1
    val byVal = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var c1 = 0L; var c2 = 0L; var dnum = 0L
    byVal.foreach { case (_, g) =>
      c1 += g.count(_._2 == 1L); c2 += g.count(_._2 == 0L)
      dnum = math.max(dnum, math.abs(c1 * n2 - c2 * n1))
    }
    val dStat = dnum.toDouble / (n1.toDouble * n2.toDouble)
    val ne = n1.toDouble * n2.toDouble / (n1.toDouble + n2.toDouble)
    val lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * dStat
    val lm = math.floor(lam * 1.0e6).toLong
    val bucket =
      if (lm >= 1949474L) "p<0.001"
      else if (lm >= 1627623L) "p<0.01"
      else if (lm >= 1358098L) "p<0.05"
      else if (lm >= 1223847L) "p<0.10"
      else "p>=0.10"
    val out = SparkEntry.queries("a_ks_two_sample")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_weekend") == n1)
    assert(r.getAs[Long]("n_weekday") == n2)
    assert(r.getAs[Double]("d_stat") == r6(dStat))
    assert(r.getAs[Double]("lambda_ks") == r6(lam))
    assert(r.getAs[String]("p_bucket") == bucket)
    assert(r.getAs[String]("verdict") ==
      (if (lm >= 1358098L) "distributions_differ" else "consistent"))
    assert(dStat >= 0.0 && dStat <= 1.0)
  }

  test("w_spectral_entropy: bit-exact periodogram-entropy replay") {
    val ms = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("m"))
      .orderBy(col("day"))
      .collect().map(_.getAs[Long]("m")).toSeq
    val n = ms.size
    val mu = ms.map(BigInt(_)).sum.toDouble / n.toDouble
    val kMax = math.min(512L, ((n - 1) / 2).toLong).toInt
    val powers = (1 to kMax).map { k =>
      var cc = 0.0; var ss = 0.0
      (0 until n).foreach { t =>
        val theta = 2.0 * math.Pi * k.toDouble * t.toDouble / n.toDouble
        cc += (ms(t).toDouble - mu) * math.cos(theta)
        ss += (ms(t).toDouble - mu) * math.sin(theta)
      }
      (cc * cc + ss * ss) / n.toDouble
    }
    val tp = powers.foldLeft(0.0)(_ + _)
    val hqs = powers.map { p =>
      val sh = p / tp
      math.floor(-sh * math.log(sh) * 1.0e9).toLong
    }.sum
    val h = hqs.toDouble / 1.0e9
    val hNorm = h / math.log(kMax.toDouble)
    val top = powers.map(_ / tp).max
    val out = SparkEntry.queries("w_spectral_entropy")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_freqs") == kMax.toLong)
    assert(r.getAs[Double]("spectral_entropy_nats") == r6(h))
    assert(r.getAs[Double]("entropy_norm") == r6(hNorm))
    assert(r.getAs[Double]("top_share") == r6(top))
    assert(hNorm > 0.0 && hNorm <= 1.0 + 1e-9)
  }

  test("g_betweenness_sampled: full Brandes replay in nano-unit arithmetic") {
    val edges = GraphQueries.knnUndirected(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val roots = adj.keys.toSeq.sortBy(v => (md5hex(v.toString), v)).take(4)
    val bq = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    roots.foreach { root =>
      // forward BFS with sigma, hop cap 8
      var level = Map(root -> 1L)
      var visited = Set(root)
      val layers = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
      var hop = 1
      var cur = level
      while (hop <= 8 && cur.nonEmpty) {
        val next = scala.collection.mutable.Map[Long, Long]()
        cur.foreach { case (v, sv) =>
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (!visited.contains(w))
              next(w) = next.getOrElse(w, 0L) + sv
          }
        }
        val nm = next.toMap
        if (nm.nonEmpty) { layers += nm; visited ++= nm.keySet }
        cur = nm
        hop += 1
      }
      // backward nano-unit accumulation
      var dq = Map[Long, Long]()
      var sigmaNext = Map[Long, Long]()
      for (i <- layers.indices.reverse) {
        val cur = layers(i)
        val nd = cur.map { case (v, sv) =>
          val s = adj.getOrElse(v, Set.empty).toSeq.flatMap { w =>
            sigmaNext.get(w).map { sw =>
              (BigInt(sv) * BigInt(1000000000L + dq(w)) / sw).toLong
            }
          }.sum
          v -> s
        }
        nd.foreach { case (v, d0) => bq(v) += d0 }
        dq = nd.withDefaultValue(0L)
        sigmaNext = cur
      }
    }
    val expected = bq.toSeq.sortBy { case (v, b) => (-b, v) }.take(10)
      .map { case (v, b) => (v, r6(b.toDouble / 1.0e9)) }
    val out = SparkEntry.queries("g_betweenness_sampled")(spark, sf)
      .collect().map(r => (r.getAs[Long]("node"),
        r.getAs[Double]("betweenness"))).toSeq
    assert(out == expected)
    out.foreach { case (_, b) => assert(b >= 0.0) }
  }

  test("mm_scene_cuts: byte-window signature replay") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = docs.flatMap { case (id, text) =>
      val bytes = text.getBytes("UTF-8").map(b => (b & 0xff).toLong)
      val nW = bytes.length / 16
      if (nW < 1) None
      else {
        val sigs = (0 until nW).map(w =>
          bytes.slice(w * 16, w * 16 + 16).sum)
        val deltas = sigs.zip(sigs.drop(1)).map { case (a, b) =>
          math.abs(b - a)
        }
        val cuts = deltas.count(_ > 256L).toLong
        val maxD = if (deltas.isEmpty) 0L else deltas.max
        Some((id, nW.toLong, cuts, maxD,
          if (cuts >= 3L) "dynamic" else "static"))
      }
    }.sortBy(_._1)
    val out = SparkEntry.queries("mm_scene_cuts")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("n_cuts"), r.getAs[Long]("max_delta"),
        r.getAs[String]("verdict"))).toSeq
    assert(out == expected)
    assert(out.nonEmpty)
  }
}
