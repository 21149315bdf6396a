package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-12 batch-85 operators: width-model
  * replay of the broadcast advisor, a full EWMA-chart fold replay,
  * exact symbol-census replay, and the stump's information-gain
  * replay with the C4-semantics purity pin.
  */
class TrainingData85Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("o_broadcast_advisor: exact width-model replay; dims broadcast at sf0.001") {
    val specs = Seq(
      ("region", 4L, Seq("r_name")),
      ("nation", 8L, Seq("n_name")),
      ("customer", 20L, Seq("c_name", "c_mktsegment")),
      ("supplier", 20L, Seq("s_name")),
      ("part", 20L, Seq("p_name", "p_brand", "p_type")))
    val expected = specs.map { case (t, fixed, strs) =>
      val rows = graft.sources.Tables.table(spark, sf, t)
        .select(strs.map(c => length(col(c)).cast("long").as(c)): _*)
        .collect()
      val n = rows.length.toLong
      val width = fixed + strs.map { c =>
        rows.map(r => BigInt(r.getAs[Long](c))).sum / n
      }.sum
      val est = n * width.toLong
      (t, n, width.toLong, est,
        if (est <= 10L * 1024 * 1024) "broadcast" else "shuffle",
        if (est * 100 <= 10L * 1024 * 1024) "broadcast" else "shuffle")
    }.sortBy(_._1)
    val out = SparkEntry.queries("o_broadcast_advisor")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("est_row_bytes"), r.getAs[Long]("est_bytes"),
        r.getAs[String]("advice"), r.getAs[String]("advice_100x"))).toSeq
    assert(out == expected)
    // at the test sf, every dimension fits the broadcast threshold
    assert(out.forall(_._5 == "broadcast"))
  }

  test("w_ewma_control: full chart fold replay") {
    val xs = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .orderBy(col("day"))
      .collect().map(_.getAs[Long]("x")).toSeq
    val n = xs.size.toLong
    val sx = xs.map(BigInt(_)).sum
    val sxx = xs.map(v => BigInt(v) * BigInt(v)).sum
    val muMu = (sx * 1000000 / n).toLong
    val mu = muMu.toDouble / 1.0e6
    val nvar = BigInt(n) * sxx - sx * sx
    val tw = BigInt("1000000000000")
    val nvd = (nvar / tw).toDouble * 1.0e12 + (nvar % tw).toDouble
    val sigma = math.sqrt(nvd / (n.toDouble * (n - 1).toDouble))
    var z = mu; var pw = 1.0; var ooc = 0.0; var first = -1.0; var t = 0.0
    xs.foreach { x =>
      val z2 = 0.2 * x.toDouble + 0.8 * z
      val pw2 = pw * 0.64
      val breach = math.abs(z2 - mu) >
        3.0 * sigma * math.sqrt(0.2 / 1.8 * (1.0 - pw2))
      if (breach) { ooc += 1.0; if (first < 0.0) first = t + 1.0 }
      z = z2; pw = pw2; t += 1.0
    }
    val out = SparkEntry.queries("w_ewma_control")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("mean_microcents") == muMu)
    assert(r.getAs[Long]("sigma_millicents") ==
      math.floor(sigma * 1000.0).toLong)
    assert(r.getAs[Long]("n_ooc_days") == ooc.toLong)
    assert(r.getAs[Long]("first_ooc_t") == first.toLong)
    assert(r.getAs[Long]("ewma_final_millicents") ==
      math.floor(z * 1000.0).toLong)
  }

  test("t_code_detect: exact symbol census replay; prose corpus routes prose") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.nonEmpty).sortBy(_._1).toSeq
    val expected = docs.map { case (id, text) =>
      def cnt(cls: String): Long = text.count(cls.contains(_)).toLong
      val len = text.length.toLong
      val (b, st, u, dg) =
        (cnt("{}[]()<>"), cnt(";=&|"), cnt("_"), cnt("0123456789"))
      val score = r6((2 * b + 2 * st + u + dg).toDouble / len.toDouble)
      (id, len, b, st, u, dg, score,
        if (score > 0.05) "code" else "prose")
    }
    val out = SparkEntry.queries("t_code_detect")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"),
        r.getAs[Long]("n_brace"), r.getAs[Long]("n_stmt"),
        r.getAs[Long]("n_under"), r.getAs[Long]("n_digit"),
        r.getAs[Double]("code_score"), r.getAs[String]("verdict"))).toSeq
    assert(out == expected)
  }

  test("t_stump_split: IG replay; the theta=10 left side is pure non-keep") {
    val lbl = SparkEntry.queries("t_c4_filters")(spark, sf)
      .select(col("n_tokens"),
        when(col("keep"), 1L).otherwise(0L).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val n = lbl.size.toLong
    val pos = lbl.map(_._2).sum
    def h(p: Long, m: Long): Double =
      if (p == 0L || p == m) 0.0
      else {
        val q = p.toDouble / m.toDouble
        -q * math.log(q) - (1.0 - q) * math.log(1.0 - q)
      }
    val grid = (1L to 10L).map(_ * 10L)
    val scored = grid.map { th =>
      val nl = lbl.count(_._1 <= th).toLong
      val pl = lbl.filter(_._1 <= th).map(_._2).sum
      val ig = h(pos, n) -
        (if (nl > 0) nl.toDouble / n.toDouble * h(pl, nl) else 0.0) -
        (if (n - nl > 0)
          (n - nl).toDouble / n.toDouble * h(pos - pl, n - nl)
        else 0.0)
      (th, nl, pl, n - nl, pos - pl, r6(ig))
    }
    val ranked = scored.sortBy { case (th, _, _, _, _, ig) => (-ig, th) }
      .zipWithIndex
      .map { case ((th, nl, pl, nr, pr, ig), i) =>
        (i + 1, th, nl, pl, nr, pr, ig)
      }
    val out = SparkEntry.queries("t_stump_split")(spark, sf)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("threshold"),
        r.getAs[Long]("n_left"), r.getAs[Long]("pos_left"),
        r.getAs[Long]("n_right"), r.getAs[Long]("pos_right"),
        r.getAs[Double]("ig"))).toSeq
    assert(out == ranked)
    // C4 semantics: docs with ≤10 tokens are all flag_short ⇒ the
    // θ=10 left side contains no kept docs
    val th10 = out.find(_._2 == 10L).get
    assert(th10._4 == 0L)
  }
}
