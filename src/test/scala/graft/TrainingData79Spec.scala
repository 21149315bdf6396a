package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-11 batch-79 operators: integer-state
  * Page–Hinkley replay, a Nelson–Aalen replay plus the FH-vs-KM
  * dominance law, per-doc byte-entropy replays, and the Bloom
  * closed forms.
  */
class TrainingData79Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("w_page_hinkley: exact integer PH replay per year") {
    val out = SparkEntry.queries("w_page_hinkley")(spark, sf)
      .collect().map(r => r.getAs[Long]("year") -> r).toMap
    val daily = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .orderBy(col("day"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getAs[Long]("x")))
    val byYear = daily.groupBy(_._1.getYear)
    assert(out.size == byYear.size)
    byYear.foreach { case (yr, days) =>
      var csum = 0L; var cnt = 0L; var m = 0L; var mmin = Long.MaxValue
      var best: (Long, java.time.LocalDateTime) = (Long.MinValue, null)
      days.sortBy(d => d._1.toString).foreach { case (day, x) =>
        cnt += 1; csum += x
        val term = x * 1000000L - (csum * 1000000L) / cnt
        m += term
        mmin = math.min(mmin, m)
        val ph = m - mmin
        if (ph > best._1) best = (ph, day)
      }
      val r = out(yr.toLong)
      assert(r.getAs[Long]("n_days") == days.size.toLong)
      assert(r.getAs[java.time.LocalDateTime]("peak_day") == best._2)
      assert(r.getAs[Double]("peak_ph_usd") ==
        r6(best._1.toDouble / 1e6 / 100.0))
      assert(r.getAs[Boolean]("drift_alarm") == (best._1 > 5000000000000L))
    }
  }

  test("ev_nelson_aalen: ledger replay; FH dominates KM at every event day") {
    val out = SparkEntry.queries("ev_nelson_aalen")(spark, sf).collect()
    assert(out.nonEmpty)
    // replay the duration ledger
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hz = ev.map(_._3).max
    val s0 = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min }
    val durs = s0.toSeq.map { case (u, s) =>
      val p = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 >= s)
        .map(_._3)
      val (evFlag, end) = if (p.nonEmpty) (1L, p.min) else (0L, hz)
      (evFlag, (end - s) / 86400000000L)
    }
    val n = durs.size.toLong
    val byT = durs.groupBy(_._2).map { case (t, ds) =>
      (t, ds.count(_._1 == 1L).toLong, ds.size.toLong)
    }.toSeq.sortBy(_._1)
    var leftBefore = 0L; var hq = 0L; var vq = 0L
    val expected = byT.flatMap { case (t, dd, cc) =>
      val nRisk = n - leftBefore
      leftBefore += cc
      hq += dd * 1000000000000L / nRisk
      vq += dd * 1000000000000L / (nRisk * nRisk)
      if (dd > 0)
        Some((t, nRisk, dd, r6(hq.toDouble / 1e12),
          r6(math.sqrt(vq.toDouble / 1e12)),
          r6(math.exp(-hq.toDouble / 1e12))))
      else None
    }
    assert(out.length == expected.size)
    out.zip(expected).foreach { case (r, (t, nr, dd, h, se, sfh)) =>
      assert(r.getAs[Long]("t_days") == t)
      assert(r.getAs[Long]("n_risk") == nr)
      assert(r.getAs[Long]("n_events") == dd)
      assert(r.getAs[Double]("h_na") == h)
      assert(r.getAs[Double]("se_na") == se)
      assert(r.getAs[Double]("s_fh") == sfh)
    }
    // Fleming–Harrington dominates Kaplan–Meier pointwise:
    // exp(−Σ d/n) ≥ Π (1 − d/n)
    val km = SparkEntry.queries("ev_survival_km")(spark, sf)
      .collect().map(r => r.getAs[Long]("t_days") ->
        r.getAs[Double]("s_km")).toMap
    out.foreach { r =>
      km.get(r.getAs[Long]("t_days")).foreach { sKm =>
        assert(r.getAs[Double]("s_fh") >= sKm - 1e-9)
      }
    }
  }

  test("mm_byte_entropy: per-doc histogram replay; bounds and verdicts") {
    val out = SparkEntry.queries("mm_byte_entropy")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.getBytes("UTF-8").nonEmpty)
    assert(out.size == docs.size)
    docs.foreach { case (id, text) =>
      val bs = text.getBytes("UTF-8")
      val counts = bs.groupBy(b => "%02X".format(b & 0xff))
        .map { case (hex2, arr) => hex2 -> arr.length.toLong }
      val nTot = bs.length.toDouble
      val h = counts.toSeq.sortBy(_._1).foldLeft(0.0) { case (a, (_, c)) =>
        a + -(c / nTot) * math.log(c / nTot)
      } / math.log(2.0)
      val r = out(id)
      assert(r.getAs[Long]("n_bytes") == bs.length.toLong)
      assert(r.getAs[Long]("n_distinct_bytes") == counts.size.toLong)
      assert(r.getAs[Double]("entropy_bits") == r6(h))
      assert(h >= -1e-9 && h <= 8.0 + 1e-9)
      val want = if (h >= 7.5) "high_entropy_suspect"
        else if (h < 2.0) "degenerate" else "ok"
      assert(r.getAs[String]("verdict") == want)
    }
  }

  test("o_bloom_advisor: closed forms; fpp monotonicity") {
    val out = SparkEntry.queries("o_bloom_advisor")(spark, sf).collect()
    assert(out.length == 8) // 4 tables × 2 fpp
    val ln2 = math.log(2.0)
    out.foreach { r =>
      val n = r.getAs[Long]("n_keys"); val p = r.getAs[Double]("fpp")
      val m = math.ceil(-n.toDouble * math.log(p) / (ln2 * ln2)).toLong
      assert(r.getAs[Long]("m_bits") == m)
      assert(r.getAs[Long]("n_bytes") == (m + 7) / 8)
      assert(r.getAs[Long]("k_hashes") ==
        math.max(1L, math.round(m.toDouble / n * ln2)))
      assert(r.getAs[Double]("bits_per_key") == r6(m.toDouble / n))
    }
    // tighter fpp always costs more bits
    out.groupBy(_.getAs[String]("table_name")).foreach { case (_, rs) =>
      val byFpp = rs.sortBy(_.getAs[Double]("fpp"))
      assert(byFpp.head.getAs[Long]("m_bits") >
        byFpp.last.getAs[Long]("m_bits"))
    }
  }
}
