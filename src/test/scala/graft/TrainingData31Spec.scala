package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-26 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData31Spec extends SparkTestBase {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("CUPED: driver-side moment replay and arm partition") {
    val out = SparkEntry.queries("a_cuped")(spark, sf).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("arm")).toSeq == Seq("A", "B"))
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val perUser = ev.groupBy(_._1).map { case (uid, xs) =>
      val x = xs.filter(_._2 < mid).map(_._3).sum
      val y = xs.filter(_._2 >= mid).map(_._3).sum
      val arm = if (java.lang.Long.parseLong(
        md5hex(s"cuped:$uid").take(2), 16) % 2 == 0) "A" else "B"
      (arm, x, y)
    }.toSeq
    assert(out.map(_.getAs[Long]("n_users")).sum == perUser.length.toLong)
    // pooled theta replay
    val n = perUser.length.toDouble
    val sx = perUser.map(_._2).sum.toDouble
    val sy = perUser.map(_._3).sum.toDouble
    val sxx = perUser.map(u => u._2.toDouble * u._2).sum
    val sxy = perUser.map(u => u._2.toDouble * u._3).sum
    val theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    out.foreach { row =>
      assert(math.abs(row.getAs[Double]("theta") -
        math.rint(theta * 1e6) / 1e6) < 1e-6)
      val arm = row.getAs[String]("arm")
      val us = perUser.filter(_._1 == arm)
      val na = us.length.toDouble
      assert(row.getAs[Long]("n_users") == us.length.toLong)
      val ay = us.map(_._3).sum.toDouble
      val ayy = us.map(u => u._3.toDouble * u._3).sum
      val ax = us.map(_._2).sum.toDouble
      val axx = us.map(u => u._2.toDouble * u._2).sum
      val axy = us.map(u => u._2.toDouble * u._3).sum
      val varY = (ayy - ay * ay / na) / (na - 1)
      val varX = (axx - ax * ax / na) / (na - 1)
      val covXY = (axy - ax * ay / na) / (na - 1)
      val varC = varY - 2 * theta * covXY + theta * theta * varX
      assert(math.abs(row.getAs[Double]("var_raw") - varY / 1e4) < 1e-3)
      assert(math.abs(row.getAs[Double]("var_cuped") - varC / 1e4) < 1e-3)
      assert(math.abs(row.getAs[Double]("var_reduction") -
        (1.0 - varC / varY)) < 1e-4)
    }
  }

  test("Naive Bayes: confusion rows cover the test split exactly") {
    val out = SparkEntry.queries("t_naive_bayes")(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val test = docs.filter { case (id, _) =>
      java.lang.Long.parseLong(md5hex(s"nb:$id").take(2), 16) % 5 == 0 }
    // every test doc is classified exactly once
    assert(out.map(_.getAs[Long]("n_docs")).sum == test.length.toLong)
    val byLang = test.groupBy(_._2).view.mapValues(_.length.toLong)
    out.groupBy(_.getAs[String]("true_lang")).foreach { case (tl, rows) =>
      assert(rows.map(_.getAs[Long]("n_docs")).sum == byLang(tl))
    }
    // predictions only ever name TRAIN classes
    val trainLangs = docs.filterNot { case (id, _) =>
      java.lang.Long.parseLong(md5hex(s"nb:$id").take(2), 16) % 5 == 0 }
      .map(_._2).toSet
    assert(out.map(_.getAs[String]("pred_lang")).forall(trainLangs))
    // full driver replay: retrain the multinomial NB on the same
    // split and require the identical confusion matrix
    val texts = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def isTest(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"nb:$id").take(2), 16) % 5 == 0
    val (te, tr) = texts.partition(x => isTest(x._1))
    val counts = tr.flatMap(x => x._3.split("\\s+", -1).map((x._2, _)))
    val byClass = counts.groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val tot = byClass.view.mapValues(_.length.toLong).toMap
    val cnt = counts.groupBy(identity).view.mapValues(_.length.toLong)
    val v = counts.map(_._2).distinct.length.toLong
    val prior = tr.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nd = tr.length.toLong
    val preds = te.map { case (_, tl, text) =>
      val toks = text.split("\\s+", -1).toSeq
      val best = prior.keys.toSeq.sorted.map { c =>
        val ll = toks.foldLeft(0.0) { (a, t) =>
          a + math.log((cnt.getOrElse((c, t), 0L) + 1.0) / (tot(c) + v))
        }
        (c, ll + math.log(prior(c).toDouble / nd))
      }.sortBy { case (c, sc) => (-sc, c) }.head
      (tl, best._1)
    }
    val expectCm = preds.groupBy(identity).view.mapValues(_.length.toLong)
    out.foreach { row =>
      assert(row.getAs[Long]("n_docs") == expectCm.getOrElse(
        (row.getAs[String]("true_lang"), row.getAs[String]("pred_lang")), 0L))
    }
    assert(out.length == expectCm.size)
  }

  test("pHash dedup: driver replay of banding, verify, and collapse") {
    val out = SparkEntry.queries("mm_phash_dedup")(spark, sf).collect()
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bands(text: String): Seq[Long] = {
      val len = text.length
      def nib(j: Int): Long = {
        val lo = j * len / 16; val hi = (j + 1) * len / 16
        java.lang.Long.parseLong(
          md5hex(text.substring(lo, hi)).take(1), 16)
      }
      (0 to 3).map(b =>
        (0 to 3).map(j => nib(4 * b + j) << (4 * (3 - j))).sum)
    }
    val hashed = docs.map { case (id, t) => (id, bands(t)) }
    val groups = hashed.groupBy(_._2).values
      .map(_.map(_._1).sorted.toSeq).toSeq
    val within = groups.flatMap(ms =>
      ms.combinations(2).map(p => (p(0), p(1), 0L)))
    val reps = groups.map(ms => (ms.min, hashed.find(_._1 == ms.min).get._2))
    val cross = for {
      Seq((g1, h1), (g2, h2)) <- reps.sortBy(_._1).combinations(2).toSeq
      if (0 to 3).exists(b => h1(b) == h2(b))
      ham = (0 to 3).map(b =>
        java.lang.Long.bitCount(h1(b) ^ h2(b))).sum.toLong
      if ham <= 3
      m1 <- groups.find(_.min == g1).get
      m2 <- groups.find(_.min == g2).get
    } yield (math.min(m1, m2), math.max(m1, m2), ham)
    val expect = (within ++ cross).sortBy(p => (p._1, p._2))
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (row, (d1, d2, ham)) =>
      assert(row.getAs[Long]("d1") == d1)
      assert(row.getAs[Long]("d2") == d2)
      assert(row.getAs[Long]("hamming") == ham)
    }
    // exact-duplicate texts must appear at Hamming 0
    val textGroups = docs.groupBy(_._2).values.filter(_.length > 1)
    textGroups.foreach { g =>
      val ids = g.map(_._1).sorted
      assert(out.exists(r => r.getAs[Long]("d1") == ids(0) &&
        r.getAs[Long]("d2") == ids(1) && r.getAs[Long]("hamming") == 0L))
    }
  }
}
