package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Invariant pins for the round-9 batch-16 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData19Spec extends SparkTestBase {

  test("ivf nprobe sweep: recall and cost are monotone in nprobe") {
    val out = SparkEntry.queries("sim_ivf_nprobe_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Int]("nprobe"))
    assert(out.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 2, 4))
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_candidates") <= b.getAs[Long]("n_candidates"),
          "probing more cells never scans fewer candidates")
        assert(a.getAs[Long]("n_hits") <= b.getAs[Long]("n_hits"),
          "candidate sets are nested, so top-5 recall is monotone")
      case _ =>
    }
    out.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= 50L)
      val rec = r.getAs[Double]("recall_at_5")
      assert(math.abs(rec - r.getAs[Long]("n_hits") / 50.0) < 1e-9)
    }
    // probing all preferred cells of a 500-vector corpus with 16 cells
    // must do materially better than one cell on some query set — at
    // minimum, never worse (nestedness gives >=; equality would mean
    // probe-1 already captured everything, fine on tiny fixtures)
    assert(out.last.getAs[Long]("n_hits") >= out.head.getAs[Long]("n_hits"))
  }

  test("jackknife: folds partition corpus, SE matches driver replay") {
    val r = SparkEntry.queries("a_jackknife_variance")(spark, sf)
      .collect().head
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    assert(r.getAs[Long]("n_docs") == docs.count())
    assert(r.getAs[Long]("n_folds") <= 16L && r.getAs[Long]("n_folds") >= 2L)
    assert(r.getAs[Double]("jk_se") >= 0.0)
    // driver replay from the raw micro values
    val rows = docs.select(
        substring(md5(col("doc_id").cast("string")), 1, 1).as("g"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).cast("long")
          .as("q"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val byG = rows.groupBy(_._1).map { case (g, xs) =>
      (g, xs.length.toLong, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val nn = rows.length.toLong; val ss = rows.map(_._2).sum
    val ms = byG.map { case (_, n, sq) =>
      ((ss - sq).toDouble / (nn - n).toDouble) / 1000000.0 }
    val mbar = ms.sum / ms.length
    val jvar = ms.map(m => (m - mbar) * (m - mbar)).sum *
      (ms.length - 1.0) / ms.length
    assert(math.abs(r.getAs[Double]("jk_mean") - mbar) < 1e-5)
    assert(math.abs(r.getAs[Double]("jk_se") - math.sqrt(jvar)) < 1e-5)
  }
}
