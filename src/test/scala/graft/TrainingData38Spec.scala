package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-33 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData38Spec extends SparkTestBase {

  test("readability: counters replay on a driver-side sample, band rule") {
    val out = SparkEntry.queries("t_readability")(spark, sf).collect()
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.length.toLong == nDocs)
    val texts = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    out.take(20).foreach { r =>
      val text = texts(r.getAs[Long]("doc_id"))
      val words = text.split("\\s+", -1).length.toLong
      val sent = math.max("[.!?]+".r.findAllIn(text).length, 1).toLong
      val syl = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      assert(r.getAs[Long]("n_words") == words)
      assert(r.getAs[Long]("n_sentences") == sent)
      assert(r.getAs[Long]("n_syllables") == syl)
      val fre = 206.835 - 1.015 * (words.toDouble / sent) -
        84.6 * (syl.toDouble / words)
      assert(math.abs(r.getAs[Double]("flesch") - fre) < 1e-5)
      val band = if (fre >= 60.0) "easy" else if (fre >= 30.0) "medium" else "hard"
      assert(r.getAs[String]("band") == band)
    }
  }

  test("fertility: >= 1, and word/subword masses replay") {
    val out = SparkEntry.queries("t_tokenizer_fertility")(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    out.foreach { r =>
      // every word is >= 1 piece, so fertility >= 1
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"))
    }
    // driver replay of the piece rule on one language's totals
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val lang = out.head.getAs[String]("lang")
    val mine = docs.filter(_._1 == lang).map(_._2)
    val w = mine.map(_.split("\\s+", -1).length.toLong).sum
    val sw = mine.map(_.split("\\s+", -1)
      .map(t => math.ceil(t.length / 4.0).toLong).sum).sum
    assert(out.head.getAs[Long]("n_words") == w)
    assert(out.head.getAs[Long]("n_subwords") == sw)
  }

  test("boilerplate suffix: counts ordered, shares consistent") {
    val out = SparkEntry.queries("t_boilerplate_suffix")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 10)
    val ns = out.map(_.getAs[Long]("n_docs")).toSeq
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    out.foreach { r =>
      val want = math.rint(r.getAs[Long]("n_docs").toDouble / nDocs * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("share") - want) < 1e-12)
      // a suffix is at most 3 tokens
      assert(r.getAs[String]("suffix").split(" ", -1).length <= 3)
    }
  }
}
