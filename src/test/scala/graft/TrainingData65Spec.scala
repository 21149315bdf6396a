package graft

import org.apache.spark.sql.functions._
import graft.operators.TextQueries

/** Recall contract of two-tier decontamination: the leakage matrix
  * is invariant to where the df cap sits (the cap is a work split,
  * not a recall knob), and a mass-duplicated leaked passage — the
  * shape the capped matrix silently dropped — is counted in full. */
class TrainingData65Spec extends SparkTestBase {

  // split assignment is md5(doc_id)-nibble; find ids per split so
  // fixtures can plant leaks deterministically
  private def splitOf(id: Long): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val nib = "%02x".format(h(0)).charAt(0)
    if (nib == 'c' || nib == 'd') "val"
    else if (nib == 'e' || nib == 'f') "test" else "train"
  }

  test("planted 200x-duplicated eval leak: counted in full at the production cap") {
    import spark.implicits._
    val leak = (1 to 13).map(i => s"leak$i").mkString(" ")
    val ids = (1L to 4000L)
    val trainIds = ids.filter(splitOf(_) == "train").take(200)
    val valId = ids.find(splitOf(_) == "val").get
    // the leaked passage sits in 200 train docs AND one val doc
    // (df = 201 >> ContaminationMaxDf = 64); filler is per-doc unique
    val docs = (trainIds.map(id =>
      (id, s"$leak f${id}_a f${id}_b f${id}_c")) :+
      ((valId, s"$leak g_a g_b g_c"))).toDF("doc_id", "text")
    val cap = TextQueries.ContaminationMaxDf

    // the capped pair-tier matrix is blind to it (the round-10-class
    // hole, demonstrated): df 201 > 64 drops the gram entirely
    assert(TextQueries.splitContaminationOf(docs, cap).count() == 0)

    // the two-tier matrix reports every leaky doc in both directions
    val full = TextQueries.contaminationFullOf(docs, cap).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_leaky_docs"), r.getAs[Long]("n_shared_grams"))).toMap
    assert(full(("val", "train")) == (200L, 1L))   // 200 contaminated train docs
    assert(full(("train", "val")) == (1L, 1L))     // the leaked eval doc
    // cross-split pairs only: intra-train duplication is dedup's
    // jurisdiction, not the leakage matrix's
    assert(full.size == 2)
  }

  test("leakage matrix equals a naive set-intersection reference on random corpora, at any cap") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // ids chosen to guarantee all three splits are populated
    val ids = {
      def pick(split: String, n: Int) =
        (1L to 500L).filter(splitOf(_) == split).take(n)
      (pick("train", 4) ++ pick("val", 2) ++ pick("test", 2)).toVector
    }
    // tiny vocab, short docs: most docs are BELOW the 13-token
    // shingle length, exercising the whole-doc-gram arm; longer docs
    // exercise sliding 13-grams; dfs span both tiers at cap 2
    val docGen = Gen.chooseNum(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y")))
    def gramSet(ts: Vector[String]): Set[String] =
      if (ts.length < 13) Set(ts.mkString(" "))
      else (1 to ts.length - 12)
        .map(p => ts.slice(p - 1, p + 12).mkString(" ")).toSet
    def naive(docs: Seq[(Long, Vector[String])])
        : Map[(String, String), (Long, Long)] = {
      val bySplit = docs.groupBy(d => splitOf(d._1))
      val pairs = for {
        f <- bySplit.keys; t <- bySplit.keys; if f != t
      } yield (f, t)
      pairs.flatMap { case (f, t) =>
        val fGrams = bySplit(f).flatMap(d => gramSet(d._2)).toSet
        val tDocs = bySplit(t)
        val shared = fGrams.intersect(tDocs.flatMap(d => gramSet(d._2)).toSet)
        if (shared.isEmpty) None
        else Some((f, t) ->
          (tDocs.count(d => gramSet(d._2).exists(shared)).toLong,
            shared.size.toLong))
      }.toMap
    }
    val corpusGen = Gen.listOfN(ids.length, docGen)
    (0 until 4).flatMap(i =>
        corpusGen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { corpus =>
        val docs = ids.zip(corpus.map(_.toVector))
        val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
          .toDF("doc_id", "text")
        val expect = naive(docs)
        Seq(2, 999).foreach { cap =>
          val got = TextQueries.contaminationFullOf(df, cap).collect()
            .map(r => (r.getString(0), r.getString(1)) ->
              (r.getAs[Long]("n_leaky_docs"),
                r.getAs[Long]("n_shared_grams"))).toMap
          assert(got == expect, s"cap=$cap\ngot=$got\nexpect=$expect")
        }
      }
  }

  test("leakage matrix is cap-invariant on the corpus (tiers must agree with the ideal join)") {
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def m(cap: Int) = TextQueries.contaminationFullOf(docs, cap)
      .collect().map(_.toSeq).toSeq
    val lo = m(2)     // corpus max 13-gram df is small: most routes high-df
    val hi = m(9999)  // everything routes through the pair tier
    assert(lo.nonEmpty && lo == hi,
      s"cap must be a pure work split:\nlo=$lo\nhi=$hi")
  }
}
