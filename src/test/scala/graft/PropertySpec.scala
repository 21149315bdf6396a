package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.Domains

/** Property tests for the pure kernels (plain ScalaCheck generators,
  * fixed seed for determinism).
  */
class PropertySpec extends SparkTestBase {
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("sentiment/category clamps are idempotent and land in domain") {
    samples(Gen.oneOf(Gen.alphaStr, Gen.asciiPrintableStr,
        Gen.oneOf(Domains.sentiments), Gen.oneOf(Domains.categories)), 200)
      .foreach { s =>
        val s1 = Domains.clampSentiment(s)
        assert(Domains.clampSentiment(s1) == s1)
        assert((Domains.sentiments :+ Domains.Error).contains(s1))
        val c1 = Domains.clampCategory(s)
        assert(Domains.clampCategory(c1) == c1)
        assert((Domains.categories :+ Domains.Error).contains(c1))
      }
  }

  test("confidence clamp lands in [0,1] and is idempotent") {
    samples(Gen.chooseNum(-10.0, 10.0), 200).foreach { d =>
      val c = Domains.clampConfidence(d)
      assert(c >= 0.0 && c <= 1.0)
      assert(Domains.clampConfidence(c) == c)
    }
    assert(Domains.clampConfidence(Double.NaN) == 0.0)
  }

  test("minhash: k entries, deterministic, permutation-insensitive to dup tokens") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val words = Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    samples(words, 10).foreach { ws =>
      val text = ws.mkString(" ")
      val dupped = (ws ++ ws.take(3)).mkString(" ") // extra duplicate shingles
      val sigs = Seq(text, text).toDF("text")
        .select(graft.operators.Dedup.minhashSignature(col("text"), 16, 1))
        .collect().map(_.getSeq[Long](0))
      assert(sigs(0).length == 16)
      assert(sigs(0) == sigs(1), "equal docs, equal signatures")
      val dupSig = Seq(dupped).toDF("text")
        .select(graft.operators.Dedup.minhashSignature(col("text"), 16, 1))
        .head().getSeq[Long](0)
      assert(dupSig == sigs(0), "min over set: duplicate tokens don't change it")
    }
  }

  test("minhash kernel equals the classical mod-(2^61-1) formulation") {
    // the optimized kernel elides the Mersenne modulo (dividend
    // provably below the prime) and interchanges the loops; this
    // pins it bit-for-bit to the textbook per-permutation form over
    // random 64-bit hash arrays (negative longs included — the mask
    // handles sign), plus the empty-array edge (all Long.MaxValue)
    val mersenne = (1L << 61) - 1
    def reference(hs: Seq[Long], k: Int): Seq[Long] =
      (0 until k).map { i =>
        val a = 2L * i + 1000003L
        val b = 104729L * i + 780291637L
        if (hs.isEmpty) Long.MaxValue
        else hs.map(h => ((h & 0xFFFFFFFFL) * a + b) % mersenne).min
      }
    val gen = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    samples(gen, 40).foreach { hs =>
      for (k <- Seq(1, 16, 64)) {
        val got = graft.plans.MinHashSignature(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            hs, org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, containsNull = false)), k)
          .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray().toSeq
        assert(got == reference(hs, k), s"k=$k hs=$hs")
      }
    }
  }

  test("alphaChunkCount equals the regex formulation on arbitrary strings") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // unicode + ascii-printable + alpha runs around the 4-boundary
    val gen = Gen.oneOf(Gen.alphaStr, Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("abcd", "abcde", "ab", "é", " ", "9", "XYZ", "zzzzzzzzz"))
        .map(_.mkString))
    val cases = samples(gen, 300) ++ Seq("", "a", "abcd", "abcde", "éabcé",
      "aAbBzZ", "aaaa bbbb-ccccddddeeee")
    val df = cases.toDF("text").select(
      graft.plans.HashExpressions.alphaChunkCount(col("text"), 4).as("fast"),
      size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
        .cast("long").as("re"))
    df.collect().zip(cases).foreach { r =>
      assert(r._1.getLong(0) == r._1.getLong(1),
        s"mismatch on ${r._2}: ${r._1.getLong(0)} vs ${r._1.getLong(1)}")
    }
  }

  test("full substring scrub equals a naive all-pairs reference on random corpora, at any cap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // tiny vocab forces heavy gram collisions (within- and cross-doc
    // repeats, partial overlaps, every df shape) — the adversarial
    // input space for the two-tier split
    val l = 3
    val docGen = Gen.chooseNum(3, 15).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    val corpusGen = Gen.listOfN(6, docGen)

    // naive reference: position p of doc X is removable iff its
    // l-gram occurs in ANY earlier doc (the keep-first coverage rule
    // both tiers implement); ledger = interval union of [p, p+l-1]
    def naive(docs: Seq[(Long, Vector[String])])
        : Map[Long, (Long, Long, Long)] = {
      val grams = docs.map { case (id, ts) =>
        id -> (if (ts.length >= l)
          (1 to ts.length - l + 1).toVector
            .map(p => p -> ts.slice(p - 1, p - 1 + l).mkString(" "))
        else Vector.empty)
      }.toMap
      val gramSets = grams.map { case (id, g) => id -> g.map(_._2).toSet }
      docs.flatMap { case (id, ts) =>
        val earlier = docs.map(_._1).filter(_ < id)
        val flagged = grams(id).collect {
          case (p, g) if earlier.exists(e => gramSets(e).contains(g)) => p
        }
        if (flagged.isEmpty) None
        else {
          val covered = flagged.flatMap(p => p until p + l).distinct.sorted
          val nIntervals = covered.zipWithIndex.count { case (v, i) =>
            i == 0 || covered(i - 1) != v - 1
          }
          Some(id ->
            (ts.length.toLong, covered.size.toLong, nIntervals.toLong))
        }
      }.toMap
    }

    samples(corpusGen, 5).foreach { corpus =>
      val docs = corpus.zipWithIndex
        .map { case (ts, i) => (i + 1L, ts.toVector) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val expect = naive(docs)
      Seq(2, 999).foreach { cap =>
        val got = graft.operators.DedupQueries
          .fullSubstringScrubOf(df, l, cap).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("n_tokens"), r.getAs[Long]("tokens_removed"),
              r.getAs[Long]("n_intervals"))).toMap
        assert(got == expect,
          s"cap=$cap corpus=${docs.map(_._2.mkString(""))}\n" +
            s"got=$got\nexpect=$expect")
      }
    }
  }

  test("mattr difference-array equals the naive sliding-window scan on random corpora") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val W = 25
    // tiny alphabets force dense within-window repetition (the
    // difference-array's hard case); lengths straddle the W boundary
    // (W-1/W/W+1 exercise the TTR fallback seam)
    val docGen = for {
      n <- Gen.oneOf(Gen.choose(1, 8), Gen.oneOf(W - 1, W, W + 1),
        Gen.choose(2 * W, 5 * W))
      alpha <- Gen.choose(1, 6)
      toks <- Gen.listOfN(n, Gen.choose(0, alpha - 1).map(i => s"w$i"))
    } yield toks.mkString(" ")
    def naive(text: String): Double = {
      val ts = text.split(" ", -1)
      if (ts.length < W) ts.distinct.length.toDouble / ts.length
      else {
        val sd = (0 to ts.length - W)
          .map(i => ts.slice(i, i + W).distinct.length.toLong).sum
        sd.toDouble / (W.toLong * (ts.length - W + 1)).toDouble
      }
    }
    val docs = samples(docGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, if (i % 2 == 0) "aa" else "bb", t) }
    val df = docs.toDF("doc_id", "lang", "text")
    val out = graft.operators.TextQueries.mattrOf(df)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("aa", "bb").foreach { lang =>
      val ds = docs.filter(_._2 == lang).sortBy(_._1)
      val exp = ds.map(d => naive(d._3)).foldLeft(0.0)(_ + _) / ds.length
      val r = out(lang)
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(2) == ds.count(_._3.split(" ", -1).length < W).toLong)
      val got = r.getAs[Double]("mean_mattr") // op rounds to 6 dp
      assert(math.abs(got - exp) < 5.1e-7,
        s"difference-array MATTR diverged from the naive scan for $lang")
    }
  }
}
