package graft

import org.apache.spark.sql.functions._


/** Behavior checks for the round-4 training-data operators, on
  * planted corpora with known-correct answers (the DuckDB oracle
  * checks cross-engine equivalence; these check the semantics).
  */
class TrainingData2Spec extends SparkTestBase {
  import spark.implicits._

  private def plant(rows: Seq[(Long, String, String)]): String = {
    val dir = tmpDir()
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("c4 filters flag the right violations and keep clean docs") {
    val good = "the quick brown fox jumps over a lazy dog and rests near the old river bank while birds sing of warm summer days gone"
    val dir = plant(Seq(
      (0L, good, "en"),                                  // keeps
      (1L, "too short to pass the filter", "en"),        // flag_short
      (2L, ("word " * 30).trim + " supercalifragilisticexpialidocious", "en"), // flag_max_word
      (3L, ("xx " * 25).trim, "en"),                     // no stopword + short words
      (4L, good + " with {braces} inside", "en")))       // flag_symbol
    val r = SparkEntry.queries("t_c4_filters")(spark, dir)
      .select("doc_id", "flag_short", "flag_max_word", "flag_no_stopword",
        "flag_symbol", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(r(0L)._6, "clean doc must keep")
    assert(r(1L)._2 && !r(1L)._6, "short doc flagged")
    assert(r(2L)._3 && !r(2L)._6, "long word flagged")
    assert(r(3L)._4 && !r(3L)._6, "stopword-free doc flagged")
    assert(r(4L)._5 && !r(4L)._6, "symbol doc flagged")
  }

  test("bm25 ranks term-dense docs first and zero-scores term-free docs") {
    val dir = plant(Seq(
      (0L, "spark spark spark query engine spark runs the spark plan on spark data", "en"),
      (1L, "the window slides over the stream and the window closes at the end", "en"),
      (2L, "completely unrelated text about cooking pasta with garlic and fresh basil", "en"),
      (3L, "spark window merge spark window merge all three terms appear here often", "en")))
    val r = SparkEntry.queries("t_bm25")(spark, dir)
      .select("doc_id", "bm25").as[(Long, Double)].collect()
    val byId = r.toMap
    assert(r.head._1 === 3L, "doc with all three terms ranks first")
    assert(byId(2L) === 0.0, "term-free doc scores zero")
    assert(byId(0L) > byId(1L), "rare+dense term beats common term")
  }

  test("token budget allocates by weight and never overfills") {
    val r = SparkEntry.queries("o_token_budget")(spark, sf)
      .select("lang", "allocated_tokens", "n_docs", "n_selected",
        "selected_tokens", "fill_rate")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(r.map(_._1).toSeq == r.map(_._1).toSeq.sorted)
    r.foreach { case (lang, alloc, nDocs, nSel, selTok, fill) =>
      val expected = Map("en" -> 8000L, "de" -> 4000L, "es" -> 3000L,
        "fr" -> 3000L, "zh" -> 2000L)
      assert(math.abs(alloc - expected(lang)) <= 1, s"$lang alloc=$alloc")
      assert(nSel <= nDocs)
      assert(selTok <= alloc, s"$lang overfilled: $selTok > $alloc")
      assert(fill >= 0.0 && fill <= 1.0)
    }
  }

  test("segment dedup finds planted shared spans and nothing else") {
    val span = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    val dir = plant(Seq(
      (0L, span + " unique tail zero one two three four five", "en"),
      (1L, span + " other words here that differ from doc zero", "en"),
      (2L, "nothing shared with any other document in this tiny corpus at all", "en")))
    val r = SparkEntry.queries("dedup_segments")(spark, dir)
      .select("doc_id", "n_dup_segments", "dup_tokens")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(0L)._2 == 1 && r(0L)._3 == 8, "doc 0 shares the planted span")
    assert(r(1L)._2 == 1 && r(1L)._3 == 8, "doc 1 shares the planted span")
    assert(r(2L)._2 == 0 && r(2L)._3 == 0, "doc 2 has no dup segments")
  }

  test("semdedup drops only same-cell lower-id-matched vectors") {
    val r = SparkEntry.queries("sim_semdedup")(spark, sf)
      .select("vec_id", "kept_id", "max_cos")
      .as[(Long, Long, Double)].collect()
    r.foreach { case (v, kept, cos) =>
      assert(kept < v, "representative is always the lower id")
      assert(cos >= 0.4, "only above-threshold matches drop a vector")
    }
  }

  test("dsir upweights target-like docs over raw-like docs") {
    // target = en. Docs of token 'aaa' are exclusively en; 'bbb' only non-en.
    val dir = plant(Seq(
      (0L, ("aaa " * 20).trim, "en"),
      (1L, ("aaa " * 20).trim, "en"),
      (2L, ("bbb " * 20).trim, "de"),
      (3L, ("bbb " * 20).trim, "de"),
      (4L, ("aaa " * 10).trim + " " + ("bbb " * 10).trim, "en")))
    val w = SparkEntry.queries("t_dsir_weights")(spark, dir)
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    assert(w(0L) > w(4L) && w(4L) > w(2L),
      s"target-exclusive > mixed > raw-exclusive: $w")
  }

  test("misra-gries guarantees hold under eviction and partitioned merge") {
    import graft.functions.MisraGries
    // k=3, heavily skewed stream + unique-token noise → evictions fire
    val heavy = Seq.fill(400)("heavy") ++ Seq.fill(150)("mid")
    val noise = (0 until 300).map(i => s"u$i")
    val stream = new scala.util.Random(7).shuffle(heavy ++ noise)
    val n = stream.size.toLong
    val k = 3
    val ds = stream.toDF("token").repartition(7)
    val mg = udaf(new MisraGries(k))
    val sketch = ds.agg(mg(col("token"))).head()
      .getMap[String, Long](0).toMap
    assert(sketch.size <= k)
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    exact.foreach { case (t, c) =>
      if (c * (k + 1) > n) assert(sketch.contains(t), s"$t ($c) must survive")
    }
    sketch.foreach { case (t, e) =>
      val c = exact(t)
      assert(e <= c, s"$t estimate $e exceeds exact $c")
      assert((c - e) * (k + 1) <= n, s"$t error ${c - e} beyond bound")
    }
  }

  test("heavy-hitters query pins the MG contract on real data") {
    val r = SparkEntry.queries("a_heavy_hitters")(spark, sf)
      .select("in_sketch", "est_le_exact", "err_bound_ok")
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(r.nonEmpty, "heavy set must be non-empty at sf0.001")
    r.foreach { case (a, b, c) => assert(a && b && c) }
  }

  test("TopKAgg equals the row_number window formulation, ties included") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 2000).map(i =>
      (i % 37, (i * 31 % 50).toDouble / 7.0, i.toLong)).toDF("grp", "score", "id")
    val topk = udaf(new graft.functions.TopKAgg(3))
    val viaAgg = df.groupBy($"grp").agg(topk($"score", $"id").as("nn"))
      .select($"grp", posexplode($"nn"))
      .select($"grp", $"pos", $"col._2".as("id"))
      .as[(Int, Int, Long)].collect().toSet
    val viaWin = df.withColumn("rk", row_number().over(
        Window.partitionBy($"grp").orderBy(desc("score"), $"id")))
      .filter($"rk" <= 3)
      .select($"grp", ($"rk" - 1).cast("int").as("pos"), $"id")
      .as[(Int, Int, Long)].collect().toSet
    assert(viaAgg == viaWin)
  }

  test("knn graph: edge counts bounded by k, mutual edges by half") {
    val r = SparkEntry.queries("sim_knn_graph")(spark, sf)
      .select("n_vectors", "n_edges", "n_mutual")
      .as[(Long, Long, Long)].collect()
    assert(r.map(_._1).sum == 500, "every vector lands in exactly one cell")
    r.foreach { case (nv, ne, nm) =>
      assert(ne <= nv * 3, "out-degree is capped at k")
      assert(nm * 2 <= ne, "a mutual pair consumes two directed edges")
    }
  }

  test("classifier inference: label matches logit sign, score is a probability") {
    val r = SparkEntry.queries("t_classifier_infer")(spark, sf)
      .select("logit", "score", "keep")
      .as[(Double, Double, Boolean)].collect()
    r.foreach { case (logit, score, keep) =>
      assert(keep == (logit >= 0.0))
      assert(score > 0.0 && score < 1.0)
    }
    val sorted = r.sortBy(_._1)
    assert(sorted.map(_._2).toSeq == sorted.map(_._2).toSeq.sorted,
      "sigmoid must be monotone in the logit")
  }

  test("dataset card totals reconcile with the corpus") {
    val r = SparkEntry.queries("t_dataset_card")(spark, sf)
      .select("n_docs", "n_exact_dups", "mean_quality")
      .as[(Long, Long, Double)].collect()
    assert(r.map(_._1).sum == 500)
    r.foreach { case (_, dups, q) =>
      assert(dups >= 0)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("native md5 token hashes equal the conv(substring(md5)) formula") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val native = graft.functions.TextFunctions.md5TokenHashes(col("text"))
    val interpreted = array_distinct(transform(
      split(col("text"), "\\s+"),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))
    val diff = d.select(native.as("a"), interpreted.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, "native Md5TokenHashes must be bit-identical")
  }

  test("perplexity is lower for docs made of common bigrams") {
    val common = "the cat sat" // repeated → high corpus bigram counts
    val dir = plant(Seq(
      (0L, (common + " ") * 6 + common, "en"),
      (1L, (common + " ") * 6 + common, "en"),
      (2L, (common + " ") * 6 + common, "en"),
      (3L, "every bigram here appears exactly once nowhere else in this corpus today", "en")))
    val r = SparkEntry.queries("t_perplexity")(spark, dir)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    assert(r(0L) < r(3L), s"common-bigram doc must score lower ce: $r")
    r.values.foreach(ce => assert(ce > 0.0))
  }
}
