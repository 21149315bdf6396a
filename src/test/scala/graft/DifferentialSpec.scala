package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Dedup, Skew}

/** Randomized differential tests: the optimized operators must equal
  * their naive quadratic/unoptimized references on seeded random
  * inputs — exactness evidence beyond the fixed corpus and planted
  * cases. All randomness is seed-pinned for reproducibility.
  */
class DifferentialSpec extends SparkTestBase {
  import spark.implicits._

  test("prefix+collapse Jaccard join equals the quadratic reference join") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 12).map(i => s"w$i")
    // random docs with planted duplicate clusters (exact copies and
    // one-token edits) across 2 blocks
    val base0 = (0 until 150).map { i =>
      val n = 4 + rnd.nextInt(8)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, s"l${i % 2}", "s0", toks)
    }
    val planted = base0.take(30).zipWithIndex.map { case ((_, l, s, t), j) =>
      val edited = if (j % 3 == 0 && t.size > 1) t.updated(0, vocab(rnd.nextInt(vocab.size))) else t
      (1000L + j, l, s, edited)
    }
    val df = (base0 ++ planted).toDF("doc_id", "lang", "source", "items")

    for (threshold <- Seq(0.5, 0.8, 1.0)) {
      val fast = Dedup.jaccardPairsOf(df, threshold)
        .select("d1", "d2", "jaccard").collect().toSet
      val sets = df.select(col("doc_id"), col("lang"), col("source"),
        array_distinct(col("items")).as("s"))
      val a = sets.alias("a"); val b = sets.alias("b")
      val naive = a.join(b,
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
            size(array_union(col("a.s"), col("b.s"))).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .collect().toSet
      assert(fast == naive, s"threshold $threshold: ${fast.size} vs ${naive.size} pairs")
    }
  }

  test("asymmetric containment join equals the quadratic directed reference join") {
    // the asymmetric prefix rule (A-prefix × B-FULL postings) is the
    // subtle part: a symmetric prefix×prefix join would silently drop
    // pairs where B's matching items sit outside B's prefix. Seeded
    // random docs with planted subset relations exercise exactly that.
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 14).map(i => s"w$i")
    val base0 = (0 until 120).map { i =>
      val n = 4 + rnd.nextInt(9)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, s"l${i % 2}", "s0", toks)
    }
    // planted: proper subsets (containment 1.0 one-way), exact copies,
    // and one-token edits
    val planted = base0.take(36).zipWithIndex.map { case ((_, l, s, t), j) =>
      val items = j % 3 match {
        case 0 if t.size > 2 => t.take(t.size - 2) // proper subset
        case 1 => t                                 // exact copy
        case _ if t.nonEmpty => t.updated(0, vocab(rnd.nextInt(vocab.size)))
        case _ => t
      }
      (2000L + j, l, s, items)
    }
    val df = (base0 ++ planted).toDF("doc_id", "lang", "source", "items")
    for (threshold <- Seq(0.5, 0.8, 1.0)) {
      val fast = Dedup.containmentPairsOf(df, threshold)
        .select("d1", "d2", "containment").collect().toSet
      val sets = df.select(col("doc_id"), col("lang"), col("source"),
        array_distinct(col("items")).as("s"))
      val a = sets.alias("a"); val b = sets.alias("b")
      val naive = a.join(b,
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
            size(col("a.s")).cast("double")).as("containment"))
        .filter(col("containment") >= threshold)
        .collect().toSet
      assert(fast == naive, s"threshold $threshold: ${fast.size} vs ${naive.size} pairs")
    }
  }

  test("containment set-key: concat-colliding distinct sets do not collapse") {
    // ["x","yz"] and ["xy","z"] concatenate to the same string under
    // an empty separator — a gkey built that way would merge them into
    // one identical-set group and emit false containment-1.0 pairs.
    // True containment is |∩|/|A| = 0 (disjoint as SETS), so the
    // correct answer at any threshold > 0 is: no pairs at all.
    val df = Seq(
      (1L, "en", "s0", Seq("x", "yz")),
      (2L, "en", "s0", Seq("xy", "z"))).toDF("doc_id", "lang", "source", "items")
    for (threshold <- Seq(0.5, 1.0)) {
      val pairs = Dedup.containmentPairsOf(df, threshold).collect()
      assert(pairs.isEmpty,
        s"threshold $threshold: got false pairs ${pairs.mkString(",")}")
    }
  }

  test("q-gram-filtered edit-distance join equals the quadratic blocked reference") {
    // the candidate rule (occurrence-numbered 3-gram count filter +
    // rarest-first prefix postings + short pool + length filter) is
    // claimed EXACT — same result as the quadratic join, only the
    // plan differs. The corpus plants every exactness hazard: exact
    // copies (collapse path), ≤10-char edits (must survive the count
    // filter), heavy edits (must be excluded by verify, not by a
    // false-negative candidate miss), SHORT strings below the n ≤ k·q
    // vacuous-bound regime, short×long pairs near the length cutoff,
    // and repeated q-grams (multiset-vs-set soundness).
    val rnd = new scala.util.Random(23)
    def randStr(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString // 6-letter alphabet → repeated grams
    val base0 = (0 until 120).map { i =>
      (i.toLong, s"l${i % 2}", "s0", randStr(12 + rnd.nextInt(29))) // lengths 12..40
    }
    val planted = base0.take(50).zipWithIndex.map { case ((_, l, s, t), j) =>
      val mutated = j % 5 match {
        case 0 => t                                    // exact copy
        case 1 =>                                      // ≤ 4 substitutions
          val sb = t.toCharArray
          (0 until math.min(4, sb.length)).foreach { _ =>
            sb(rnd.nextInt(sb.length)) = ('a' + rnd.nextInt(6)).toChar }
          new String(sb)
        case 2 => t.drop(math.min(8, t.length - 1))    // 8-char deletion
        case 3 => randStr(5 + rnd.nextInt(10)) + t.drop(10) // heavy edit
        case _ => t.take(6)                            // very short
      }
      (3000L + j, l, s, mutated)
    }
    val shorts = (0 until 20).map(i =>
      (5000L + i, s"l${i % 2}", "s0", randStr(2 + rnd.nextInt(10)))) // incl. len < q
    val df = (base0 ++ planted ++ shorts).toDF("doc_id", "lang", "source", "prefix")
    val fast = graft.operators.DedupQueries.editDistancePairsOf(df)
      .select("d1", "d2", "edit_dist").collect().toSet
    val a = df.alias("a"); val b = df.alias("b")
    val naive = a.join(b, col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.prefix"), col("b.prefix")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 10)
      .collect().toSet
    assert(fast == naive,
      s"fast ${fast.size} vs naive ${naive.size}; " +
        s"missing=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
    assert(naive.nonEmpty, "differential corpus produced no pairs — vacuous test")

    // NULL prefixes: the blocked reference emits nothing for them
    // (levenshtein over NULL is NULL) — the fast path must not
    // collapse them into a false 0-distance group
    val withNulls = df.unionByName(Seq(
        (9001L, "l0", "s0", null.asInstanceOf[String]),
        (9002L, "l0", "s0", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "source", "prefix"))
    val fastN = graft.operators.DedupQueries.editDistancePairsOf(withNulls)
      .filter(col("d1") >= 9000L || col("d2") >= 9000L).count()
    assert(fastN == 0L, "null prefixes must produce no pairs")
  }

  test("as-of joins (both directions) equal the naive per-row argmin/argmax") {
    val rnd = new scala.util.Random(7)
    val left = (0 until 200).map(i =>
      (rnd.nextInt(10).toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L), i.toLong))
      .toDF("k", "ts", "lid")
    val right = (0 until 80).map(i =>
      (rnd.nextInt(10).toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L), 10000L + i))
      .toDF("k", "ts", "rid")
      .dropDuplicates("k", "ts") // callers must dedupe right ties

    val fastB = AsOf.asOfJoin(left, right, "k", "ts", Seq("rid"))
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val naiveB = left.alias("l").join(right.alias("r"),
        col("l.k") === col("r.k") && col("r.ts") <= col("l.ts"), "left")
      .groupBy(col("lid"))
      .agg(max_by(col("rid"), struct(col("r.ts"), col("rid"))).as("rid"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fastB == naiveB, "backward as-of")

    val fastF = AsOf.asOfJoinForward(left, right, "k", "ts", Seq("rid"))
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val naiveF = left.alias("l").join(right.alias("r"),
        col("l.k") === col("r.k") && col("r.ts") >= col("l.ts"), "left")
      .groupBy(col("lid"))
      .agg(min_by(col("rid"), struct(col("r.ts"), col("rid"))).as("rid"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fastF == naiveF, "forward as-of")
  }

  test("two-phase global rank and cumsum equal the single-partition window forms") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(29)
    // duplicate keys + negative deltas + skewed partitioning: the
    // shapes that would expose a bad carry offset or a frozen-pid race
    val df = (0 until 3000).map(i =>
        (rnd.nextInt(500).toLong, rnd.nextInt(10).toLong - 5L, i.toLong))
      .toDF("k", "delta", "id").repartition(7).localCheckpoint()
    val w = Window.orderBy(col("k"), col("id"))

    val fast = graft.operators.Ranking
      .withGlobalRank(df, "rk", col("k"), col("id"))
      .select(col("id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val naive = df.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == naive, "global rank")

    val fastC = graft.operators.Ranking
      .withGlobalCumSums(df, Seq("delta" -> "run"), col("k"), col("id"))
      .select(col("id"), col("run")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val naiveC = df.withColumn("run", sum(col("delta")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("run")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fastC == naiveC, "global cumsum")
  }

  test("ranking kernels equal the single-partition window forms on skewed, tiny and empty inputs") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Ranking
    def byId(df: DataFrame, c: String): Map[Long, Long] =
      df.select(col("id"), col(c)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(label: String, df: DataFrame, sortCols: Column*): Unit = {
      val w = Window.orderBy(sortCols: _*)
      val ref = df
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("run", sum(col("delta")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prevmin", coalesce(min(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(Long.MaxValue)))
      assert(byId(Ranking.withGlobalRank(df, "rk", sortCols: _*), "rk") ==
        byId(ref, "rk"), s"$label: global rank")
      assert(byId(Ranking.withGlobalCumSums(df, Seq("delta" -> "run"), sortCols: _*), "run") ==
        byId(ref, "run"), s"$label: global cumsum")
      assert(byId(Ranking.withGlobalCumMinExclusive(df, "v", "prevmin", sortCols: _*),
        "prevmin") == byId(ref, "prevmin"), s"$label: global exclusive cummin")
    }
    val rnd = new scala.util.Random(31)
    // nine rows in ten share key 7: range bounds split that key across
    // partitions, so only the tiebreak orders it
    val skewed = (0 until 2000).map(i =>
        (if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(100).toLong,
          rnd.nextInt(11).toLong - 5L, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("k", "delta", "v", "id").repartition(5).localCheckpoint()
    check("skewed keys", skewed, col("k"), col("id"))
    check("descending tiebreak", skewed, col("k"), col("id").desc)
    check("empty input", skewed.filter(col("id") < 0), col("k"), col("id"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try check("more partitions than rows", skewed.filter(col("id") < 5), col("k"), col("id"))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // one row per key, ranked in key order: the dedup the enrichment
    // append runs on its range partitions
    for (df <- Seq(skewed, skewed.filter(col("id") < 0))) {
      val keys = df.select("k").distinct().collect().map(_.getLong(0)).sorted
      val distinct = Ranking.distinctRanges(df, "k")
      assert(distinct.rows == keys.length)
      assert(distinct.withRank("rk").select("k", "rk").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted ==
        keys.toSeq.zip(1L to keys.length.toLong), "distinct ranks")
    }
  }

  test("tolerance as-of equals the naive bounded argmax, both directions") {
    val rnd = new scala.util.Random(11)
    val left = (0 until 200).map(i =>
      (rnd.nextInt(10).toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L), i.toLong))
      .toDF("k", "ts", "lid")
    val right = (0 until 80).map(i =>
      (rnd.nextInt(10).toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L), 10000L + i))
      .toDF("k", "ts", "rid")
      .dropDuplicates("k", "ts")
    val tol = 20000L // sec — a bound that splits the 100000-sec span

    val fastB = AsOf.asOfJoinTolerance(left, right, "k", "ts", Seq("rid"), tol)
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val naiveB = left.alias("l").join(right.alias("r"),
        col("l.k") === col("r.k") && col("r.ts") <= col("l.ts") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $tol SECONDS"), "left")
      .groupBy(col("lid"))
      .agg(max_by(col("rid"), struct(col("r.ts"), col("rid"))).as("rid"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fastB == naiveB, "backward tolerance as-of")
    // the bound must actually expire some carries (vs the unbounded
    // join) or the test is vacuous
    val unbounded = AsOf.asOfJoin(left, right, "k", "ts", Seq("rid"))
      .filter(col("asof").isNotNull).count()
    val bounded = AsOf.asOfJoinTolerance(left, right, "k", "ts", Seq("rid"), tol)
      .filter(col("asof").isNotNull).count()
    assert(bounded < unbounded, s"tolerance expired nothing ($bounded of $unbounded)")

    val fastF = AsOf.asOfJoinTolerance(left, right, "k", "ts", Seq("rid"), tol,
        forward = true)
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val naiveF = left.alias("l").join(right.alias("r"),
        col("l.k") === col("r.k") && col("r.ts") >= col("l.ts") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $tol SECONDS"), "left")
      .groupBy(col("lid"))
      .agg(min_by(col("rid"), struct(col("r.ts"), col("rid"))).as("rid"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fastF == naiveF, "forward tolerance as-of")

    // a negative bound must error loudly, not silently return all-null
    intercept[IllegalArgumentException] {
      AsOf.asOfJoinTolerance(left, right, "k", "ts", Seq("rid"), -1L)
    }
  }

  test("salted sum and count-distinct equal their unsalted twins on skewed data") {
    val rnd = new scala.util.Random(13)
    // 90% of rows land on one hot key
    val df = (0 until 5000).map { i =>
      val k = if (rnd.nextInt(10) < 9) "hot" else s"k${rnd.nextInt(20)}"
      (k, rnd.nextInt(1000).toLong, s"v${rnd.nextInt(300)}")
    }.toDF("k", "v", "s")
    val salted = Skew.saltedSum(df, Seq("k"), col("v"), 8, col("s"), "total")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val plain = df.groupBy("k").agg(sum("v").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain, "salted sum")

    val scd = Skew.saltedCountDistinct(df, Seq("k"), col("s"), 8, "nd")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pcd = df.groupBy("k").agg(countDistinct(col("s")).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(scd == pcd, "salted count-distinct")
  }

  test("component loop equals union-find over the same pair graph") {
    // block "a": a 24-node CHAIN — vectors rotate 15° per id, so each
    // connects only to near angles and the component closes through
    // transitivity (the case pointer jumping exists for); block "b":
    // two tight clusters. The distributed min-label+halving loop must
    // match a local union-find over the identical edge set.
    def vec(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val chain = (0 until 24).map(i => (i.toLong, "a", vec(i * 15.0)))
    val clusters = (0 until 10).map(i => (100L + i, "b", vec(1.0 * i))) ++
      (0 until 10).map(i => (200L + i, "b", vec(90.0 + i)))
    val dir = tmpDir()
    (chain ++ clusters).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")

    // hybrid entry point — at this size it takes the driver
    // union-find path
    val got = SparkEntry.queries("g_components")(spark, dir)
      .select("component", "n_members", "max_member")
      .as[(Long, Long, Long)].collect().toSet
    // threshold 0 forces the distributed min-label+halving loop over
    // the SAME pair graph — both paths must match the reference
    // union-find below
    val pairsDf = graft.functions.Similarity
      .cosineNearDupPairs(spark, dir, 0.3).select($"v1", $"v2")
    val gotDistributed = graft.operators.GraphQueries
      .gComponentsImpl(pairsDf, localEdgeThreshold = 0L)
      .select("component", "n_members", "max_member")
      .as[(Long, Long, Long)].collect().toSet

    val pairs = pairsDf.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (u, v) => parent(find(u)) = find(v) }
    val expect = parent.keys.toSeq.groupBy(find)
      .map { case (_, members) =>
        (members.min, members.size.toLong, members.max)
      }.toSet
    assert(got == expect, "hybrid (local union-find) path")
    assert(gotDistributed == expect, "forced distributed loop path")
  }
}
