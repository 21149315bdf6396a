package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimHashAgg, TextFunctions => TF}
import graft.operators.Dedup
import graft.plans.HashExpressions

/** Dedup operator verification: planted near-duplicates must be
  * found by MinHash-LSH; the SimHash expression must equal the
  * distributed aggregator; candidate generation must not miss
  * high-jaccard pairs present in the exact (inverted-index) result.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def plantedDocs = {
    // base docs + near-dup of doc 0 (one token changed) + exact dup
    val d0 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d0near = "the quick brown fox jumps over the lazy cat near the river bank today"
    val d1 = "spark shuffles data between executors when wide dependencies appear in the plan"
    val d2 = "completely different content about cooking pasta with garlic butter and fresh basil leaves"
    Seq((0L, d0), (1L, d1), (2L, d2), (3L, d0near), (4L, d0))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
  }

  private def withPlanted[T](f: String => T): T = {
    val dir = tmpDir()
    plantedDocs.write.parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("minhash-LSH finds planted exact and near duplicates") {
    withPlanted { dir =>
      val pairs = Dedup.minhashLshPairs(spark, dir, threshold = 0.5)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 4L)), "exact dup must be found")
      assert(pairs.contains((0L, 3L)), "near dup must be found")
      assert(!pairs.contains((1L, 2L)), "unrelated docs must not pair")
    }
  }

  test("simhash expression equals the distributed aggregator") {
    withPlanted { dir =>
      val viaExpr = Dedup.simhash(spark, dir)
        .as[(Long, Long)].collect().toMap
      val viaAgg = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(TF.shingleHashes(col("text"), 1)).as("th"))
        .as[(Long, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(SimHashAgg.toColumn.name("simhash"))
        .collect().toMap
      assert(viaExpr == viaAgg)
    }
  }

  test("simhash pairs rank planted dups closest") {
    withPlanted { dir =>
      val pairs = Dedup.simhashPairs(spark, dir, maxDist = 10)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 4L)))
      assert(pairs.contains((0L, 3L)))
    }
  }

  test("ngram jaccard finds phrasing-level dups, not vocab-level") {
    withPlanted { dir =>
      val pairs = Dedup.ngramJaccardPairs(spark, dir, 3, 0.5)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 4L)))
      assert(pairs.contains((0L, 3L)))
      assert(!pairs.contains((1L, 2L)))
    }
  }

  test("dup groups resolve transitive pairs to one canonical group") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11 → groups {1,2,3},{10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val groups = Dedup.dupGroups(pairs)
      .as[(Long, Long, Seq[Long])].collect().toSeq
    assert(groups == Seq((1L, 3L, Seq(1L, 2L, 3L)), (10L, 2L, Seq(10L, 11L))))
  }

  test("dup groups: local union-find and distributed propagation agree") {
    import spark.implicits._
    // transitive chain spanning both directions + two isolated pairs
    val pairs = Seq((5L, 9L), (1L, 9L), (2L, 3L), (20L, 21L), (3L, 7L))
      .toDF("d1", "d2")
    val local = Dedup.dupGroups(pairs)
      .as[(Long, Long, Seq[Long])].collect().toSeq
    val dist = Dedup.dupGroups(pairs, localEdgeThreshold = 0L)
      .as[(Long, Long, Seq[Long])].collect().toSeq
    assert(local == dist)
    assert(local == Seq((1L, 3L, Seq(1L, 5L, 9L)), (2L, 3L, Seq(2L, 3L, 7L)),
      (20L, 2L, Seq(20L, 21L))))
  }

  test("dup groups over planted minhash pairs keep doc 0 as canonical") {
    withPlanted { dir =>
      val g = Dedup.dupGroups(Dedup.minhashLshPairs(spark, dir, threshold = 0.5))
        .as[(Long, Long, Seq[Long])].collect().toSeq
      assert(g.exists { case (c, _, members) =>
        c == 0L && members.contains(3L) && members.contains(4L) })
    }
  }

  test("exact summary counts duplicates") {
    withPlanted { dir =>
      val r = Dedup.exactSummary(spark, dir).head()
      assert(r.getAs[Long]("n_docs") == 5)
      assert(r.getAs[Long]("n_unique") == 4)
      assert(r.getAs[Long]("n_dups") == 1)
    }
  }

  test("LSH candidates cover all exact token-jaccard pairs at sf0.001") {
    // exact inverted-index jaccard (threshold .9) ⊆ minhash-LSH
    // verified pairs at the same threshold (LSH may add none here)
    val exact = Dedup.jaccardPairs(spark, sf, 0.95)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lshShingle1 = Dedup.minhashLshPairs(spark, sf, k = 64, bands = 32,
        shingleN = 1, threshold = 0.95)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val missed = exact -- lshShingle1
    assert(missed.size <= math.max(1, exact.size / 5),
      s"LSH missed too many exact pairs: $missed of ${exact.size}")
  }

  test("minhash estimate honors the 0.25 sketch band on almost all pairs") {
    // the distributional half of the dedup_minhash_est contract: the
    // oracle checks per-pair engine agreement; THIS pins that a
    // correct 64-perm family keeps ~4σ coverage (a broken family
    // collapses to ~0%), tolerating the rare legitimate outlier
    val rows = SparkEntry.queries("dedup_minhash_est")(spark, sf)
      .select(col("est_within_025")).collect().map(_.getBoolean(0))
    assert(rows.nonEmpty)
    val within = rows.count(identity).toDouble / rows.length
    assert(within >= 0.95, s"only $within of pairs inside the 0.25 band")
  }

  test("incremental hits equal the cross-side slice of the full LSH pair set") {
    // the batch-vs-corpus band join must find exactly the full
    // pipeline's pairs that straddle the new/old split — identical
    // signatures band identically whether computed per-doc or
    // per-collapsed-group
    val full = Dedup.minhashLshPairs(spark, sf, portableHashes = true)
    val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 0
    val expected = full
      .filter(isNew(col("d1")) =!= isNew(col("d2")))
      .select(when(isNew(col("d1")), col("d1")).otherwise(col("d2")).as("nd"),
        when(isNew(col("d1")), col("d2")).otherwise(col("d1")).as("od"),
        col("jaccard"))
      .groupBy(col("nd").as("new_doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("od")).as("first_match"),
        max(col("jaccard")).as("best_jaccard"))
    val got = Dedup.minhashIncrementalHits(spark, sf)
    val e = expected.collect().map(_.toSeq).toSet
    val g = got.collect().map(_.toSeq).toSet
    assert(g == e, s"incremental != cross-side slice: extra=${g -- e} missing=${e -- g}")
    assert(g.nonEmpty, "fixture corpus should contain cross-side near-dups")
  }
}
