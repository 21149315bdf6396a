package graft

import org.apache.spark.sql.functions._


/** Invariants for the round-5 corpus operators: chunk-with-overlap
  * coverage, priority-sampling determinism/subset consistency, and
  * dup-group survivor maximality.
  */
class ChunkSampleSpec extends SparkTestBase {
  import spark.implicits._

  test("chunks cover every token and interior chunks are full-width") {
    // token counts via the SAME tokenizer the operator uses
    // (TF.tokens) so spec and operator can never diverge on
    // whitespace handling
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
    val chunks = SparkEntry.queries("t_chunk_overlap")(spark, sf)
    val agg = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("chunk_index").as("last_idx"),
        expr("max_by(n_chunk_tokens, chunk_index)").as("last_w"),
        max("n_chunk_tokens").as("max_w"))
      .join(docs, "doc_id")
    val rows = agg.as[(Long, Long, Long, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nChunks, lastIdx, lastW, maxW, n) =>
      // one chunk per stride start below n: nChunks = ceil(n / 24)
      assert(nChunks == (n + 23) / 24, s"doc $id: $nChunks chunks for $n tokens")
      assert(lastIdx == nChunks - 1)
      assert(maxW <= 32, s"doc $id: chunk wider than W")
      // the last chunk ends exactly at the last token — full coverage
      assert(lastIdx * 24 + lastW == n, s"doc $id: uncovered tail")
    }
    // every interior chunk (not the last) is exactly W wide when the
    // doc has ≥ W tokens past its start
    val interior = chunks.join(docs, "doc_id")
      .filter(col("chunk_index") * 24 + 32 <= col("n"))
    assert(interior.filter(col("n_chunk_tokens") =!= 32).isEmpty,
      "interior chunk not full-width")
  }

  test("priority sample is deterministic and subset-consistent") {
    val s1 = SparkEntry.queries("t_weighted_sample")(spark, sf)
      .select("doc_id").as[Long].collect().toSeq
    val s2 = SparkEntry.queries("t_weighted_sample")(spark, sf)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 == s2, "sample not rerun-stable")
    assert(s1.size == math.min(100,
      spark.read.parquet(s"$sf/documents.parquet").count()).toInt)
    // priority sampling favors heavy docs: sampled mean weight above
    // the corpus mean (statistical, but deterministic given the data)
    val corpusMean = spark.read.parquet(s"$sf/documents.parquet")
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = SparkEntry.queries("t_weighted_sample")(spark, sf)
      .agg(avg("weight")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("epoch planner: budget arithmetic replayed, bounds hold, rerun-stable") {
    val rows = SparkEntry.queries("t_source_epochs")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs, "every doc assigned to a source plan")
    // replay the budget arithmetic driver-side with the same
    // integer-stats / double-division order the operator uses
    val tot = rows.map(_._3).sum
    val wOf = (src: String) => 1L + src.drop(3).toLong % 4
    val wsum = rows.map(r => wOf(r._1)).sum
    rows.foreach { case (src, n, srcTok, base, nUp, emitted, idSum) =>
      val r = (tot * wOf(src)).toDouble / wsum / srcTok
      assert(base == math.floor(r).toLong, s"$src: base $base vs floor($r)")
      assert(nUp >= 0 && nUp <= n, s"$src: n_upsampled $nUp outside [0,$n]")
      assert(emitted >= base * srcTok && emitted <= (base + 1) * srcTok,
        s"$src: emitted $emitted outside epoch bounds")
      assert((nUp == 0) == (idSum == 0))
    }
    val again = SparkEntry.queries("t_source_epochs")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == again, "epoch plan not rerun-stable")
  }

  test("training order: epoch accounting, shard routing, rerun-stable fingerprints") {
    val rows = SparkEntry.queries("o_training_order")(spark, sf)
      .as[(Int, Long, Long, String)].collect().toSeq
    assert(rows.map(_._1).toSet.subsetOf((0 until 16).toSet))
    // total items = Σ per-doc epoch counts (w = 1 + src# % 4)
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source")).as[String].collect()
      .map(src => 1L + src.drop(3).toLong % 4).sum
    assert(rows.map(_._2).sum == expected, "epoch expansion lost items")
    // md5 routing spreads the load: no shard dominates
    val counts = rows.map(_._2)
    assert(counts.max <= 3 * (expected / 16).max(1L),
      s"shard imbalance: ${counts.mkString(",")}")
    val again = SparkEntry.queries("o_training_order")(spark, sf)
      .as[(Int, Long, Long, String)].collect().toSeq
    assert(rows == again, "training order not rerun-stable")
  }

  test("resolve-best survivor is the longest member, min-id on ties") {
    val resolved = SparkEntry.queries("dedup_resolve_best")(spark, sf)
    val groups = SparkEntry.queries("dedup_groups")(spark, sf)
    assert(resolved.count() == groups.count(),
      "one survivor per dup group")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    // no member of any group is strictly longer than its survivor
    val members = operators.Dedup
      .dupGroups(operators.Dedup.minhashLshPairs(spark, sf, portableHashes = true))
      .select(col("canonical_id"), explode(col("members")).as("doc_id"))
      .join(docs, "doc_id")
    val viol = members.join(
        resolved.select(col("canonical_id"), col("survivor_chars")),
        "canonical_id")
      .filter(col("n_chars") > col("survivor_chars"))
    assert(viol.isEmpty, "member longer than survivor")
  }
}
