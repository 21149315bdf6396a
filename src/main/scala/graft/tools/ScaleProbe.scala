package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Duplicate-blowup scale probe: build an N×-duplicated copy of the
  * sf0.1 documents table (each copy keeps the text, shifts doc_id),
  * then time the dedup operators on it. This is the adversarial
  * shape for near-dup detection — every existing dup group grows N×,
  * so pair OUTPUT grows ~N² while candidate GENERATION must stay
  * ~linear (identical-set collapse + prefix filtering + LSH bands).
  * Usage: SPARK_GRAFT_SCALE_COPIES=10 sbt "runMain graft.tools.ScaleProbe"
  * SPARK_GRAFT_CPUS sizes local parallelism and shuffle partitions,
  * as in Bench.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val dir = s"/tmp/graft_scale_${copies}x"

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val one = docs.count()
    (0 until copies).map(c => docs.withColumn("doc_id",
        col("doc_id") + lit(c.toLong * 10000000L)))
      .reduce(_.unionAll(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    println(s"SCALE corpus: $one -> $n docs (${copies}x)")

    // SPARK_GRAFT_SCALE_OPS=substring (comma-separated substrings)
    // restricts which rows run: at 100× the pair-emitting families'
    // OUTPUT is ~10,000× (contracted quadratic growth), so the 100×
    // probe targets the linear families only
    val opFilter = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).toSeq)
    def timed(name: String)(f: => Long): Unit = {
      if (!opFilter.forall(_.exists(name.contains))) return
      val t0 = System.nanoTime()
      val rows = f
      val t1 = (System.nanoTime() - t0) / 1e9
      val t0b = System.nanoTime()
      val rows2 = f
      val t2 = (System.nanoTime() - t0b) / 1e9
      println(f"SCALE $name: cold $t1%.1f s, warm $t2%.1f s, rows $rows%d/$rows2%d")
    }

    import graft.operators.Dedup
    timed("exact_summary")(Dedup.exactSummary(spark, dir).count())
    timed("jaccard_pairs(0.9)")(Dedup.jaccardPairs(spark, dir).count())
    timed("ngram_jaccard(0.5)")(Dedup.ngramJaccardPairs(spark, dir).count())
    timed("minhash_lsh_pairs")(Dedup.minhashLshPairs(spark, dir).count())
    timed("dup_groups")(
      Dedup.dupGroups(Dedup.minhashLshPairs(spark, dir)).count())
    timed("simhash_pairs")(Dedup.simhashPairs(spark, dir).count())
    timed("winnow_pairs")(Dedup.winnowPairs(spark, dir).count())
    // the adversarial shape for the substring family too: every
    // planted verbatim span now exists in N× docs, so anchor postings
    // fan out N× per gram while the df-cap (64) bounds the pair work
    timed("exact_substring")(
      graft.operators.DedupQueries.queries("dedup_exact_substring")(
        spark, dir).count())
    timed("substring_scrub")(
      graft.operators.DedupQueries.queries("dedup_substring_scrub")(
        spark, dir).count())
    // the two-tier family at the PRODUCTION cap: at ≥65× duplication
    // every original df≥1 gram exceeds SubstrMaxDf=64, so the high-df
    // tier carries the entire load — the shape the round-10 audit
    // flagged as the silent-recall hole. Work must stay linear in
    // occurrences (no pairing above the cap).
    import graft.operators.DedupQueries
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (substrL, substrMaxDf) = (10, 64) // DedupQueries production values
    timed("substring_highdf")(
      DedupQueries.highDfIslandsOf(docsDf, substrL, substrMaxDf).count())
    timed("substring_full_scrub")(
      DedupQueries.fullSubstringScrubOf(docsDf, substrL, substrMaxDf)
        .count())
    spark.stop()
  }
}
