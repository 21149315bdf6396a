package graft

import org.apache.spark.sql.functions._
import graft.sources.AnnIndex

/** Build-once/search-many contract of the persisted ANN index: the
  * parquet round-trip is invisible to search results (equal to the
  * in-query operators row for row), repeated searches reuse the
  * artifact without rebuilding, and the IVF layout partitions by
  * cell so probes can prune. */
class AnnIndexSpec extends SparkTestBase {

  private def emb(n: Int = Int.MaxValue) =
    graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.Similarity.toDoubleArr(col("embedding")).as("e"))
      .filter(col("vec_id") < n)

  test("persisted IVF search equals the in-query operator row for row") {
    val dir = tmpDir()
    AnnIndex.buildIvf(spark, sf, s"$dir/ivf")
    val fromDisk = AnnIndex.searchIvf(spark, s"$dir/ivf", emb(10), 5, 4)
      .collect().map(_.toSeq).toSeq
    val inQuery = graft.functions.Similarity
      .ivfSampleTopK(spark, sf, 10, 5, 16, 4)
      .collect().map(_.toSeq).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inQuery)
    // the layout prunes: one directory per cell
    val cells = new java.io.File(s"$dir/ivf/assignments")
      .listFiles().count(_.getName.startsWith("cell="))
    assert(cells > 1 && cells <= 16)
  }

  test("persisted IVF-PQ search equals the in-query operator; search-many reuses the build") {
    val dir = tmpDir()
    AnnIndex.buildIvfPq(spark, sf, s"$dir/pq")
    val once = AnnIndex.searchIvfPq(spark, s"$dir/pq", emb(10))
      .collect().map(_.toSeq).toSeq
    val inQuery = SparkEntry
      .queries("sim_ivf_pq_search")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(once.nonEmpty && once == inQuery)
    // search-many: a different query slice against the SAME artifact,
    // no rebuild — results must still re-rank under ADC semantics
    // (every query returns k rows with rk 1..5)
    val more = AnnIndex.searchIvfPq(spark, s"$dir/pq",
      emb(20).filter(col("vec_id") >= 10))
    val byQ = more.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), max(col("rk")).as("mx")).collect()
    assert(byQ.length == 10 && byQ.forall(r =>
      r.getAs[Long]("n") == 5L && r.getAs[Int]("mx") == 5))
  }

  test("persisted dedup band index: round-trip search equals the in-query operator") {
    val dir = tmpDir()
    val all = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val idx = graft.streaming.DedupStream
      .corpusIndex(all.filter(col("doc_id") % 10 =!= 0))
    graft.streaming.DedupStream.writeIndex(idx, s"$dir/didx")
    val fromDisk = graft.streaming.DedupStream.flagBatch(
        all.filter(col("doc_id") % 10 === 0),
        graft.streaming.DedupStream.readIndex(spark, s"$dir/didx"))
      .orderBy(col("new_doc_id")).collect().map(_.toSeq).toSeq
    val inQuery = graft.operators.Dedup.minhashIncrementalHits(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inQuery)
    // layout prunes per band
    val bandDirs = new java.io.File(s"$dir/didx/bands")
      .listFiles().count(_.getName.startsWith("band="))
    assert(bandDirs == 16)
  }

  test("registered serving queries reuse one per-JVM build across invocations") {
    val p1 = AnnIndex.ivfIndexFor(spark, sf)
    val p2 = AnnIndex.ivfIndexFor(spark, sf)
    assert(p1 == p2)
    val out = SparkEntry
      .queries("sim_ivf_persisted")(spark, sf).collect()
    assert(out.length == 50) // 10 queries × k=5
  }
}
