package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.functions.{IvfPq, Similarity}

/** Persisted ANN index — the build-once/search-many serving shape a
  * 100 TB deployment actually runs: codebooks and assignments are
  * computed ONCE by the batch pipeline and written as parquet
  * tables; every search reads the artifact, never the raw corpus.
  * Two layouts:
  *
  *  - IVF: `centroids` (cid, ce) + `assignments` (vec_id, e, cell),
  *    assignments PARTITIONED BY cell so a probe of p cells prunes
  *    to p directories at scan time (at 65k cells the partition
  *    count is the directory budget; bucketing-by-cell is the same
  *    idea inside fewer files).
  *  - IVF-PQ: `coarse` + `subcode` + `codes` — codes carry only
  *    (vec_id, cell, m, code), 8 bytes-ish per vector per subspace;
  *    the raw embedding never ships to the searcher (ADC).
  *
  * Search results are differentially pinned equal to the in-query
  * operators (AnnIndexSpec) and oracle-checked via the registered
  * sim_ivf_persisted / sim_ivf_pq_persisted queries, whose DuckDB
  * oracles are the SAME SQL as the in-query variants — the
  * round-trip must be invisible to the result.
  */
object AnnIndex {

  // ---- IVF (raw-vector inverted file) -----------------------------

  def buildIvf(s: SparkSession, sfDir: String, indexDir: String,
      nCells: Int = 16): Unit = {
    val emb = Tables.table(s, sfDir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val (cents, assigned) = Similarity.ivfSampleBuild(emb, nCells)
    cents.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/centroids")
    assigned.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$indexDir/assignments")
  }

  /** `queries` is (vec_id, e: array<double>). */
  def searchIvf(s: SparkSession, indexDir: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = s.read.parquet(s"$indexDir/centroids")
    val assigned = s.read.parquet(s"$indexDir/assignments")
      .select(col("vec_id"), col("e"), col("cell"))
    Similarity.ivfProbeSearch(cents, assigned, queries, k, nProbe)
  }

  // ---- IVF-PQ (codes-only, ADC search) ----------------------------

  def buildIvfPq(s: SparkSession, sfDir: String, indexDir: String,
      nCells: Int = 16, m8: Int = 8): Unit = {
    val emb = Tables.table(s, sfDir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .transform(Barrier.materialize)
    val idx = IvfPq.build(emb, nCells, m8)
    idx.coarse.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/coarse")
    idx.subCode.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/subcode")
    idx.codes.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$indexDir/codes")
  }

  def searchIvfPq(s: SparkSession, indexDir: String, queries: DataFrame,
      m8: Int = 8, nProbe: Int = 2, k: Int = 5): DataFrame = {
    val idx = IvfPq.PqIndex(
      s.read.parquet(s"$indexDir/coarse"),
      s.read.parquet(s"$indexDir/subcode"),
      s.read.parquet(s"$indexDir/codes")
        .select(col("vec_id"), col("cell"), col("m"), col("code")))
    IvfPq.search(idx, queries, m8, nProbe, k)
  }

  // ---- build-once caches for the registered serving queries -------

  // One build per (corpus, layout) per JVM: the registered
  // sim_*_persisted queries search the artifact on every invocation
  // (bench reps measure the SERVING cost, not repeated builds) —
  // exactly the deployment contract. A fresh JVM rebuilds and
  // overwrites, so a stale tmp artifact can't leak across corpora.
  private val builtIvf = scala.collection.concurrent.TrieMap[String, String]()
  private val builtPq = scala.collection.concurrent.TrieMap[String, String]()

  private def tmpPath(tag: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      Integer.toHexString(sfDir.hashCode)

  def ivfIndexFor(s: SparkSession, sfDir: String, nCells: Int = 16): String =
    builtIvf.getOrElseUpdate(s"$sfDir#$nCells", {
      val p = tmpPath(s"ivf$nCells", sfDir)
      buildIvf(s, sfDir, p, nCells); p
    })

  def ivfPqIndexFor(s: SparkSession, sfDir: String, nCells: Int = 16,
      m8: Int = 8): String =
    builtPq.getOrElseUpdate(s"$sfDir#$nCells#$m8", {
      val p = tmpPath(s"ivfpq$nCells", sfDir)
      buildIvfPq(s, sfDir, p, nCells, m8); p
    })
}
