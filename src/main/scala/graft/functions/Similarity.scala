package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Grain
import graft.sources.Tables

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (query-side
  * broadcast → fact side streams, no shuffle until the tiny top-k);
  * the LSH (random-hyperplane) variant is the 100 TB scale path:
  * bucket the corpus once, then probe only matching buckets.
  * Dot products are left-fold `aggregate` over doubles — fixed
  * evaluation order, so results are deterministic and oracle-stable.
  */
object Similarity {
  /** Left-fold dot product of two double arrays (fixed order) —
    * native expression (graft.plans.DotProduct); bit-identical to
    * `aggregate(zip_with(...))` but without per-element boxing. */
  def dot(a: Column, b: Column): Column =
    graft.plans.HashExpressions.dotProduct(a, b)

  def toDoubleArr(c: Column): Column = transform(c, x => x.cast("double"))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors for the query set `vec_id < nQueries`.
    * Queries are broadcast; corpus side never shuffles until the
    * per-query top-k (TakeOrdered-sized window).
    */
  def bruteForceTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
    val q = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe")))
    // cosineTopK's neighbor ≠ query filter becomes the join condition
    cosineTopK(q.crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("e"))), k)
  }

  /** Per-query top-k of a candidate frame that has a `query_id`
    * column: `row_number` over each query's candidates in `order`
    * (whose last key must make it total), ranks 1..k kept, `out`
    * projected, the answer sorted by (query_id, rk). The answer holds
    * at most nQueries·k rows, so it is sorted in one partition
    * ([[Grain.sortedBounded]]): no sampling job, no range exchange.
    * `out` must keep `query_id` and `rk`. */
  def topKPerQuery(candidates: DataFrame, k: Int, order: Column*)(
      out: Column*): DataFrame =
    Grain.sortedBounded(
      candidates
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(order: _*)))
        .filter(col("rk") <= k)
        .select(out: _*),
      col("query_id"), col("rk"))

  /** [[topKPerQuery]] by cosine of query vector `qe` and candidate
    * `e` (ties → lower neighbor_id): (query_id, neighbor_id, cosine
    * rounded to 6 places, rk). */
  private def cosineTopK(candidates: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      candidates.filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qe"), col("e")).as("cos")),
      k, desc("cos"), col("neighbor_id"))(
      col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cosine"),
      col("rk"))

  /** Embedding-cosine near-duplicate pairs: all pairs within a
    * blocking key (`label` — at scale: a coarse quantization/IVF
    * cell) with cosine ≥ threshold. Inverted blocking keeps the
    * pair count near-linear; the cosine math matches the oracle
    * bit-for-bit (left-fold double dot products).
    */
  def cosineNearDupPairs(s: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("e"))
    val a = emb.alias("a"); val b = emb.alias("b")
    a.join(b, col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosine(col("a.e"), col("b.e")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Deterministic random hyperplanes (seeded), broadcast as a
    * literal array-of-arrays column. nPlanes ≤ 32 → bucket id fits
    * an int. Exposed within graft so the DuckDB oracle generator can
    * embed the SAME constants as SQL literals (the oracle replays
    * the algorithm, planes included, rather than assuming recall).
    */
  private[graft] def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-LSH bucket id of an embedding under the shared planes. */
  private def bucketOf(e: Column, ps: Array[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      val plane = array(p.toIndexedSeq.map(lit(_)): _*)
      when(dot(e, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) approximate top-k — the other standard
    * scale path next to sign-LSH: a coarse quantizer assigns every
    * vector to a cell once; queries probe their `nProbe` nearest
    * cells only, so probe cost is corpus-size-independent per cell.
    * The quantizer is DETERMINISTIC: centroids are the `nCells`
    * corpus vectors first in md5(vec_id) order (the random-sample
    * initialization every IVF build starts from, frozen) instead of
    * KMeans iterates, so the whole structure is reproducible in
    * plain SQL and the driver gate can replay it end-to-end in
    * DuckDB. Assignment = argmax centroid cosine (ties → lower
    * centroid id).
    *
    * Scale: centroid pick is a TakeOrdered (no global sort); the
    * corpus×centroid scoring is a broadcast nested product — at
    * 100 TB with ~65k cells this becomes a chunked GEMM per
    * partition, same dataflow.
    */
  def ivfSampleTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
    val (cents, assigned) = ivfSampleBuild(emb, nCells)
    ivfProbeSearch(cents, assigned, emb.filter(col("vec_id") < nQueries),
      k, nProbe)
  }

  /** Build half of [[ivfSampleTopK]] — (centroids, assignments), the
    * two tables a PERSISTED index stores (sources.AnnIndex writes
    * them; the serving path builds once and searches many). `emb` is
    * (vec_id, e: array<double>). */
  def ivfSampleBuild(emb: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    (cents, ivfArgmaxCells(cents, emb, 1))
  }

  /** Incremental index maintenance: route NEW vectors to their cells
    * against a FROZEN centroid table (the daily-ingest path — at
    * 100 TB the index accretes batch appends; centroids retrain on a
    * much slower cadence). Assignment is per-vector argmax against
    * the same centroids, so base ∪ incrementally-assigned ≡ a
    * from-scratch assignment with those centroids — pinned by the
    * sim_ivf_incremental oracle. */
  def ivfAssign(cents: DataFrame, src: DataFrame): DataFrame =
    ivfArgmaxCells(cents, src, 1)

  /** Collect a bounded (cid LONG, ce ARRAY<DOUBLE>) codebook for
    * [[topCellsByScore]] — cid-sorted so literal construction is
    * deterministic regardless of the frame's partition order. */
  private[graft] def collectCodebook(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      .sortBy(_._1)

  /** Map-side top-`keep` cell routing against a COLLECTED bounded
    * codebook: per row, score every centroid as a literal array and
    * take the (score desc, cid asc) prefix via one descending struct
    * sort — the exact `row_number() <= keep` rule, without the n×k
    * crossJoin + per-vector window sort + corpus-scale exchange those
    * plan (the round-13 probe measured that shuffle at ~330 MB per
    * kmeans pass at sf0.1). Each score is the SAME column expression
    * the join form evaluated (identical fold order → identical
    * doubles); ties break to the lower cid exactly as before.
    * Appends `cell` (LongType) and `scoreCol`; emits `keep` rows per
    * input row. */
  private[graft] def topCellsByScore(src: DataFrame,
      cents: Seq[(Long, Seq[Double])], keep: Int, scoreCol: String,
      score: (Column, Column) => Column): DataFrame = {
    // empty codebook (degenerate corpus): the former crossJoin form
    // produced an empty frame, so this must too — not an exception
    if (cents.isEmpty)
      return src.limit(0).withColumn("cell", lit(0L))
        .withColumn(scoreCol, lit(0.0))
    val scored = cents.map { case (cid, ce) =>
      struct(score(col("e"), array(ce.map(lit): _*)).as("s"),
        lit(-cid).as("neg"))
    }
    val top = slice(reverse(array_sort(array(scored: _*))), 1, keep)
    src.withColumn("__t", explode(top))
      .select(src.columns.map(col) ++ Seq(
        (-col("__t.neg")).cast("long").as("cell"),
        col("__t.s").as(scoreCol)): _*)
  }

  /** Argmax-cosine cell routing against the bounded centroid table
    * (ties → lower centroid id); keep = 1 assigns, keep = nProbe
    * probes. Map-side via [[topCellsByScore]]. */
  private def ivfArgmaxCells(cents: DataFrame, src: DataFrame,
      keep: Int): DataFrame =
    topCellsByScore(src, collectCodebook(cents), keep, "__csim", cosine)
      .drop("__csim")

  /** Search half of [[ivfSampleTopK]]: works identically off
    * just-built frames or a persisted index read back from parquet.
    * `queries` is (vec_id, e); output matches sim_cosine_ivf. */
  def ivfProbeSearch(cents: DataFrame, assigned: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val qProbe = ivfArgmaxCells(cents, queries, nProbe)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("cell"))
    cosineTopK(broadcast(qProbe)
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("e"), col("cell")),
        Seq("cell")), k)
  }

  /** Approximate top-k with multiprobe: a query probes its own
    * sign-LSH bucket plus every bucket at Hamming distance 1
    * (nPlanes+1 probes) — the standard recall lever that costs a
    * constant factor, not a corpus scan. Recall is tested against
    * [[bruteForceTopK]] in SimilaritySpec.
    */
  def lshTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = Tables.table(s, dir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    val ps = planes(dim, nPlanes, seed)
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("e"))
      .withColumn("bucket", bucketOf(col("e"), ps))
    val probes = array(col("bucket") +:
      (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val q = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        explode(probes).as("bucket")))
    cosineTopK(q.join(emb.select(col("vec_id").as("neighbor_id"), col("e"),
      col("bucket")), Seq("bucket")), k)
  }
}
