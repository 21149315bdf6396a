package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Vector similarity over the embeddings table: brute-force,
  * IVF and IVF-PQ k-NN search, k-NN graphs, k-means and cluster
  * quality, semantic dedup, ANN recall evaluation and reranking
  * agreement (`r_`).
  */
object SimilarityQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("sim_", "r_")

  val simCosineTopK: Q = (s, dir) => Similarity.bruteForceTopK(s, dir, 10, 5)

  // both ANN variants are oracle-checked by REPLAYING the algorithm
  // in DuckDB (planes / sampled centroids embedded as SQL literals),
  // not by assuming ANN output equals brute force; recall itself is
  // measured in SimilaritySpec
  val simCosineLsh: Q = (s, dir) => Similarity.lshTopK(s, dir, 10, 5)

  val simCosineIvf: Q = (s, dir) => Similarity.ivfSampleTopK(s, dir, 10, 5)

  /** Oracle for sim_cosine_lsh: replays sign-LSH exactly — the same
    * seeded hyperplanes (embedded as literals), bucket assignment,
    * Hamming≤1 multiprobe, exact re-scoring, top-k. */
  private def lshOracleSql: String = {
    val nPlanes = 8
    val ps = Similarity.planes(64, nPlanes, 42L)
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> emb[i] * ($lits)[i])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    val probeSet = (0L +: (0 until nPlanes).map(1L << _)).mkString("(", ", ", ")")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, emb,
       |      $bucket AS bucket
       |  FROM e),
       |cand AS (
       |  SELECT q.vec_id AS query_id, q.emb AS qe, n.vec_id AS neighbor_id, n.emb AS ne
       |  FROM (SELECT * FROM b WHERE vec_id < 10) q
       |  JOIN b n ON xor(q.bucket, n.bucket) IN $probeSet
       |  WHERE n.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rk AS INTEGER) AS rk
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** Oracle for sim_cosine_ivf: replays the deterministic-sample IVF
    * (md5-ordered centroid pick, argmax-cosine assignment, nProbe
    * nearest cells, exact re-scoring, top-k). */
  private def ivfOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, emb AS ce
       |  FROM (SELECT vec_id, emb,
       |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM e)
       |  WHERE rn <= 16),
       |scoredc AS (
       |  SELECT e.vec_id, e.emb, c.cid, ${cosSql("e.emb", "c.ce")} AS csim
       |  FROM e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, emb, cid AS cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
       |        FROM scoredc)
       |  WHERE crk = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, emb AS qe, cid AS cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
       |        FROM scoredc WHERE vec_id < 10)
       |  WHERE crk <= 4),
       |cand AS (
       |  SELECT q.query_id, q.qe, a.vec_id AS neighbor_id, a.emb AS ne
       |  FROM qprobe q JOIN assigned a USING (cell)
       |  WHERE a.vec_id <> q.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rk AS INTEGER) AS rk
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------
  // sim_semdedup — SemDeDup (Abbas et al.): cluster embeddings with
  // the deterministic IVF coarse quantizer (16 md5-sampled corpus
  // vectors as centroids — same structure as sim_cosine_ivf, so the
  // oracle can replay it), then within each cluster drop any vector
  // that has a lower-id neighbor above the cosine threshold. The
  // pair join never leaves a cluster (cell-blocked), which is what
  // keeps it near-linear at corpus scale; the synthetic corpus has
  // no true near-dups so the 0.4 threshold exercises the dataflow.
  // ---------------------------------------------------------------
  val simSemDedup: Q = (s, dir) => {
    val nCells = 16
    val tau = 0.4
    // normalize ONCE per vector: every downstream cosine is then a
    // single dot product (vs 3 dots + 2 sqrts per pair) — at corpus
    // scale the pairwise stage dominates, so this is a 3× flop cut.
    // The oracle replays the same normalize-then-dot formulation.
    // The materialization barrier is load-bearing: without it
    // CollapseProject inlines the (interpreted, higher-order)
    // normalize transform into every use site — 16× per row in
    // assignment, 2× per candidate pair. localCheckpoint, not
    // cache(): same barrier, but self-cleaning (ContextCleaner frees
    // the blocks when the query is dropped; cache() entries live in
    // CacheManager for the session and tax every later action's
    // plan-substitution scan)
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), transform(col("e0"), x => x / col("nrm")).as("e"))
      .localCheckpoint(eager = false)
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.dot(col("e"), col("ce")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cid"))))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("e"), col("cid").as("cell"))
    val a = assigned.alias("a"); val b = assigned.alias("b")
    a.join(b, col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.cell").as("cell"),
        col("a.vec_id").as("cand"),
        Similarity.dot(col("a.e"), col("b.e")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(col("cand")).as("kept_id"), count(lit(1)).as("n_matches"),
        round(max(col("cos")), 6).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------
  // sim_knn_graph — k-NN graph construction (the input to graph-based
  // semantic dedup / SemDeDup clustering): within each deterministic
  // IVF cell, every vector links to its 3 nearest cell-mates; the
  // per-cell summary reports edge and mutual-edge counts. Same
  // normalize-once + cell-blocked shape as sim_semdedup — neighbor
  // search never leaves a cell, so the edge stage is near-linear in
  // corpus size at a fixed cell width.
  // ---------------------------------------------------------------
  /** The (cell, src, dst) k-NN edge set alone — shared by
    * [[simKnnGraph]] and TextQueries's link-prediction op (which
    * re-aggregates the edges; inheriting the per-cell summary would
    * throw the edge identities away). */
  private[operators] def knnEdgesWithAssigned(s: SparkSession, dir: String,
      nCells: Int = 16, kNn: Int = 3): (DataFrame, DataFrame) = {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), transform(col("e0"), x => x / col("nrm")).as("e"))
      // normalize-once barrier, self-cleaning (see simSemDedup note)
      .localCheckpoint(eager = false)
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    // map-side argmax against the collected nCells×d codebook — same
    // (dot desc, cid asc) rule, no n×k crossJoin/window/shuffle
    val assigned = Similarity
      .topCellsByScore(emb, Similarity.collectCodebook(cents),
        1, "__csim", Similarity.dot)
      .select(col("vec_id"), col("e"), col("cell"))
      .localCheckpoint(eager = false)
    val a = assigned.alias("a"); val b = assigned.alias("b")
    // Top-k via a typed Aggregator, not a window: the pair join emits
    // ~n²/cells scored rows, and the map-side partial trims each
    // group to k before the shuffle — the window form would shuffle
    // and sort every pair. Edges are tiny after the trim and feed
    // three consumers (degree count + both sides of the mutual
    // self-join), so cache them.
    val topk = udaf(new graft.functions.TopKAgg(kNn))
    val edges = a.join(b, col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cell").as("cell"), col("a.vec_id").as("src"),
        col("b.vec_id").as("dst"),
        Similarity.dot(col("a.e"), col("b.e")).as("cos"))
      .groupBy(col("src"))
      .agg(first(col("cell")).as("cell"), topk(col("cos"), col("dst")).as("nn"))
      .select(col("cell"), col("src"), explode(col("nn")).as("n"))
      .select(col("cell"), col("src"), col("n._2").as("dst"))
      .localCheckpoint(eager = false)
    (edges, assigned)
  }

  val simKnnGraph: Q = (s, dir) => {
    val (edges, assigned) = knnEdgesWithAssigned(s, dir)
    val mutual = edges.alias("f").join(edges.alias("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src") &&
          col("f.src") < col("f.dst"))
      .select(col("f.cell").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_mutual"))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .join(edges.groupBy(col("cell")).agg(count(lit(1)).as("n_edges")), Seq("cell"))
      .join(mutual, Seq("cell"), "left_outer")
      .na.fill(0L, Seq("n_mutual"))
      .orderBy(col("cell"))
  }

  /** Shared CTE chain replaying the deterministic cell-blocked k-NN
    * edge construction (normalize → md5 cells → argmax assignment →
    * per-src top-3 by cosine) — used by the sim_knn_graph oracle and
    * TextQueries's link-prediction oracle. */
  private[operators] val knnEdgeCtes: String =
    s"""e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(emb, x -> x / sqrt(list_sum(
       |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS emb
       |  FROM e0),
       |cents AS (
       |  SELECT vec_id AS cid, emb AS ce
       |  FROM (SELECT vec_id, emb,
       |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM e)
       |  WHERE rn <= 16),
       |assigned AS (
       |  SELECT vec_id, emb, cid AS cell
       |  FROM (SELECT e.vec_id, e.emb, c.cid,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${dotSql("e.emb", "c.ce")} DESC, c.cid) AS crk
       |        FROM e CROSS JOIN cents c)
       |  WHERE crk = 1),
       |edges AS (
       |  SELECT cell, src, dst FROM (
       |    SELECT cell, src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rk
       |    -- project the cosine SCALAR before the rank window: the
       |    -- sort otherwise carries both 64-double lists per pair row
       |    -- (at the 10x corpus that spilled ~100 GB); same values,
       |    -- same ranking
       |    FROM (SELECT a.cell AS cell, a.vec_id AS src, b.vec_id AS dst,
       |                 ${dotSql("a.emb", "b.emb")} AS cos
       |          FROM assigned a JOIN assigned b
       |            ON a.cell = b.cell AND a.vec_id <> b.vec_id))
       |  WHERE rk <= 3)""".stripMargin

  // Embedding-pipeline extensions: Lloyd's k-means refinement
  // over the corpus embeddings (the clustering stage SemDeDup-style
  // pruning and cluster-balanced sampling both assume), and int8
  // scalar quantization (the compression step a 100 TB ANN index
  // applies before sharding). Both carry full-replay DuckDB oracles;
  // every cross-row float reduction uses the sorted-fold pattern
  // (aggregate over a sort_array'd list ≡ DuckDB list_sum over
  // list(... ORDER BY ...)) so the doubles are bit-stable under any
  // shuffle or partitioning.
  //
  // Reference behavior basis: the reference's enrichment-then-serve
  // pipeline has no embedding stage; these extend the engine's
  // similarity toolkit (SURVEY north-star: SemDeDup, IVF, k-NN graph)
  // with the missing cluster-refinement and quantization steps, all
  // public algorithms (Lloyd 1982; scalar quantization as in FAISS's
  // SQ8), re-expressed Spark-first.

  /** L2-normalized corpus embeddings, materialized once (the
    * localCheckpoint barrier stops CollapseProject from inlining the
    * interpreted higher-order normalize into every downstream use —
    * same rationale as sim_semdedup). */
  private def normalized(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), transform(col("e0"), x => x / col("nrm")).as("e"))
      .localCheckpoint(eager = false)

  // ---------------------------------------------------------------
  // sim_kmeans — one Lloyd iteration of spherical k-means (k=8):
  // deterministic md5-sampled seeds (the sim_semdedup/sim_cosine_ivf
  // quantizer), assign to argmax-cosine centroid, recompute centroids
  // as element-wise member means, re-assign. Output is the per-vector
  // final assignment — integer decisions plus one rounded cosine, so
  // the contract is exact. Scale shape: seeds via top-k (never a
  // global sort), both assignment passes are broadcast-k×d map-side
  // scans (no shuffle of the corpus), and the update shuffles k·dim
  // groups. The mean's member fold is the one deliberately
  // non-scale-free piece: it collects each cluster's component list
  // to pin the summation order for the oracle; at real corpus scale
  // the update is a plain avg() whose last-ulp nondeterminism no
  // consumer observes (same deviation class as AnalyticsQueries's
  // documented low-cardinality windows).
  // ---------------------------------------------------------------
  /** The sim_kmeans dataflow returning BOTH the final assignment
    * (vec_id, e, cid, cos — cos = dot with the member-mean centroid)
    * AND the centroid frame (cid, ce) it was assigned against —
    * the batch-77 cluster-validity operators consume both. */
  private[operators] def kmeansAssignCents(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val k = 8
    val emb = normalized(s, dir)
    // seed selection: top-k by md5 order (TakeOrderedAndProject —
    // bounded at any corpus size), then rank the k rows
    val seeds = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
    val cents0 = seeds
      .withColumn("cid", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
      .select(col("cid").cast("long").as("cid"), col("e").as("ce"))
    // map-side argmax against the collected k×d codebook — same
    // (dot desc, cid asc) rule, no n×k crossJoin/window/shuffle
    def assign(cents: DataFrame): DataFrame =
      Similarity.topCellsByScore(emb, Similarity.collectCodebook(cents),
          1, "cos", Similarity.dot)
        .select(col("vec_id"), col("e"), col("cell").as("cid"), col("cos"))
    val a1 = assign(cents0)
    // centroid update: element-wise member mean per (cluster, dim);
    // the sum folds members in vec_id order (bit-stable, replayed as
    // list_sum(list(v ORDER BY vec_id)) in the oracle), one division
    val cents1 = a1
      .select(col("cid"), col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("aggregate(sort_array(collect_list(struct(vec_id, v))), 0D," +
        " (a, x) -> a + x.v)").as("sv"), count(lit(1)).as("n"))
      .withColumn("m", col("sv") / d(col("n")))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
        .as("ce"))
    (assign(cents1), cents1)
  }

  private def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansAssignCents(s, dir)._1
      .select(col("vec_id"), col("cid").as("cluster"),
        round(col("cos"), 6).as("cos"))

  val simKmeans: Q = (s, dir) => kmeansAssign(s, dir).orderBy(col("vec_id"))

  // ---------------------------------------------------------------
  // sim_kmeans_converged — Lloyd's iterated to a FIXED POINT (the
  // real clustering stage SemDeDup / cluster-balanced sampling
  // assume), bounded at 6 assignment passes: assign → (stop if the
  // assignment equals the previous one) → recompute centroids →
  // repeat. Every pass localCheckpoints (the iterative-loop lineage
  // discipline: each iteration reads a materialized frame, not the
  // whole prior dataflow), and the changed-assignment check is one
  // count over a vec_id join of two checkpointed frames. The output
  // carries `iters` (number of assignment passes), so the
  // convergence count itself is oracle-pinned: the DuckDB replay
  // unrolls all 6 passes and picks the first fixed point with the
  // same CASE rule. Scale shape per pass = sim_kmeans's: broadcast
  // k×d codebook scan (corpus never shuffles for assignment), k·dim
  // update groups; the member fold pins summation order for the
  // oracle exactly as sim_kmeans documents (plain avg() at real
  // scale).
  // ---------------------------------------------------------------
  private val KmeansMaxIters = 6

  private[operators] def kmeansSeeds(emb: DataFrame, k: Int): DataFrame =
    emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .withColumn("cid", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
      .select(col("cid").cast("long").as("cid"), col("e").as("ce"))

  // map-side argmax against the collected k×d codebook — same
  // (dot desc, cid asc) rule, no n×k crossJoin/window/shuffle (the
  // probe put that exchange at ~330 MB per pass at sf0.1)
  private def kmeansAssignPass(emb: DataFrame, cents: DataFrame): DataFrame =
    Similarity.topCellsByScore(emb, Similarity.collectCodebook(cents),
        1, "cos", Similarity.dot)
      .select(col("vec_id"), col("e"), col("cell").as("cid"), col("cos"))

  private def kmeansUpdate(a: DataFrame): DataFrame =
    a.select(col("cid"), col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("aggregate(sort_array(collect_list(struct(vec_id, v))), 0D," +
        " (a, x) -> a + x.v)").as("sv"), count(lit(1)).as("n"))
      .withColumn("m", col("sv") / d(col("n")))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
        .as("ce"))

  val simKmeansConverged: Q = (s, dir) => kmeansConvergedOf(normalized(s, dir))

  /** DataFrame-level entry (any L2-normalized (vec_id, e) input) —
    * the spec surface for the early-stop branch, which the gate
    * corpus never reaches (it needs ~12 passes; TrainingData4Spec
    * pins a separable fixture that fixes under the cap). */
  def kmeansConvergedOf(emb0: DataFrame): DataFrame = {
    val emb = emb0
    var cents = kmeansSeeds(emb, 8)
    var prev: DataFrame = null
    var iters = 0
    var done = false
    while (!done && iters < KmeansMaxIters) {
      val a = kmeansAssignPass(emb, cents).localCheckpoint(eager = false)
      iters += 1
      if (prev != null) {
        val changed = a.select(col("vec_id"), col("cid"))
          .join(prev.select(col("vec_id"), col("cid").as("pcid")), "vec_id")
          .filter(col("cid") =!= col("pcid")).count()
        done = changed == 0
      }
      prev = a
      if (!done && iters < KmeansMaxIters) cents = kmeansUpdate(a)
    }
    prev.select(col("vec_id"), col("cid").as("cluster"),
        round(col("cos"), 6).as("cos"), lit(iters).cast("long").as("iters"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------
  // sim_cluster_purity — label agreement of the sim_kmeans clusters
  // (the curation QA step after clustering a labeled corpus): per
  // cluster, member count, dominant label (max count, smallest label
  // as tiebreak), and purity = dominant/total — integer counts and
  // one division, exact by construction. Reuses the full kmeans
  // dataflow; the oracle replays it end-to-end.
  // ---------------------------------------------------------------
  val simClusterPurity: Q = (s, dir) => {
    val labels = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val assigned = kmeansAssign(s, dir).join(labels, "vec_id")
    val perLabel = assigned.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("c"))
    perLabel
      .groupBy(col("cluster"))
      .agg(sum(col("c")).cast("long").as("n_members"),
        // argmax-by-count with smallest-label tiebreak as a two-phase
        // max(struct): no window, no second shuffle
        max(struct(col("c").as("c"), (-col("label")).as("neg_label"))).as("top"))
      .select(col("cluster"), col("n_members"),
        (-col("top.neg_label")).cast("long").as("dominant_label"),
        (d(col("top.c")) / d(col("n_members"))).as("purity"))
      .orderBy(col("cluster"))
  }

  // ---------------------------------------------------------------
  // sim_ivf_pq_search — IVF-PQ approximate nearest neighbor with
  // ADC (asymmetric distance computation): the index layout a real
  // 100 TB ANN deployment serves from (FAISS IVFPQ shape —
  // Jégou et al. 2011). Deterministic build so the oracle replays
  // end-to-end: coarse quantizer = 16 first-by-md5 corpus vectors
  // (L2 argmin, tie → smaller cell); PQ codebook = the NEXT 16
  // vectors in md5 order (ranks 17–32 — the seeds themselves have
  // zero residual), their cell residuals split into M=8 subspaces;
  // every vector stores only (cell, 8 sub-codes). A query probes its
  // nProbe=2 nearest cells, builds a per-cell 8×16 lookup table of
  // sub-distances from its residual, and candidate distance is the
  // Σ over 8 table entries — no candidate vector is ever read at
  // search time.
  //
  // Scale shape: both codebooks broadcast (16 + 128 rows at any
  // corpus size); encoding is one map pass over the corpus (explode
  // M × broadcast argmin, the e_pq_codes plan); the search joins the
  // TINY query LUT (nQueries·nProbe·M·16 rows, broadcast) against
  // codes on (cell, m, code) — the corpus side streams, and the only
  // shuffle is the per-(query, candidate) 8-row sum + top-k. All
  // float reductions are fixed-order zip_with folds or m-sorted
  // folds — bit-stable, replayed exactly in DuckDB.
  // ---------------------------------------------------------------
  // (build/search bodies live in functions.IvfPq since round 11, so
  // the persisted build-once/search-many path — sources.AnnIndex —
  // runs the IDENTICAL dataflow; this entry composes them in-query.)
  val simIvfPqSearch: Q = (s, dir) => {
    val nCells = 16; val m8 = 8; val nProbe = 2; val nQueries = 10; val k = 5
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .localCheckpoint(eager = false) // consumed by seeds, assignment, and queries
    val idx = graft.functions.IvfPq.build(emb, nCells, m8)
    graft.functions.IvfPq.search(idx, emb.filter(col("vec_id") < nQueries),
      m8, nProbe, k)
  }

  // ---------------------------------------------------------------
  // sim_ann_recall_eval — recall@5 of the IVF index against the
  // brute-force ground truth, per query (the "measure, don't guess"
  // audit every ANN deployment runs before trusting an index): both
  // sides are the registered operators (sim_cosine_ivf,
  // sim_cosine_topk), joined on (query, neighbor). Integer hits and
  // one division — exact; the oracle replays both algorithms as
  // nested subqueries of their own oracle SQL.
  // ---------------------------------------------------------------
  val simAnnRecallEval: Q = (s, dir) => {
    val ivf = Similarity.ivfSampleTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"))
    val bf = Similarity.bruteForceTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    ivf.join(bf, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_returned"), col("n_hits"),
        (d(col("n_hits")) / lit(5.0)).as("recall_at_5"))
      .orderBy(col("query_id"))
  }

  // ---------------------------------------------------------------
  // sim_matryoshka_recall — dimension-truncation audit: recall@5 of
  // brute-force cosine over the FIRST 16 dimensions against the full
  // 64-dim ground truth, per query. The go/no-go measurement before
  // serving truncated (Matryoshka-style) embeddings — if prefix
  // recall holds, the ANN index stores a quarter of the bytes. Both
  // sides are the exact brute-force scan (the deliberate baseline,
  // see sim_cosine_topk); integer hits + one division.
  // ---------------------------------------------------------------
  val simMatryoshkaRecall: Q = (s, dir) => {
    def topk(prefixDim: Option[Int]): DataFrame = {
      val base = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e0"))
        .withColumn("e",
          prefixDim.map(p => slice(col("e0"), 1, p)).getOrElse(col("e0")))
      val q = broadcast(base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("e").as("qe")))
      q.join(base.select(col("vec_id").as("neighbor_id"), col("e")),
          col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("qe"), col("e")).as("cos"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(desc("cos"), col("neighbor_id"))))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"))
    }
    topk(Some(16))
      .join(topk(None).withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_returned"), col("n_hits"),
        (d(col("n_hits")) / lit(5.0)).as("recall_at_5"))
      .orderBy(col("query_id"))
  }

  /** Shared kmeans replay: normalize → md5 seeds → assign → mean
    * update (member fold in vec_id order) → re-assign. Exposed to
    * the batch-77 cluster-validity oracles (Davies–Bouldin /
    * Calinski–Harabasz replay the same dataflow: CTEs `a2` = final
    * assignment, `c1` = its centroids, `e` = normalized corpus). */
  private[operators] val kmeansCte: String =
    s"""e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(emb, x -> x / sqrt(list_sum(
       |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS e
       |  FROM e0),
       |c0 AS (
       |  SELECT CAST(rn AS BIGINT) AS cid, e AS ce
       |  FROM (SELECT vec_id, e,
       |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM e)
       |  WHERE rn <= 8),
       |a1 AS (
       |  SELECT vec_id, e, cid, cos FROM (
       |    SELECT e.vec_id, e.e, c.cid, ${dotSql("e.e", "c.ce")} AS cos,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.e", "c.ce")} DESC, c.cid) AS rk
       |    FROM e CROSS JOIN c0 c) WHERE rk = 1),
       |ex AS (
       |  SELECT vec_id, cid, unnest(e) AS v,
       |         unnest(range(1, len(e) + 1)) AS pos
       |  FROM a1),
       |c1 AS (
       |  SELECT cid, list(m ORDER BY pos) AS ce
       |  FROM (SELECT cid, pos,
       |               list_sum(list(v ORDER BY vec_id)) / count(*) AS m
       |        FROM ex GROUP BY cid, pos)
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, cid, cos FROM (
       |    SELECT e.vec_id, c.cid, ${dotSql("e.e", "c.ce")} AS cos,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.e", "c.ce")} DESC, c.cid) AS rk
       |    FROM e CROSS JOIN c1 c) WHERE rk = 1)""".stripMargin

  /** Unrolled fixed-point replay for sim_kmeans_converged: all 6
    * assignment passes as CTEs, the first i≥2 with a_i ≡ a_{i-1}
    * selected by the same first-match CASE rule the engine's early
    * stop applies (the engine can never stop at pass 1 — there is no
    * previous assignment to compare). */
  private val kmeansConvergedSql: String = {
    val passes = (1 to KmeansMaxIters).map { i =>
      val assign =
        s"""a$i AS (
           |  SELECT vec_id, e, cid, cos FROM (
           |    SELECT e.vec_id, e.e, c.cid, ${dotSql("e.e", "c.ce")} AS cos,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${dotSql("e.e", "c.ce")} DESC, c.cid) AS rk
           |    FROM e CROSS JOIN c${i - 1} c) WHERE rk = 1)""".stripMargin
      val update = if (i >= KmeansMaxIters) "" else
        s""",
           |c$i AS (
           |  SELECT cid, list(m ORDER BY pos) AS ce
           |  FROM (SELECT cid, pos,
           |               list_sum(list(v ORDER BY vec_id)) / count(*) AS m
           |        FROM (SELECT vec_id, cid, unnest(e) AS v,
           |                     unnest(range(1, len(e) + 1)) AS pos
           |              FROM a$i)
           |        GROUP BY cid, pos)
           |  GROUP BY cid)""".stripMargin
      assign + update
    }.mkString(",\n")
    val chgCases = (2 to KmeansMaxIters - 1).map { i =>
      s"""    WHEN (SELECT count(*) FROM a$i x JOIN a${i - 1} y USING (vec_id)
         |          WHERE x.cid <> y.cid) = 0 THEN $i""".stripMargin
    }.mkString("\n")
    val cidCase = (2 to KmeansMaxIters - 1)
      .map(i => s"WHEN $i THEN a$i.cid").mkString(" ")
    val cosCase = (2 to KmeansMaxIters - 1)
      .map(i => s"WHEN $i THEN a$i.cos").mkString(" ")
    val joins = (2 to KmeansMaxIters)
      .map(i => s"JOIN a$i USING (vec_id)").mkString(" ")
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(emb, x -> x / sqrt(list_sum(
       |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS e
       |  FROM e0),
       |c0 AS (
       |  SELECT CAST(rn AS BIGINT) AS cid, e AS ce
       |  FROM (SELECT vec_id, e,
       |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM e)
       |  WHERE rn <= 8),
       |$passes,
       |it AS (
       |  SELECT CASE
       |$chgCases
       |    ELSE $KmeansMaxIters END AS iters)
       |SELECT a1.vec_id,
       |       CAST(CASE it.iters $cidCase ELSE a$KmeansMaxIters.cid END AS BIGINT) AS cluster,
       |       round(CASE it.iters $cosCase ELSE a$KmeansMaxIters.cos END, 6) AS cos,
       |       CAST(it.iters AS BIGINT) AS iters
       |FROM a1 $joins CROSS JOIN it
       |ORDER BY a1.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // sim_rrf_fusion — hybrid retrieval via reciprocal-rank fusion
  // (Cormack et al. 2009, the standard lexical+vector ensembling in
  // RAG/search stacks): for each of 10 query documents, fuse (a) the
  // lexical ranking by distinct-token overlap with the query text
  // (integer-exact, so the lexical list is reproducible on any
  // engine) and (b) the embedding cosine ranking (doc_id ≡ vec_id —
  // the corpus alignment), each truncated at depth 20, with
  // rrf = Σ 1/(60 + rank). Ranks are integers, so the fused score is
  // a fixed-order sum of two exact rationals — bit-stable. Scale
  // shape: the lexical side is an inverted-index join on tokens
  // (query tokens × corpus postings, never query × corpus text); the
  // vector side broadcasts the 10 query vectors over one corpus
  // scan; both rank stages are per-query top-k windows over
  // already-trimmed candidate sets; missing ranks surface as -1.
  // ---------------------------------------------------------------
  val simRrfFusion: Q = (s, dir) => {
    val nQ = 10; val depth = 20; val kRrf = 60; val kOut = 5
    val dtoks = docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(TF.tokens(col("text"))))
        .as("tok"))
      .localCheckpoint(eager = false) // consumed as both query tokens and postings
    val qtoks = dtoks.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("tok"))
    val lex = qtoks.join(dtoks, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ov"))
      .withColumn("lex_rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("ov"), col("doc_id"))))
      .filter(col("lex_rk") <= depth)
      .select(col("query_id"), col("doc_id"), col("lex_rk"))
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val qe = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val vec = emb.join(broadcast(qe), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        Similarity.cosine(col("qe"), col("e")).as("cos"))
      .withColumn("vec_rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("doc_id"))))
      .filter(col("vec_rk") <= depth)
      .select(col("query_id"), col("doc_id"), col("vec_rk"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      // a NULL rank contributes nothing: 1/(60+NULL) is NULL → 0
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("vec_rk")), lit(0.0)))
      .withColumn("fused_rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("rrf"), col("doc_id"))))
      .filter(col("fused_rk") <= kOut)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rk"), lit(-1)).as("lex_rk"),
        coalesce(col("vec_rk"), lit(-1)).as("vec_rk"),
        round(col("rrf"), 6).as("rrf"), col("fused_rk"))
      .orderBy(col("query_id"), col("fused_rk"))
  }

  // ---------------------------------------------------------------
  // sim_mmr — Maximal Marginal Relevance diversified top-k
  // (Carbonell & Goldstein 1998, the standard RAG/search
  // de-redundancy re-rank): for each of 5 query vectors, greedily
  // pick 5 of the top-12 cosine candidates maximizing
  //   λ·rel(q, d) − (1−λ)·max_{s ∈ picked} sim(d, s),   λ = 0.7.
  // Spark unrolls the 5 greedy steps as a driver-built plan (each
  // step: semi-join the pair sims to the picked set, max per
  // candidate, windowed argmax) — no collect, parallel by query.
  // Scale shape: only the candidate leg touches the corpus (the
  // sim_cosine_topk broadcast brute baseline, 5 query vectors); the
  // greedy machinery runs on nQ·depth² = 720 pair rows regardless
  // of corpus size. Floats: rel/psim are the shared cosine twins,
  // the score is one fixed expression, argmax ties break on doc_id.
  // ---------------------------------------------------------------
  val simMmr: Q = (s, dir) => {
    val nQ = 5; val depth = 12; val kOut = 5; val lam = 0.7
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val qe = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val cand = emb.join(broadcast(qe), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        Similarity.cosine(col("qe"), col("e")).as("rel"), col("e"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("rel"), col("doc_id"))))
      .filter(col("rk") <= depth)
      .select(col("query_id"), col("doc_id"), col("rel"), col("e"))
      // nQ·depth = 60 rows by construction: single-partition is the
      // right layout for the greedy tail (the corpus-scan leg above
      // keeps its parallelism); without it every step's window/join
      // pays 32-partition shuffle scheduling on a 60-row frame
      .coalesce(1)
      .localCheckpoint(eager = false) // consumed by pair sims + every greedy step
    val ps = cand.alias("x")
      .join(cand.alias("y"), col("x.query_id") === col("y.query_id") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.query_id").as("query_id"), col("x.doc_id").as("a"),
        col("y.doc_id").as("b"),
        Similarity.cosine(col("x.e"), col("y.e")).as("psim"))
      .coalesce(1)
      .localCheckpoint(eager = false) // nQ·depth² = 720 rows, reused 4×
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col("doc_id"))
    var picked = cand
      .withColumn("score", lit(lam) * col("rel"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select(col("query_id"), lit(1).cast("int").as("step"), col("doc_id"),
        col("rel"), col("score"))
    for (step <- 2 to kOut) {
      val mx = ps
        .join(picked.select(col("query_id"), col("doc_id").as("b")),
          Seq("query_id", "b"), "left_semi")
        .groupBy(col("query_id"), col("a")).agg(max(col("psim")).as("mx"))
      val next = cand
        .join(picked.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_anti")
        .join(mx.withColumnRenamed("query_id", "qid"),
          col("query_id") === col("qid") && col("doc_id") === col("a"))
        .drop("qid", "a")
        // 0.3 as a LITERAL: (1.0 - 0.7) in double arithmetic is
        // 0.30000000000000004 — a different double than the oracle's
        // written 0.3, and the scores would diverge past rounding
        .withColumn("score", lit(lam) * col("rel") - lit(0.3) * col("mx"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
        .select(col("query_id"), lit(step).cast("int").as("step"),
          col("doc_id"), col("rel"), col("score"))
      // picked is referenced 3x per step (semi, anti, union): without
      // a per-step checkpoint the lineage grows 3^k and Catalyst
      // re-optimizes an exponentially growing plan (seconds of pure
      // driver CPU on 25-row frames)
      picked = picked.union(next).coalesce(1).localCheckpoint(eager = false)
    }
    picked.select(col("query_id"), col("step"), col("doc_id"),
      round(col("rel"), 6).as("rel"), round(col("score"), 6).as("mmr"))
      .orderBy(col("query_id"), col("step"))
  }

  /** The 4 unrolled greedy steps 2..5 of sim_mmr's oracle. */
  private def mmrSteps(kOut: Int): String =
    (2 to kOut).map { i =>
      s"""s$i AS (
         |  SELECT query_id, CAST($i AS INTEGER) AS step, doc_id, rel, score
         |  FROM (
         |    SELECT c.query_id, c.doc_id, c.rel,
         |           0.7 * c.rel - 0.3 * m.mx AS score,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY (0.7 * c.rel - 0.3 * m.mx) DESC, c.doc_id) AS rn
         |    FROM (SELECT p.query_id, p.a, max(p.psim) AS mx
         |          FROM ps p JOIN sel${i - 1} s
         |            ON p.query_id = s.query_id AND p.b = s.doc_id
         |          GROUP BY 1, 2) m
         |    JOIN cand c ON c.query_id = m.query_id AND c.doc_id = m.a
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
         |            WHERE s2.query_id = c.query_id
         |              AND s2.doc_id = c.doc_id))
         |  WHERE rn = 1),
         |sel$i AS (SELECT query_id, doc_id FROM sel${i - 1}
         |          UNION ALL SELECT query_id, doc_id FROM s$i)"""
        .stripMargin
    }.mkString(",\n")

  // ---------------------------------------------------------------
  // sim_rocchio_prf — Rocchio pseudo-relevance feedback: retrieve
  // top-5 by cosine, expand the query q' = q + 0.75·centroid(top-5),
  // re-retrieve with q' (the one-round PRF every classic IR stack
  // ships; feedback docs stay eligible, as standard). Output: the
  // re-ranked top-5 with both ranks side by side (-1 = newly pulled
  // in by expansion). Scale shape: both retrieval legs are the
  // broadcast 5-query brute baseline (one corpus scan each — the
  // sim_cosine_topk family); the centroid folds over 5×64 doubles
  // in rank order (fixed-order ≡ list_sum twin). α=1, β=0.75 are
  // written literals on both engines.
  // ---------------------------------------------------------------
  val simRocchioPrf: Q = (s, dir) => {
    val nQ = 5; val k = 5
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .localCheckpoint(eager = false) // consumed by both retrieval legs
    val qe = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .localCheckpoint(eager = false) // consumed by init retrieval + expansion
    val init = emb.join(broadcast(qe), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        Similarity.cosine(col("qe"), col("e")).as("cos0"), col("e"))
      .withColumn("rk_init", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos0"), col("doc_id"))))
      .filter(col("rk_init") <= k)
      .localCheckpoint(eager = false) // consumed by the centroid + the rank join
    val cent = init
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rk_init"), col("e"))))
        .as("docs"))
      .withColumn("cent", expr(
        "transform(sequence(1, 64), j -> aggregate(docs, CAST(0.0 AS DOUBLE)," +
          " (a, x) -> a + element_at(x.e, j)) / 5.0)"))
      .join(qe, "query_id")
      .select(col("query_id"),
        expr("zip_with(qe, cent, (a, b) -> a + 0.75 * b)").as("qx"))
    val prf = emb.join(broadcast(cent), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        Similarity.cosine(col("qx"), col("e")).as("cos_prf"))
      .withColumn("rk_prf", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos_prf"), col("doc_id"))))
      .filter(col("rk_prf") <= k)
    prf
      .join(init.select(col("query_id"), col("doc_id"), col("rk_init")),
        Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("rk_prf"),
        round(col("cos_prf"), 6).as("cos_prf"),
        coalesce(col("rk_init"), lit(-1)).as("rk_init"))
      .orderBy(col("query_id"), col("rk_prf"))
  }

  // ANN index tuning and resampling inference —
  // the IVF nprobe recall/cost sweep (the tuning table every vector
  // store publishes) and a delete-one-group jackknife variance for
  // the corpus quality mean. Both Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // sim_ivf_nprobe_sweep — the IVF tuning curve: for nprobe ∈
  // {1, 2, 4} probed cells (of the 16 deterministic md5-seeded
  // centroids shared with sim_cosine_ivf), recall@5 against the
  // exact cosine ground truth and the candidate volume actually
  // scanned — the recall-vs-cost table that decides an index's
  // operating point. A corpus vector lives in exactly ONE cell
  // (argmax assignment), so a candidate's probe rank is the rank of
  // its cell in the query's preference order; sweeping p is a
  // filter on that rank, not a re-scan. Integer hit/candidate
  // counts; recall is one division. Scale shape: the 16-row
  // centroid table broadcasts for both assignment passes (the
  // sim_cosine_ivf shape); the sweep explodes only the ≤3×
  // candidate frame of the 10 queries; the brute-truth leg is the
  // deliberate allowlisted baseline.
  // ---------------------------------------------------------------
  val simIvfNprobeSweep: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .localCheckpoint(eager = false) // centroids + assignment + query probes
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    def ranked(src: DataFrame): DataFrame = src
      .crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.cosine(col("e"), col("ce")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cid"))))
    val assigned = ranked(emb).filter(col("crk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("cid").as("cell"))
    val probes = ranked(emb.filter(col("vec_id") < 10))
      .filter(col("crk") <= 4)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("cid").as("cell"), col("crk").as("probe_rk"))
    val cand = broadcast(probes)
      .join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("probe_rk"),
        Similarity.cosine(col("qe"), col("ne")).as("cos"))
      .localCheckpoint(eager = false) // swept three times
    val truth = Similarity.bruteForceTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val sweep = Seq(1, 2, 4).map { p =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("cos"), col("neighbor_id"))
      val c = cand.filter(col("probe_rk") <= p)
      val top5 = c.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .join(truth, Seq("query_id", "neighbor_id"), "left")
      val nCand = c.groupBy().agg(count(lit(1)).as("n_candidates"))
      top5.agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          count(lit(1)).as("n_ranked"))
        .crossJoin(broadcast(nCand))
        .select(lit(p).as("nprobe"), col("n_candidates"),
          col("n_hits").cast("long").as("n_hits"),
          round(d(col("n_hits")) / lit(50.0), 6).as("recall_at_5"))
    }
    sweep.reduceLeft(_ unionAll _).orderBy(col("nprobe"))
  }

  // Clustering-stability scoring (Adjusted Rand
  // Index, Hubert–Arabie 1985), RAKE keyword extraction (Rose et al.
  // 2010), and time-weighted averaging over irregular event series
  // (the TWAP shape). All Spark-first with full-replay DuckDB
  // oracles; float reductions use the repo's sorted-fold policy.

  /** L2-normalized embeddings (the SimilarityQueries shape; checkpoint
    * barrier keeps the interpreted normalize from re-inlining). */
  private def normalizedLabeled(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), col("label"),
        transform(col("e0"), x => x / col("nrm")).as("e"))
      .localCheckpoint(eager = false)

  // ---------------------------------------------------------------
  // sim_ari — Adjusted Rand Index between clusterings: the standard
  // clustering-stability / label-agreement audit (Hubert–Arabie
  // 1985) a SemDeDup-style pipeline runs before trusting its cluster
  // stage. Three comparisons in one output: two deterministic IVF
  // assignments from DIFFERENT md5 seeds against the gold label
  // column and against each other (seed-perturbation stability).
  // Scale shape: each assignment is a broadcast-16×d argmax scan of
  // the corpus (no shuffle); each comparison is ONE hash join of two
  // assignment frames on vec_id followed by a ≤16×16-cell
  // contingency aggregate with map-side partials — every pair count
  // (Σ C(nij,2), marginal C(ai,2)) is integer-exact off that tiny
  // table, and only the final ARI ratio touches doubles (round 6).
  // ---------------------------------------------------------------
  val simAri: Q = (s, dir) => {
    val emb = normalizedLabeled(s, dir)
    def cells(seed: String): DataFrame = {
      val cents = emb
        .orderBy(md5(concat(lit(seed), col("vec_id").cast("string"))), col("vec_id"))
        .limit(16)
        .withColumn("cid", row_number().over(Grain.bounded(
          md5(concat(lit(seed), col("vec_id").cast("string"))), col("vec_id"))))
        .select(col("cid").cast("long").as("cid"), col("e").as("ce"))
      emb.crossJoin(broadcast(cents))
        .withColumn("cos", Similarity.dot(col("e"), col("ce")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(desc("cos"), col("cid"))))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cid"))
    }
    val a = cells("ariA:").localCheckpoint(eager = false) // reused in 2 comparisons
    val b = cells("ariB:").localCheckpoint(eager = false)
    val lbl = emb.select(col("vec_id"), col("label").as("cid"))
    def ari(name: String, u: DataFrame, v: DataFrame): DataFrame = {
      val cont = u.select(col("vec_id"), col("cid").as("u"))
        .join(v.select(col("vec_id"), col("cid").as("v")), "vec_id")
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("nij"))
        .localCheckpoint(eager = false) // ≤ 16×16 rows; 3 consumers below
      // pair counts stay in INTEGER arithmetic ((x·(x−1)) div 2 — the
      // product is always even) rather than Spark's double-returning
      // `/` operator, so they are exact at any corpus size
      val aSum = cont.agg(
        expr("sum((nij * (nij - 1)) div 2)").cast("long").as("pairs_in_both"),
        sum(col("nij")).cast("long").as("n"))
      val b1 = cont.groupBy(col("u")).agg(sum(col("nij")).as("ai"))
        .agg(expr("sum((ai * (ai - 1)) div 2)").cast("long").as("pairs_u"))
      val b2 = cont.groupBy(col("v")).agg(sum(col("nij")).as("bj"))
        .agg(expr("sum((bj * (bj - 1)) div 2)").cast("long").as("pairs_v"))
      aSum.crossJoin(b1).crossJoin(b2)
        .select(lit(name).as("comparison"), col("n"), col("pairs_in_both"),
          col("pairs_u"), col("pairs_v"),
          (d(col("pairs_u")) * d(col("pairs_v")) /
            (d(col("n")) * d(col("n") - 1) / lit(2.0))).as("expected"))
        .select(col("comparison"), col("n"), col("pairs_in_both"),
          col("pairs_u"), col("pairs_v"),
          when((d(col("pairs_u")) + d(col("pairs_v"))) / lit(2.0) === col("expected"),
            lit(1.0))
            .otherwise(round((d(col("pairs_in_both")) - col("expected")) /
              ((d(col("pairs_u")) + d(col("pairs_v"))) / lit(2.0) - col("expected")), 6))
            .as("ari"))
    }
    ari("cellsA_vs_label", a, lbl)
      .unionAll(ari("cellsA_vs_cellsB", a, b))
      .unionAll(ari("cellsB_vs_label", b, lbl))
      .orderBy(col("comparison"))
  }

  private def ariCmp(name: String): String =
    s"""SELECT '$name' AS comparison, t.n, t.pairs_in_both,
       |       mu.pairs_u, mv.pairs_v,
       |       CASE WHEN (CAST(mu.pairs_u AS DOUBLE) + mv.pairs_v) / 2.0
       |                 = CAST(mu.pairs_u AS DOUBLE) * mv.pairs_v
       |                   / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0)
       |            THEN 1.0
       |            ELSE round((t.pairs_in_both
       |                   - CAST(mu.pairs_u AS DOUBLE) * mv.pairs_v
       |                     / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0))
       |                 / ((CAST(mu.pairs_u AS DOUBLE) + mv.pairs_v) / 2.0
       |                   - CAST(mu.pairs_u AS DOUBLE) * mv.pairs_v
       |                     / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0)), 6)
       |       END AS ari
       |FROM (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS pairs_in_both,
       |             CAST(sum(nij) AS BIGINT) AS n
       |      FROM cont_${name}) t
       |CROSS JOIN (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS pairs_u
       |            FROM (SELECT sum(nij) AS ai FROM cont_${name} GROUP BY u)) mu
       |CROSS JOIN (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS pairs_v
       |            FROM (SELECT sum(nij) AS bj FROM cont_${name} GROUP BY v)) mv""".stripMargin

  private def cellsCte(tag: String, seed: String): String =
    s"""c_$tag AS (
       |  SELECT CAST(row_number() OVER (ORDER BY md5('$seed' || CAST(vec_id AS VARCHAR)), vec_id)
       |         AS BIGINT) AS cid, e AS ce
       |  FROM e
       |  ORDER BY md5('$seed' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT 16),
       |asg_$tag AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.e", "c.ce")} DESC, c.cid) AS rk
       |    FROM e CROSS JOIN c_$tag c) WHERE rk = 1)""".stripMargin

  // Peaks-over-threshold GPD tail fit (Pickands
  // 1975; Hosking & Wallis 1987 method of moments), greedy
  // submodular vocabulary-coverage selection (the coreset /
  // data-selection staple, Nemhauser et al. 1978), and a k-NN
  // hubness audit (Radovanović et al. 2010). All Spark-first with
  // full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // sim_hubness — k-occurrence (in-degree) histogram of the
  // directed k-NN graph (Radovanović et al. 2010): in high
  // dimensions a few points become "hubs" that appear in many
  // nearest-neighbor lists while antihubs appear in none — the
  // audit that predicts where ANN recall and kNN-graph dedup go
  // wrong. Zero-in-degree nodes are folded in via a left join from
  // the full vector set (never materialized per-edge). Output is
  // the exact integer histogram (in_degree → n_nodes). Scale
  // shape: one count aggregate over the cell-blocked top-3 edge
  // set, one broadcast-size left join, one 2-key histogram
  // aggregate — all map-combinable.
  // ---------------------------------------------------------------
  /** The directed (cell-blocked top-3) k-NN edges — public so the
    * spec can verify the in/out-degree identities on the same set. */
  def knnDirectedEdges(s: SparkSession, dir: String): DataFrame = {
    val (edges, _) = knnEdgesWithAssigned(s, dir)
    edges
  }

  val simHubness: Q = (s, dir) => {
    val edges = knnDirectedEdges(s, dir)
    val indeg = edges.groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).cast("long").as("in_degree"))
    Tables.table(s, dir, "embeddings").select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("in_degree"))
  }

  // Degree assortativity of the k-NN graph (Newman
  // 2002 — do hubs link to hubs?), a Fourier periodogram with Fisher's
  // g peak ranking on daily revenue (Fisher 1929 — is the weekly cycle
  // a real spectral line?), and a simplified (centroid-based)
  // silhouette audit of the k-means codebook (Rousseeuw 1987;
  // the linear-time centroid variant, Hruschka et al. 2004). All
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // sim_silhouette — simplified silhouette over the k-means seed
  // codebook (k=8, the sim_kmeans seeds): per vector, a = cosine
  // distance to its nearest centroid, b = distance to the runner-up;
  // s = (b − a)/max(a, b) = (b − a)/b since the nearest is argmax.
  // The centroid-based variant is LINEAR in corpus size (Hruschka et
  // al. 2004) — the pairwise original is corpus² and exists only as
  // a definition, never a plan. Scale shape: one broadcast-codebook
  // scan per vector (corpus never shuffles), bounded k×1 aggregate.
  // Float policy: s comes from Similarity.dot doubles (bit-identical
  // across engines, the repo's pinned claim), quantized to exact
  // micro-units floor(s·10⁶) — integer sums, one division at the
  // edge (the t_dataset_card rule). A duplicate-centroid b = 0
  // yields s = 0 by convention (documented; cannot arise with
  // distinct seed vectors).
  // ---------------------------------------------------------------
  val simSilhouette: Q = (s, dir) => {
    val k = 8
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), transform(col("e0"), x => x / col("nrm")).as("e"))
      .localCheckpoint(eager = false) // consumed by seed pick AND the scoring scan
    val cents = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .withColumn("cid", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
      .select(col("cid").cast("long").as("cid"), col("e").as("ce"))
    val scored = emb.crossJoin(broadcast(cents))
      .withColumn("cos", Similarity.dot(col("e"), col("ce")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("cos"), col("cid"))))
      .filter(col("rk") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rk") === 1, col("cid"))).as("cluster"),
        max(when(col("rk") === 1, col("cos"))).as("cos1"),
        max(when(col("rk") === 2, col("cos"))).as("cos2"))
    val a = lit(1.0) - col("cos1")
    val b = lit(1.0) - col("cos2")
    scored
      .withColumn("smicro",
        when(b === 0.0, lit(0L))
          .otherwise(floor((b - a) / b * lit(1000000.0)).cast("long")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        (sum(col("smicro")).cast("double") / lit(1000000.0) /
          count(lit(1)).cast("double")).as("mean_silhouette"),
        (min(col("smicro")).cast("double") / lit(1000000.0)).as("min_silhouette"),
        (max(col("smicro")).cast("double") / lit(1000000.0)).as("max_silhouette"))
      .orderBy(col("cluster"))
  }

  // ---------------------------------------------------------------
  // sim_ndcg — NDCG@5 of the IVF retrieval against the brute-force
  // cosine truth, binary gains: DCG = Σ_hits 1/log₂(rank+1) over
  // the IVF ranking, IDCG from the truth list itself — position-
  // aware where sim_ann_recall_eval is set-based (an index that
  // returns the right five in the wrong order scores recall 1 but
  // NDCG < 1). Both legs are the registered operators. Scale shape:
  // both retrievals are the deliberate broadcast-query baselines;
  // the fold is over ≤5 rows per query, in pinned rank order (log₂
  // is libm → sorted fold + round-6, the bm25 rule).
  // ---------------------------------------------------------------
  val simNdcg: Q = (s, dir) => {
    val ivf = Similarity.ivfSampleTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
    val bf = Similarity.bruteForceTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("brk"))
    val j = ivf.join(bf.withColumn("hit", lit(1L))
        .select(col("query_id"), col("neighbor_id"), col("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rk"),
        when(col("hit").isNotNull, lit(1.0) / log2(d(col("rk")) + lit(1.0)))
          .otherwise(lit(0.0)).as("g"),
        when(col("hit").isNotNull, 1L).otherwise(0L).as("h"))
    val dcg = j.groupBy(col("query_id"))
      .agg(sum(col("h")).cast("long").as("n_hits"),
        expr("aggregate(sort_array(collect_list(struct(rk, g))), 0D," +
          " (a, x) -> a + x.g)").as("dcg"))
    val idcg = bf.select(col("query_id"), col("brk"),
        (lit(1.0) / log2(d(col("brk")) + lit(1.0))).as("g"))
      .groupBy(col("query_id"))
      .agg(expr("aggregate(sort_array(collect_list(struct(brk, g))), 0D," +
        " (a, x) -> a + x.g)").as("idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("n_hits"),
        round(col("dcg") / col("idcg"), 6).as("ndcg_at_5"))
      .orderBy(col("query_id"))
  }

  // ---------------------------------------------------------------
  // r_rerank_agreement — first-stage-vs-reranker consistency audit:
  // retrieve top-10 per query by PREFIX-16 cosine (the cheap
  // bi-encoder / Matryoshka-truncated first stage, cf.
  // sim_matryoshka_recall), rerank those 10 by FULL 64-dim cosine
  // (the expensive second stage), and report Kendall τ between the
  // two orders per query — τ ≈ 1 means the cheap stage already
  // orders like the reranker (rerank depth can shrink); low τ means
  // the first stage only gates, never orders. No ties by
  // construction (row_number with a vec_id tiebreak on both sides),
  // so τ = (C − D) / (k(k−1)/2) over the 45 candidate pairs —
  // bounded per query. Scale shape: queries broadcast against the
  // corpus scan (the registered brute-force baseline); the pair fold
  // is top-k² per query, constant; integer concordance counts + one
  // division.
  // ---------------------------------------------------------------
  private val RerankK = 10

  private val RerankPrefixDim = 16

  val rRerankAgreement: Q = (s, dir) => {
    val base = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val q = broadcast(base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe")))
    val scored = q.join(base.select(col("vec_id").as("neighbor_id"), col("e")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(slice(col("qe"), 1, RerankPrefixDim),
          slice(col("e"), 1, RerankPrefixDim)).as("cos_bi"),
        Similarity.cosine(col("qe"), col("e")).as("cos_full"))
    val cand = scored
      .withColumn("bi_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos_bi"), col("neighbor_id"))))
      .filter(col("bi_rank") <= RerankK)
      .withColumn("full_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(desc("cos_full"), col("neighbor_id"))))
      .localCheckpoint(eager = false) // both pair-join sides + the top-1 probe
    val pairs = cand.alias("a").join(cand.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        ((col("a.bi_rank") - col("b.bi_rank")) *
          (col("a.full_rank") - col("b.full_rank"))).as("prod"))
    val agg = pairs.groupBy(col("query_id"))
      .agg(sum(when(col("prod") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_concordant"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).cast("long")
          .as("n_discordant"))
    val top1 = cand.filter(col("full_rank") === 1)
      .select(col("query_id"), col("bi_rank").cast("long")
        .as("rerank_top1_bi_rank"))
    agg.join(top1, Seq("query_id"))
      .select(col("query_id"), col("n_concordant"), col("n_discordant"),
        round((d(col("n_concordant")) - d(col("n_discordant"))) /
          (d(col("n_concordant")) + d(col("n_discordant"))), 6)
          .as("kendall_tau"),
        col("rerank_top1_bi_rank"))
      .orderBy(col("query_id"))
  }

  // ---------------------------------------------------------------
  // sim_mrr_map — MRR@10 and MAP@10 of the exact cosine retrieval
  // under label relevance (a neighbor is relevant iff it carries the
  // query's label — the standard proxy eval when no judgments
  // exist). Per query: reciprocal rank of the first relevant hit,
  // average precision = mean of precision@k over the relevant ranks
  // (0 when none); corpus MRR/MAP = the per-query means, folded in
  // query_id order (sorted fold — bit-stable under any partitioning,
  // the round-6 discipline). Scale shape: broadcast queries against
  // one corpus scan, per-query top-10 window, then a ≤10-row frame
  // per query; the mean folds a 10-element list on the driver-free
  // single row. Integer hit counts; divisions at the end.
  // ---------------------------------------------------------------
  private val MrrK = 10

  val simMrrMap: Q = (s, dir) => {
    val base = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.toDoubleArr(col("embedding")).as("e"))
    val q = broadcast(base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("e").as("qe")))
    val ranked = q.join(base.select(col("vec_id").as("neighbor_id"),
          col("label"), col("e")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("neighbor_id"),
        col("label"), Similarity.cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rk") <= MrrK)
      .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
    val wCum = Window.partitionBy(col("query_id")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQuery = ranked
      .withColumn("cum_rel", sum(col("rel")).over(wCum))
      .groupBy(col("query_id"))
      .agg(sum(col("rel")).cast("long").as("n_relevant_at_10"),
        min(when(col("rel") === 1L, col("rk"))).as("first_rel_rk"),
        // Σ over relevant ranks of precision@k, folded in rank order
        expr("aggregate(sort_array(collect_list(named_struct(" +
          "'rk', rk, 'pk', CASE WHEN rel = 1 THEN CAST(cum_rel AS DOUBLE)" +
          " / CAST(rk AS DOUBLE) ELSE 0D END))), 0D," +
          " (a, q) -> a + q.pk)").as("ap_sum"))
      .select(col("query_id"), col("n_relevant_at_10"),
        coalesce(lit(1.0) / d(col("first_rel_rk")), lit(0.0)).as("rr"),
        when(col("n_relevant_at_10") > 0,
          col("ap_sum") / d(col("n_relevant_at_10"))).otherwise(lit(0.0))
          .as("ap"))
      .localCheckpoint(eager = false) // output rows AND the corpus-mean fold
    def fold(v: String): Column =
      expr(s"aggregate(sort_array(collect_list(struct(query_id, $v))), 0D," +
        s" (a, q) -> a + q.$v)")
    val summary = perQuery.agg(
      (fold("rr") / d(count(lit(1)))).as("mrr_at_10"),
      (fold("ap") / d(count(lit(1)))).as("map_at_10"))
    perQuery.crossJoin(broadcast(summary))
      .select(col("query_id"), col("n_relevant_at_10"),
        round(col("rr"), 6).as("reciprocal_rank"),
        round(col("ap"), 6).as("avg_precision"),
        round(col("mrr_at_10"), 6).as("mrr_at_10"),
        round(col("map_at_10"), 6).as("map_at_10"))
      .orderBy(col("query_id"))
  }

  // The composed END-TO-END corpus build — the
  // thing a real user actually runs. Every stage was individually
  // green since earlier rounds (t_corpus_clean, t_source_epochs,
  // t_pack_sequences, mm_shard_manifest); this registers the CHAIN as
  // one dataflow with a single oracle on the final shard manifest, so
  // a regression anywhere in clean → plan → pack → manifest surfaces
  // as one red row. Stage boundaries hand off through localCheckpoint
  // exactly where a frame has two consumers, so no stage recomputes an
  // earlier stage's work (the 100 TB equivalent is a persisted silver
  // table between jobs).

  // ---------------------------------------------------------------
  // sim_ivf_persisted / sim_ivf_pq_persisted — the SERVING path:
  // search a PERSISTED ANN index (sources.AnnIndex; built once per
  // corpus per JVM, parquet round-trip, assignments/codes partitioned
  // by cell) instead of rebuilding codebooks in-query. The oracles
  // are the SAME SQL as the in-query variants (sim_cosine_ivf /
  // sim_ivf_pq_search): the persistence round-trip must be invisible
  // to the result. Bench reps therefore time search-over-artifact —
  // the deployment cost — not repeated builds.
  // ---------------------------------------------------------------
  private def embQueries(s: SparkSession, dir: String, n: Int) =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Similarity.toDoubleArr(col("embedding")).as("e"))
      .filter(col("vec_id") < n)

  val simIvfPersisted: Q = (s, dir) =>
    graft.sources.AnnIndex.searchIvf(s,
      graft.sources.AnnIndex.ivfIndexFor(s, dir),
      embQueries(s, dir, 10), k = 5, nProbe = 4)

  val simIvfPqPersisted: Q = (s, dir) =>
    graft.sources.AnnIndex.searchIvfPq(s,
      graft.sources.AnnIndex.ivfPqIndexFor(s, dir),
      embQueries(s, dir, 10), m8 = 8, nProbe = 2, k = 5)

  // ---------------------------------------------------------------
  // sim_ivf_incremental / sim_ivf_append_balance — INDEX MAINTENANCE,
  // the other half of the serving story: the corpus accretes daily
  // batches, centroids retrain on a much slower cadence. Build the
  // coarse quantizer from the BASE corpus only (vec_id % 4 ≠ 3),
  // assign the new batch against those FROZEN centroids, union the
  // assignment tables, search. Because assignment is a per-vector
  // argmax against the same centroid set, the incrementally
  // maintained index answers EXACTLY like a from-scratch assignment
  // with those centroids — the oracle pins that equality (it replays
  // base-restricted centroid selection + full-corpus assignment).
  // The balance audit reports per-cell base/new counts — the drift
  // number an operator watches to decide when centroids must
  // retrain (a cell ballooning under append = rising probe cost).
  // ---------------------------------------------------------------
  private def embAll(s: SparkSession, dir: String) =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Similarity.toDoubleArr(col("embedding")).as("e"))

  private def incrementalIndex(s: SparkSession, dir: String) = {
    val emb = embAll(s, dir).localCheckpoint(eager = false) // base, batch, queries
    val (cents, baseAssigned) = graft.functions.Similarity
      .ivfSampleBuild(emb.filter(col("vec_id") % 4 =!= 3), 16)
    val newAssigned = graft.functions.Similarity
      .ivfAssign(cents, emb.filter(col("vec_id") % 4 === 3))
    (emb, cents, baseAssigned, newAssigned)
  }

  val simIvfIncremental: Q = (s, dir) => {
    val (emb, cents, baseAssigned, newAssigned) = incrementalIndex(s, dir)
    graft.functions.Similarity.ivfProbeSearch(cents,
      baseAssigned.unionAll(newAssigned),
      emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
  }

  val simIvfAppendBalance: Q = (s, dir) => {
    val (_, _, baseAssigned, newAssigned) = incrementalIndex(s, dir)
    baseAssigned.groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("n_base"))
      .join(newAssigned.groupBy(col("cell"))
        .agg(count(lit(1)).cast("long").as("n_new")), Seq("cell"), "left")
      .select(col("cell"), col("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          col("n_base").cast("double"), 6).as("growth_ratio"))
      .orderBy(col("cell"))
  }

  /** Shared replay prelude for the incremental-index oracles:
    * centroids from the BASE corpus only, assignment over ALL
    * vectors against them (≡ base-assign ∪ frozen-centroid append). */
  private val IncrementalCtes =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, emb AS ce
       |  FROM (SELECT vec_id, emb,
       |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |        FROM e WHERE vec_id % 4 <> 3)
       |  WHERE rn <= 16),
       |scoredc AS (
       |  SELECT e.vec_id, e.emb, c.cid, ${cosSql("e.emb", "c.ce")} AS csim
       |  FROM e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, emb, cid AS cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
       |        FROM scoredc)
       |  WHERE crk = 1)""".stripMargin

  // ---------------------------------------------------------------
  // sim_pq_recall_eval — recall@5 of the IVF-PQ ADC search against
  // the exact brute-force ground truth, per query: the quantization
  // loss measurement (how much the 8×16-code compression costs in
  // answer quality) next to sim_ann_recall_eval's raw-vector IVF
  // recall (which isolates the PROBE loss). Both sides registered
  // operators; integer hits + one division; oracle composes both
  // replay SQLs.
  // ---------------------------------------------------------------
  val simPqRecallEval: Q = (s, dir) => {
    val pq = SimilarityQueries.queries("sim_ivf_pq_search")(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val bf = Similarity.bruteForceTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    pq.join(bf, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_returned"), col("n_hits"),
        (d(col("n_hits")) / lit(5.0)).as("recall_at_5"))
      .orderBy(col("query_id"))
  }

  // Density-based outlier scoring on the k-NN
  // graph and the two-sample survival comparison.
  //
  //  - sim_lof_outliers — Local Outlier Factor (Breunig et al. 2000)
  //    over the SAME cell-blocked k-NN graph as sim_knn_graph /
  //    g_adamic_adar: the embedding-space "is this document in a
  //    sparse region relative to its neighbors" score a curation
  //    pass uses to surface mislabeled/junk vectors before training.
  //  - ev_logrank — log-rank test (Mantel 1966) comparing the
  //    signup→purchase Kaplan–Meier survival of weekend-signup vs
  //    weekday-signup cohorts, on the exact risk-set ledger the
  //    ev_survival_km machinery defines.

  // ---------------------------------------------------------------
  // sim_lof_outliers — LOF with k = the graph's out-degree (3):
  // d(p,o) = 1 − cos on unit vectors; k-distance(p) = max d over
  // N(p); reach-dist(p,o) = max(d(p,o), kdist(o)); lrd(p) =
  // |N(p)| / Σ reach-dist; LOF(p) = (Σ lrd(o) / |N(p)|) / lrd(p).
  // Every stage is an edge-keyed join or a ≤k-element fold in dst
  // order (sorted-fold float policy) — the pair blow-up was already
  // paid (and trimmed map-side) by the shared TopKAgg edge build,
  // so LOF itself is linear in edges. Top-20 on the 6-dp-rounded
  // score with the vec_id tiebreak (rounded-rank policy). Scale
  // shape: edges = 3n rows; three joins keyed on them; no new pair
  // work at any SF.
  // ---------------------------------------------------------------
  /** The shared k-NN construction, re-exported for the spec's
    * driver replay (the builder itself is operators-private). */
  private[graft] def lofInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = knnEdgesWithAssigned(s, dir)

  val simLofOutliers: Q = (s, dir) => {
    val (edges, assigned) = knnEdgesWithAssigned(s, dir)
    val embs = assigned.select(col("vec_id"), col("e"))
    val de = edges
      .join(embs.select(col("vec_id").as("src"), col("e").as("es")), "src")
      .join(embs.select(col("vec_id").as("dst"), col("e").as("ed")), "dst")
      .select(col("src"), col("dst"),
        (lit(1.0) - Similarity.dot(col("es"), col("ed"))).as("dist"))
      .localCheckpoint(eager = false) // kdist + reach + the lof neighbor join
    val kdist = de.groupBy(col("src").as("node"))
      .agg(max(col("dist")).as("kdist"))
    val lrd = de
      .join(kdist.select(col("node").as("dst"), col("kdist").as("kd_o")),
        "dst")
      .withColumn("rd", greatest(col("dist"), col("kd_o")))
      .groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("nn"),
        expr("aggregate(sort_array(collect_list(struct(dst, rd))), 0D," +
          " (a, x) -> a + x.rd)").as("srd"))
      .withColumn("lrd", d(col("nn")) / col("srd"))
      .localCheckpoint(eager = false) // the p side and the o side of the LOF join
    val lof = de.select(col("src"), col("dst"))
      .join(lrd.select(col("src").as("dst"), col("lrd").as("lrd_o")), "dst")
      .groupBy(col("src"))
      .agg(expr("aggregate(sort_array(collect_list(struct(dst, lrd_o)))," +
        " 0D, (a, x) -> a + x.lrd_o)").as("slro"))
      .join(lrd.select(col("src"), col("nn"), col("srd"), col("lrd")), "src")
      .join(kdist.withColumnRenamed("node", "src"), "src")
    lof.select(col("src").as("vec_id"), col("nn").as("k_used"),
      round(col("kdist"), 6).as("kdist"),
      round(col("lrd"), 6).as("lrd"),
      round(col("slro") / d(col("nn")) / col("lrd"), 6).as("lof"))
      .orderBy(desc("lof"), col("vec_id"))
      .limit(20)
  }

  // Bias-corrected bootstrap inference, a SemDeDup
  // threshold advisor, and the data-quality column profiler.
  //
  //  - a_bootstrap_bca — the BCa confidence interval (Efron 1987) on
  //    mean event value, on top of the registered deterministic
  //    Poisson bootstrap: bias correction z₀ from the rep
  //    distribution, acceleration from the jackknife (closed form
  //    for the mean), probit/Φ via portable polynomial
  //    approximations (Acklam; A&S 7.1.26 — the a_bh_fdr precedent).
  //  - sim_eps_advisor — given target dedup rates, the cosine
  //    threshold ε a SemDeDup pass should use, read off the exact
  //    order statistics of the k-NN edge cosines.
  //  - q_dq_profile — the per-column null/NDV/uniqueness profile
  //    (the contract table every warehouse publishes; joins
  //    q_dq_freshness / q_dq_referential as the third audit).

  // ---------------------------------------------------------------
  // sim_eps_advisor — "what ε makes SemDeDup drop X% of the
  // similarity edges?": exact order statistics of the k-NN edge
  // cosines via the Ranking two-phase global rank (never a
  // single-partition sort of the edge stream). For each target rate
  // the advisor reports the cutoff cosine (min cos among the top-k
  // edges), the edge count actually captured, and how many distinct
  // vectors the cut touches. Scale shape: edges = 3n rows from the
  // shared TopKAgg build; rank + one broadcast totals cross + a
  // 3-rate explode over the top slice only.
  // ---------------------------------------------------------------
  private val EpsRates = Seq(0.01, 0.05, 0.10)

  val simEpsAdvisor: Q = (s, dir) => {
    val (edges, assigned) = knnEdgesWithAssigned(s, dir)
    val embs = assigned.select(col("vec_id"), col("e"))
    val de = edges
      .join(embs.select(col("vec_id").as("src"), col("e").as("es")), "src")
      .join(embs.select(col("vec_id").as("dst"), col("e").as("ed")), "dst")
      .select(col("src"), col("dst"),
        graft.functions.Similarity.dot(col("es"), col("ed")).as("cos"))
    val ranked = Ranking.withGlobalRank(de, "rk",
      col("cos"), col("src"), col("dst")).localCheckpoint(eager = false)
    val tot = ranked.agg(count(lit(1)).cast("long").as("n_edges"))
    val rates = array(EpsRates.map(lit): _*)
    ranked.crossJoin(broadcast(tot))
      .select(col("*"), explode(rates).as("rate"))
      .withColumn("k", greatest(lit(1L),
        floor(col("rate") * d(col("n_edges"))).cast("long")))
      .filter(col("rk") > col("n_edges") - col("k"))
      .groupBy(col("rate"))
      .agg(max(col("n_edges")).as("n_edges"), max(col("k")).as("k_edges"),
        min(col("cos")).as("eps"),
        countDistinct(col("src")).cast("long").as("n_src_affected"))
      .select(col("rate"), col("n_edges"), col("k_edges"),
        round(col("eps"), 6).as("eps"), col("n_src_affected"))
      .orderBy(col("rate"))
  }

  // Cluster-validity indices over the registered
  // k-means clustering, and two representation-geometry audits.
  //
  //  - sim_davies_bouldin — Davies–Bouldin index (1979): per-cluster
  //    scatter vs between-centroid separation; the "are my clusters
  //    actually separated" number a curation pipeline checks before
  //    trusting cluster-balanced sampling.
  //  - sim_calinski_harabasz — Calinski–Harabasz variance-ratio
  //    criterion (1974) on the same clustering.
  //  - e_matryoshka_cka — linear CKA (Kornblith et al. 2019) between
  //    the full 64-dim embedding and its 8/16/32-dim Matryoshka
  //    prefixes, all off ONE exact quantized Gram: how much of the
  //    representation survives truncation (the sibling of
  //    sim_matryoshka_recall, which measures retrieval agreement —
  //    this measures subspace agreement).
  //  - e_jl_distortion — Johnson–Lindenstrauss audit: a deterministic
  //    md5-seeded ±1 sign projection to 16 dims, squared-distance
  //    distortion measured on the registered k-NN edge set.
  //
  // Float policy: exact integer/quantized moments wherever a fold
  // crosses the corpus; bounded (k², d², edge-set) folds run in
  // pinned sort order; libm-touched outputs round-6.

  // ---------------------------------------------------------------
  // sim_davies_bouldin — DB = mean_i max_{j≠i} (S_i + S_j) / M_ij.
  // Members are unit vectors, so the member→centroid Euclidean
  // distance needs no per-pair dot: d² = 1 − 2·cos + ‖c‖² with cos
  // the assignment's stored dot product. Per-cluster scatter folds
  // members vec_id-ascending (the kmeans member-fold policy);
  // centroid separations are a k×k broadcast cross (64 pairs at any
  // corpus size). Output: one row per cluster (scatter, worst
  // same-vs-separated ratio, the cluster it collides with) plus the
  // corpus DB index repeated — the per-cluster view is what tells
  // you WHICH cluster to split.
  // ---------------------------------------------------------------
  val simDaviesBouldin: Q = (s, dir) => {
    val (assign0, cents) = kmeansAssignCents(s, dir)
    val assign = assign0.localCheckpoint(eager = false) // scatter + membership counts
    val cnorm = cents
      .select(col("cid"), col("ce"),
        Similarity.dot(col("ce"), col("ce")).as("cn2"))
      .localCheckpoint(eager = false) // feeds scatter, pairwise M, and the join-back
    val scat = assign.join(broadcast(cnorm.select(col("cid"), col("cn2"))), "cid")
      .select(col("cid"), col("vec_id"),
        sqrt(greatest(lit(0.0),
          lit(1.0) - lit(2.0) * col("cos") + col("cn2"))).as("dist"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        expr("aggregate(sort_array(collect_list(struct(vec_id, dist))), 0D," +
          " (a, q) -> a + q.dist)").as("sd"))
      .select(col("cid"), col("n_members"),
        (col("sd") / d(col("n_members"))).as("s"))
    val a = cnorm.alias("a"); val b = cnorm.alias("b")
    val sep = a.join(broadcast(b),
        col("a.cid") =!= col("b.cid"))
      .select(col("a.cid").as("cid"), col("b.cid").as("cid_other"),
        sqrt(greatest(lit(0.0), col("a.cn2") + col("b.cn2") -
          lit(2.0) * Similarity.dot(col("a.ce"), col("b.ce")))).as("m"))
    val si = scat.select(col("cid").as("ci"), col("n_members"),
      col("s").as("s_i"))
    val sj = scat.select(col("cid").as("cj"), col("s").as("s_j"))
    val ratios = sep
      .join(broadcast(si), col("cid") === col("ci"))
      .join(broadcast(sj), col("cid_other") === col("cj"))
      .select(col("cid"), col("cid_other"), col("n_members"),
        col("s_i").as("s"), ((col("s_i") + col("s_j")) / col("m")).as("r"))
    val perC = ratios.groupBy(col("cid"), col("n_members"), col("s"))
      .agg(max(struct(col("r").as("r"), (-col("cid_other")).as("neg"))).as("top"))
      .select(col("cid").as("cluster"), col("n_members"),
        col("s").as("scatter"), col("top.r").as("r_max"),
        (-col("top.neg")).cast("long").as("worst_neighbor"))
    val dbi = perC.agg((expr("aggregate(sort_array(collect_list(" +
        "struct(cluster, r_max))), 0D, (a, q) -> a + q.r_max)") /
        d(count(lit(1)))).as("db_index"))
    perC.crossJoin(broadcast(dbi))
      .select(col("cluster"), col("n_members"),
        round(col("scatter"), 6).as("scatter"),
        round(col("r_max"), 6).as("r_max"),
        col("worst_neighbor"),
        round(col("db_index"), 6).as("db_index"))
      .orderBy(col("cluster"))
  }

  // ---------------------------------------------------------------
  // sim_calinski_harabasz — CH = (SSB/(k−1)) / (SSW/(n−k)). SSW
  // reuses the assignment's stored dot: Σ(1 − 2cos + ‖c‖²), folded
  // cid-then-vec_id ascending. The global mean x̄ comes from EXACT
  // 2⁻²⁰-quantized component sums (the e_pca_power discipline) — a
  // corpus-scale mean with no order-sensitive float fold. SSB =
  // Σ_i n_i‖c_i − x̄‖² folds the k-row centroid frame.
  // ---------------------------------------------------------------
  val simCalinskiHarabasz: Q = (s, dir) => {
    val (assign0, cents) = kmeansAssignCents(s, dir)
    val assign = assign0.localCheckpoint(eager = false)
    val cnorm = cents
      .select(col("cid"), col("ce"),
        Similarity.dot(col("ce"), col("ce")).as("cn2"))
    val ssw = assign.join(broadcast(cnorm.select(col("cid"), col("cn2"))), "cid")
      .select(col("cid"), col("vec_id"),
        greatest(lit(0.0),
          lit(1.0) - lit(2.0) * col("cos") + col("cn2")).as("d2"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        expr("aggregate(sort_array(collect_list(struct(vec_id, d2))), 0D," +
          " (a, q) -> a + q.d2)").as("sw"))
      .localCheckpoint(eager = false) // feeds the SSW fold AND the SSB join
    // exact quantized global mean of the NORMALIZED vectors
    val qsums = assign
      .select(posexplode(expr(
        "transform(e, x -> CAST(floor(x * 1048576.0) AS BIGINT))"))
        .as(Seq("pos", "qx")))
      .groupBy(col("pos"))
      .agg(sum(col("qx")).cast("long").as("sq"),
        count(lit(1)).cast("long").as("n"))
      .select(col("pos"),
        (d(col("sq")) / d(col("n")) / lit(1048576.0)).as("xbar"))
    val mean = qsums
      .agg(expr("transform(sort_array(collect_list(struct(pos, xbar)))," +
        " q -> q.xbar)").as("xb"))
    val ssb = ssw.select(col("cid"), col("n_members"))
      .join(broadcast(cnorm.select(col("cid"), col("ce"))), "cid")
      .crossJoin(broadcast(mean))
      .select(col("cid"), (d(col("n_members")) *
        expr("aggregate(zip_with(ce, xb, (c, m) -> (c - m) * (c - m)), 0D," +
          " (a, v) -> a + v)")).as("b"))
      .agg(expr("aggregate(sort_array(collect_list(struct(cid, b))), 0D," +
        " (a, q) -> a + q.b)").as("ssb"))
    val tot = ssw.agg(
      sum(col("n_members")).cast("long").as("n"),
      count(lit(1)).cast("long").as("k"),
      expr("aggregate(sort_array(collect_list(struct(cid, sw))), 0D," +
        " (a, q) -> a + q.sw)").as("ssw"))
    tot.crossJoin(broadcast(ssb))
      .select(col("n").as("n_vectors"), col("k").as("n_clusters"),
        round(col("ssb"), 6).as("ssb"),
        round(col("ssw"), 6).as("ssw"),
        round((col("ssb") / d(col("k") - 1L)) /
          (col("ssw") / d(col("n") - col("k"))), 6).as("ch_index"))
  }

  // ---------------------------------------------------------------
  // sim_maxsim_multivector — late-interaction (ColBERT-style)
  // retrieval: the 64-dim embedding reads as 4 "token" sub-vectors
  // of 16 dims; score(q, d) = Σ_{i=1..4} max_{j=1..4}
  // cos(q_i, d_j). Query set: vec_id < 4 (the brute-force-topk
  // convention). Max over 4 values is order-free; the Σ over the 4
  // query slots folds slot-ascending in both engines. Scale shape:
  // sub-vector explosion is a bounded ×4; the interaction join is
  // (4 queries × 4 slots, broadcast) × corpus slots — linear in the
  // corpus, top-3 via one bounded per-query window.
  // ---------------------------------------------------------------
  val simMaxsimMultivector: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding"))
        .as("e"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 3), i -> struct(i AS slot," +
          " slice(e, i * 16 + 1, 16) AS sub))")).as("sv"))
      .select(col("vec_id"), col("sv.slot").as("slot"),
        col("sv.sub").as("sub"))
    val q = broadcast(emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("slot").as("qslot"),
        col("sub").as("qsub")))
    val best = q.join(emb.select(col("vec_id").as("neighbor_id"),
        col("sub").as("dsub")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qslot"), col("neighbor_id"),
        Similarity.cosine(col("qsub"), col("dsub")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"), col("qslot"))
      .agg(max(col("cos")).as("mx"))
    val scored = best
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(expr("aggregate(sort_array(collect_list(struct(qslot, mx)))," +
        " 0D, (a, q) -> a + q.mx)").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("score"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score"), 6).as("maxsim_score"),
        col("rk").cast("int").as("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // ---------------------------------------------------------------
  // sim_kcenter_coreset — Gonzalez greedy k-center, k = 8: seed at
  // the md5-min vector (the sim_kmeans seed convention), then 7
  // farthest-point steps — next center = argmax over the corpus of
  // the min cosine distance to the selected set (ties by vec_id).
  // Driver-stepped ≤8 bounded jobs (the documented k-means family);
  // each step is one broadcast-1-center scan updating the running
  // min-distance column, so the corpus never shuffles. Output: the
  // 8 centers in selection order with their selection distance and
  // the final coverage radius (max remaining min-distance — the
  // 2-approximation certificate).
  // ---------------------------------------------------------------
  val simKcenterCoreset: Q = (s, dir) => {
    val k = 8
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding"))
        .as("e"))
      .localCheckpoint(eager = false) // scanned once per greedy step
    val seed = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
      .select(col("vec_id"), col("e")).localCheckpoint(eager = false)
    val seedRow = seed.collect().head
    var selected = Seq((1, seedRow.getLong(0), 0.0))
    var minD = emb.crossJoin(broadcast(
        seed.select(col("e").as("ce"))))
      .select(col("vec_id"), col("e"),
        (lit(1.0) - Similarity.cosine(col("e"), col("ce"))).as("dm"))
      .localCheckpoint(eager = false)
    for (i <- 2 to k) {
      val nxt = minD.orderBy(desc("dm"), col("vec_id")).limit(1)
        .localCheckpoint(eager = false)
      val r = nxt.collect().head
      selected = selected :+ ((i, r.getAs[Long]("vec_id"),
        r.getAs[Double]("dm")))
      minD = minD.crossJoin(broadcast(nxt.select(col("e").as("ce"))))
        .select(col("vec_id"), col("e"),
          least(col("dm"),
            lit(1.0) - Similarity.cosine(col("e"), col("ce"))).as("dm"))
        .localCheckpoint(eager = false)
    }
    val radius = minD.agg(max(col("dm"))).collect().head.getDouble(0)
    import s.implicits._
    selected.toDF("sel_order", "vec_id", "dm")
      .select(col("sel_order").cast("int").as("sel_order"),
        col("vec_id"),
        round(col("dm"), 6).as("sel_dist"),
        round(lit(radius), 6).as("coverage_radius"))
      .orderBy(col("sel_order"))
  }

  /** One k-center greedy stage: sN = argmax of mN−1, mN = least. */
  private def kcenterStages(k: Int): String = {
    val dist = (a: String, b: String) =>
      s"""(1.0 - list_sum(list_transform(range(1, 65),
         |    i -> $a[i] * $b[i]))
         |  / (sqrt(list_sum(list_transform(range(1, 65),
         |       i -> $a[i] * $a[i])))
         |     * sqrt(list_sum(list_transform(range(1, 65),
         |       i -> $b[i] * $b[i])))))""".stripMargin
        .replaceAll("\n", " ")
    (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT vec_id, e, dm FROM m${i - 1}
         |  ORDER BY dm DESC, vec_id LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT m.vec_id, m.e,
         |         least(m.dm, ${dist("m.e", "s.e")}) AS dm
         |  FROM m${i - 1} m CROSS JOIN s$i s)"""
        .stripMargin
    }.mkString(",\n")
  }

  /** Oracle of `sim_cosine_topk`, shared with the oracles that replay it. */
  private val simCosineTopkOracle =
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * e.emb[i]))
        |           / (sqrt(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * q.qe[i])))
        |              * sqrt(list_sum(list_transform(range(1, len(e.emb) + 1), i -> e.emb[i] * e.emb[i]))))
        |           AS cos
        |  FROM q, e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Oracle of `sim_ivf_pq_search`, shared with the oracles that replay it. */
  private val simIvfPqSearchOracle =
      """WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |rk0 AS (
        |  SELECT vec_id, e,
        |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM e0),
        |coarse AS (
        |  SELECT CAST(rn AS BIGINT) AS cid, e AS ce FROM rk0 WHERE rn <= 16),
        |assigned AS (
        |  SELECT vec_id, cell, r FROM (
        |    SELECT v.vec_id, c.cid AS cell,
        |           list_transform(range(1, len(v.e) + 1), i -> v.e[i] - c.ce[i]) AS r,
        |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |             list_sum(list_transform(range(1, len(v.e) + 1),
        |               i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), c.cid) AS rk
        |    FROM e0 v CROSS JOIN coarse c) WHERE rk = 1),
        |subcode AS (
        |  SELECT CAST(s.rn - 16 AS BIGINT) AS scid, ms.m,
        |         list_transform(range(1, 9), i -> a.r[ms.m * 8 + i]) AS sc
        |  FROM rk0 s JOIN assigned a ON s.vec_id = a.vec_id
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
        |  WHERE s.rn > 16 AND s.rn <= 32),
        |codes AS (
        |  SELECT vec_id, cell, m, scid AS code FROM (
        |    SELECT a.vec_id, a.cell, scb.m, scb.scid,
        |           row_number() OVER (PARTITION BY a.vec_id, scb.m ORDER BY
        |             list_sum(list_transform(range(1, 9),
        |               i -> (a.r[scb.m * 8 + i] - scb.sc[i])
        |                    * (a.r[scb.m * 8 + i] - scb.sc[i]))), scb.scid) AS rk
        |    FROM assigned a CROSS JOIN subcode scb) WHERE rk = 1),
        |probes AS (
        |  SELECT query_id, cell, qr FROM (
        |    SELECT v.vec_id AS query_id, c.cid AS cell,
        |           list_transform(range(1, len(v.e) + 1), i -> v.e[i] - c.ce[i]) AS qr,
        |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |             list_sum(list_transform(range(1, len(v.e) + 1),
        |               i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), c.cid) AS rk
        |    FROM e0 v CROSS JOIN coarse c WHERE v.vec_id < 10) WHERE rk <= 2),
        |lut AS (
        |  SELECT p.query_id, p.cell, s.m, s.scid,
        |         list_sum(list_transform(range(1, 9),
        |           i -> (p.qr[s.m * 8 + i] - s.sc[i])
        |                * (p.qr[s.m * 8 + i] - s.sc[i]))) AS lutd
        |  FROM probes p CROSS JOIN subcode s),
        |cand AS (
        |  SELECT l.query_id, c.vec_id AS neighbor_id,
        |         list_sum(list(l.lutd ORDER BY l.m)) AS adist
        |  FROM codes c JOIN lut l
        |    ON c.cell = l.cell AND c.m = l.m AND c.code = l.scid
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, round(adist, 6) AS approx_dist,
        |       CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adist, neighbor_id) AS rk FROM cand)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_cosine_topk" -> simCosineTopK,
    "sim_cosine_lsh" -> simCosineLsh,
    "sim_cosine_ivf" -> simCosineIvf,
    "sim_knn_graph" -> simKnnGraph,
    "sim_semdedup" -> simSemDedup,
    "sim_kmeans" -> simKmeans,
    "sim_kmeans_converged" -> simKmeansConverged,
    "sim_ivf_pq_search" -> simIvfPqSearch,
    "sim_ann_recall_eval" -> simAnnRecallEval,
    "sim_matryoshka_recall" -> simMatryoshkaRecall,
    "sim_cluster_purity" -> simClusterPurity,
    "sim_rrf_fusion" -> simRrfFusion,
    "sim_mmr" -> simMmr,
    "sim_rocchio_prf" -> simRocchioPrf,
    "sim_ivf_nprobe_sweep" -> simIvfNprobeSweep,
    "sim_ari" -> simAri,
    "sim_hubness" -> simHubness,
    "sim_silhouette" -> simSilhouette,
    "sim_ndcg" -> simNdcg,
    "r_rerank_agreement" -> rRerankAgreement,
    "sim_mrr_map" -> simMrrMap,
    "sim_ivf_persisted" -> simIvfPersisted,
    "sim_ivf_pq_persisted" -> simIvfPqPersisted,
    "sim_ivf_incremental" -> simIvfIncremental,
    "sim_ivf_append_balance" -> simIvfAppendBalance,
    "sim_pq_recall_eval" -> simPqRecallEval,
    "sim_lof_outliers" -> simLofOutliers,
    "sim_eps_advisor" -> simEpsAdvisor,
    "sim_davies_bouldin" -> simDaviesBouldin,
    "sim_calinski_harabasz" -> simCalinskiHarabasz,
    "sim_maxsim_multivector" -> simMaxsimMultivector,
    "sim_kcenter_coreset" -> simKcenterCoreset)

  val oracles: Map[String, String] = Map(
    "sim_cosine_lsh" -> lshOracleSql,
    "sim_cosine_ivf" -> ivfOracleSql,
    "sim_cosine_topk" -> simCosineTopkOracle,
    "sim_knn_graph" ->
      s"""WITH $knnEdgeCtes,
         |mut AS (
         |  SELECT f.cell AS cell, count(*) AS n_mutual
         |  FROM edges f JOIN edges r ON f.src = r.dst AND f.dst = r.src
         |  WHERE f.src < f.dst GROUP BY 1)
         |SELECT cell, n_vectors, n_edges,
         |       CAST(coalesce(n_mutual, 0) AS BIGINT) AS n_mutual
         |FROM (SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY 1) v
         |JOIN (SELECT cell, count(*) AS n_edges FROM edges GROUP BY 1) g USING (cell)
         |LEFT JOIN mut USING (cell)
         |ORDER BY cell""".stripMargin,
    "sim_semdedup" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |         list_transform(emb, x -> x / sqrt(list_sum(
         |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS emb
         |  FROM e0),
         |cents AS (
         |  SELECT vec_id AS cid, emb AS ce
         |  FROM (SELECT vec_id, emb,
         |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |        FROM e)
         |  WHERE rn <= 16),
         |assigned AS (
         |  SELECT vec_id, emb, cid AS cell
         |  FROM (SELECT e.vec_id, e.emb, c.cid,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${dotSql("e.emb", "c.ce")} DESC, c.cid) AS crk
         |        FROM e CROSS JOIN cents c)
         |  WHERE crk = 1),
         |pairs AS (
         |  SELECT b.vec_id AS vec_id, a.cell AS cell, a.vec_id AS cand,
         |         ${dotSql("a.emb", "b.emb")} AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT vec_id, cell, min(cand) AS kept_id, count(*) AS n_matches,
         |       round(max(cos), 6) AS max_cos
         |FROM pairs WHERE cos >= 0.4
         |GROUP BY vec_id, cell ORDER BY vec_id""".stripMargin,
    "sim_kmeans_converged" -> kmeansConvergedSql,
    // recall eval: both registered algorithms replayed as nested
    // subqueries of their own oracle SQL, joined on (query, neighbor)
    "sim_ann_recall_eval" ->
      s"""WITH ivf AS (SELECT * FROM (
         |${ivfOracleSql}
         |)),
         |bf AS (SELECT * FROM (
         |${simCosineTopkOracle}
         |))
         |SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_returned,
         |       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hits,
         |       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / 5.0 AS recall_at_5
         |FROM ivf i LEFT JOIN bf b
         |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |GROUP BY i.query_id ORDER BY i.query_id""".stripMargin,
    "sim_matryoshka_recall" ->
      """WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |full_rk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * n.e[i]))
        |               / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])))
        |                  * sqrt(list_sum(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * n.e[i]))))
        |             DESC, n.vec_id) AS rk
        |    FROM e0 q CROSS JOIN e0 n
        |    WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id) WHERE rk <= 5),
        |pre AS (SELECT vec_id, e[1:16] AS e FROM e0),
        |pre_rk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * n.e[i]))
        |               / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])))
        |                  * sqrt(list_sum(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * n.e[i]))))
        |             DESC, n.vec_id) AS rk
        |    FROM pre q CROSS JOIN pre n
        |    WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id) WHERE rk <= 5)
        |SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_returned,
        |       CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_hits,
        |       CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS DOUBLE) / 5.0 AS recall_at_5
        |FROM pre_rk p LEFT JOIN full_rk f
        |  ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
        |GROUP BY p.query_id ORDER BY p.query_id""".stripMargin,
    "sim_ivf_pq_search" -> simIvfPqSearchOracle,
    "sim_kmeans" ->
      s"""WITH $kmeansCte
         |SELECT vec_id, cid AS cluster, round(cos, 6) AS cos
         |FROM a2 ORDER BY vec_id""".stripMargin,
    "sim_cluster_purity" ->
      s"""WITH $kmeansCte,
         |lab AS (
         |  SELECT a2.cid AS cluster, CAST(emb.label AS BIGINT) AS label
         |  FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id),
         |pl AS (
         |  SELECT cluster, label, count(*) AS c FROM lab GROUP BY 1, 2),
         |top AS (
         |  SELECT cluster, label AS dominant_label, c AS top_c,
         |         row_number() OVER (PARTITION BY cluster
         |           ORDER BY c DESC, label) AS rk,
         |         sum(c) OVER (PARTITION BY cluster) AS n_members
         |  FROM pl)
         |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
         |       dominant_label,
         |       CAST(top_c AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
         |FROM top WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "sim_rrf_fusion" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |ov AS (
         |  SELECT q.doc_id AS query_id, d.doc_id, count(*) AS ov
         |  FROM dt q JOIN dt d ON q.tok = d.tok AND d.doc_id <> q.doc_id
         |  WHERE q.doc_id < 10 GROUP BY 1, 2),
         |lex AS (
         |  SELECT query_id, doc_id, rk AS lex_rk FROM (
         |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ov DESC, doc_id) AS rk FROM ov)
         |  WHERE rk <= 20),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |vec AS (
         |  SELECT query_id, doc_id, rk AS vec_rk FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.emb", "n.emb")} DESC, n.vec_id) AS rk
         |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rk <= 20),
         |f AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rk, v.vec_rk,
         |         coalesce(1.0 / (60 + l.lex_rk), 0.0)
         |           + coalesce(1.0 / (60 + v.vec_rk), 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, doc_id,
         |       CAST(coalesce(lex_rk, -1) AS INTEGER) AS lex_rk,
         |       CAST(coalesce(vec_rk, -1) AS INTEGER) AS vec_rk,
         |       round(rrf, 6) AS rrf, CAST(rk AS INTEGER) AS fused_rk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf DESC, doc_id) AS rk FROM f)
         |WHERE rk <= 5 ORDER BY query_id, fused_rk""".stripMargin,
    "sim_mmr" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |           AS emb
         |  FROM embeddings),
         |cand AS (
         |  SELECT query_id, doc_id, rel FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
         |           ${cosSql("q.emb", "n.emb")} AS rel,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.emb", "n.emb")} DESC, n.vec_id)
         |             AS rk
         |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < 5)
         |  WHERE rk <= 12),
         |ce AS (
         |  SELECT c.query_id, c.doc_id, c.rel, e.emb
         |  FROM cand c JOIN e ON c.doc_id = e.vec_id),
         |ps AS (
         |  SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
         |         ${cosSql("x.emb", "y.emb")} AS psim
         |  FROM ce x JOIN ce y
         |    ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
         |s1 AS (
         |  SELECT query_id, CAST(1 AS INTEGER) AS step, doc_id, rel,
         |         0.7 * rel AS score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY (0.7 * rel) DESC, doc_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT query_id, doc_id FROM s1),
         |${mmrSteps(5)}
         |SELECT query_id, step, doc_id, round(rel, 6) AS rel,
         |       round(score, 6) AS mmr
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY query_id, step""".stripMargin,
    "sim_rocchio_prf" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |           AS emb
         |  FROM embeddings),
         |init AS (
         |  SELECT query_id, doc_id, emb, rk_init FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS doc_id, n.emb,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.emb", "n.emb")} DESC, n.vec_id)
         |             AS rk_init
         |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < 5)
         |  WHERE rk_init <= 5),
         |cent AS (
         |  SELECT query_id,
         |         list_transform(range(1, 65),
         |           j -> list_sum(list_transform(docs, dd -> dd[j])) / 5.0)
         |           AS cent
         |  FROM (SELECT query_id, list(emb ORDER BY rk_init) AS docs
         |        FROM init GROUP BY 1)),
         |qx AS (
         |  SELECT c.query_id,
         |         list_transform(range(1, 65),
         |           j -> q.emb[j] + 0.75 * c.cent[j]) AS qx
         |  FROM cent c JOIN e q ON q.vec_id = c.query_id),
         |prf AS (
         |  SELECT query_id, doc_id, cos_prf, rk_prf FROM (
         |    SELECT qx.query_id, n.vec_id AS doc_id,
         |           ${cosSql("qx.qx", "n.emb")} AS cos_prf,
         |           row_number() OVER (PARTITION BY qx.query_id
         |             ORDER BY ${cosSql("qx.qx", "n.emb")} DESC, n.vec_id)
         |             AS rk_prf
         |    FROM qx JOIN e n ON n.vec_id <> qx.query_id)
         |  WHERE rk_prf <= 5)
         |SELECT p.query_id, p.doc_id, CAST(p.rk_prf AS INTEGER) AS rk_prf,
         |       round(p.cos_prf, 6) AS cos_prf,
         |       CAST(coalesce(i.rk_init, -1) AS INTEGER) AS rk_init
         |FROM prf p LEFT JOIN init i
         |  ON p.query_id = i.query_id AND p.doc_id = i.doc_id
         |ORDER BY p.query_id, p.rk_prf""".stripMargin,
    "sim_ivf_nprobe_sweep" ->
      s"""WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, emb AS ce
        |  FROM (SELECT vec_id, emb,
        |               row_number() OVER (ORDER BY md5(CAST(vec_id AS
        |                 VARCHAR)), vec_id) AS rn
        |        FROM e)
        |  WHERE rn <= 16),
        |scoredc AS (
        |  SELECT e.vec_id, e.emb, c.cid, ${cosSql("e.emb", "c.ce")} AS csim
        |  FROM e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id AS neighbor_id, emb AS ne, cid AS cell
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY csim DESC, cid) AS crk
        |        FROM scoredc)
        |  WHERE crk = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, emb AS qe, cid AS cell, crk AS probe_rk
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY csim DESC, cid) AS crk
        |        FROM scoredc WHERE vec_id < 10)
        |  WHERE crk <= 4),
        |cand AS (
        |  SELECT p.query_id, a.neighbor_id, p.probe_rk,
        |         ${cosSql("p.qe", "a.ne")} AS cos
        |  FROM probes p JOIN assigned a USING (cell)
        |  WHERE a.neighbor_id <> p.query_id),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY ${cosSql("q.emb", "x.emb")} DESC, x.vec_id)
        |             AS rk
        |    FROM e q, e x WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id)
        |  WHERE rk <= 5),
        |ps AS (SELECT unnest([1, 2, 4]) AS nprobe),
        |sw AS (
        |  SELECT ps.nprobe, cand.query_id, cand.neighbor_id, cand.cos
        |  FROM cand CROSS JOIN ps WHERE cand.probe_rk <= ps.nprobe),
        |top5 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
        |             ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM sw) WHERE rk <= 5),
        |ncand AS (
        |  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM sw GROUP BY 1),
        |hits AS (
        |  SELECT t.nprobe, CAST(count(g.neighbor_id) AS BIGINT) AS n_hits
        |  FROM top5 t LEFT JOIN truth g
        |    ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT CAST(ps.nprobe AS INT) AS nprobe, ncand.n_candidates,
        |       hits.n_hits,
        |       round(CAST(hits.n_hits AS DOUBLE) / 50.0, 6) AS recall_at_5
        |FROM ps JOIN ncand USING (nprobe) JOIN hits USING (nprobe)
        |ORDER BY nprobe""".stripMargin,
    "sim_ari" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, label,
         |         list_transform(emb, x -> x / sqrt(list_sum(
         |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS e
         |  FROM e0),
         |${cellsCte("a", "ariA:")},
         |${cellsCte("b", "ariB:")},
         |cont_cellsA_vs_label AS (
         |  SELECT a.cid AS u, e.label AS v, count(*) AS nij
         |  FROM asg_a a JOIN e ON a.vec_id = e.vec_id GROUP BY 1, 2),
         |cont_cellsB_vs_label AS (
         |  SELECT b.cid AS u, e.label AS v, count(*) AS nij
         |  FROM asg_b b JOIN e ON b.vec_id = e.vec_id GROUP BY 1, 2),
         |cont_cellsA_vs_cellsB AS (
         |  SELECT a.cid AS u, b.cid AS v, count(*) AS nij
         |  FROM asg_a a JOIN asg_b b ON a.vec_id = b.vec_id GROUP BY 1, 2)
         |SELECT * FROM (
         |${ariCmp("cellsA_vs_label")}
         |UNION ALL
         |${ariCmp("cellsA_vs_cellsB")}
         |UNION ALL
         |${ariCmp("cellsB_vs_label")})
         |ORDER BY comparison""".stripMargin,
    "sim_hubness" ->
      s"""WITH ${knnEdgeCtes},
         |indeg AS (
         |  SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
         |  FROM edges GROUP BY 1)
         |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_nodes FROM (
         |  SELECT coalesce(i.in_degree, 0) AS in_degree
         |  FROM embeddings v LEFT JOIN indeg i ON i.vec_id = v.vec_id)
         |GROUP BY in_degree ORDER BY in_degree""".stripMargin,
    "sim_silhouette" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |         list_transform(emb, x -> x / sqrt(list_sum(
         |           list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])))) AS e
         |  FROM e0),
         |cents AS (
         |  SELECT CAST(rn AS BIGINT) AS cid, e AS ce
         |  FROM (SELECT vec_id, e,
         |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |        FROM e)
         |  WHERE rn <= 8),
         |rk2 AS (
         |  SELECT vec_id, cid, cos, rk FROM (
         |    SELECT e.vec_id, c.cid, ${dotSql("e.e", "c.ce")} AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dotSql("e.e", "c.ce")} DESC, c.cid) AS rk
         |    FROM e CROSS JOIN cents c) WHERE rk <= 2),
         |piv AS (
         |  SELECT vec_id,
         |         max(CASE WHEN rk = 1 THEN cid END) AS cluster,
         |         max(CASE WHEN rk = 1 THEN cos END) AS cos1,
         |         max(CASE WHEN rk = 2 THEN cos END) AS cos2
         |  FROM rk2 GROUP BY 1),
         |sm AS (
         |  SELECT cluster,
         |         CASE WHEN 1.0 - cos2 = 0.0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(floor(((1.0 - cos2) - (1.0 - cos1))
         |                     / (1.0 - cos2) * 1000000.0) AS BIGINT)
         |         END AS smicro
         |  FROM piv)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(smicro) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS mean_silhouette,
         |       CAST(min(smicro) AS DOUBLE) / 1000000.0 AS min_silhouette,
         |       CAST(max(smicro) AS DOUBLE) / 1000000.0 AS max_silhouette
         |FROM sm GROUP BY 1 ORDER BY cluster""".stripMargin,
    "sim_ndcg" ->
      s"""WITH ivf AS (SELECT * FROM (
         |${ivfOracleSql}
         |)),
         |bf AS (SELECT * FROM (
         |${simCosineTopkOracle}
         |)),
         |j AS (
         |  SELECT i.query_id, i.rk,
         |         CASE WHEN b.neighbor_id IS NOT NULL
         |              THEN 1.0 / log2(i.rk::DOUBLE + 1.0) ELSE 0.0 END AS g,
         |         CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS h
         |  FROM ivf i LEFT JOIN bf b
         |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id),
         |dcg AS (
         |  SELECT query_id, CAST(sum(h) AS BIGINT) AS n_hits,
         |         list_sum(list(g ORDER BY rk)) AS dcg
         |  FROM j GROUP BY 1),
         |idcg AS (
         |  SELECT query_id,
         |         list_sum(list(1.0 / log2(rk::DOUBLE + 1.0) ORDER BY rk)) AS idcg
         |  FROM bf GROUP BY 1)
         |SELECT d.query_id, d.n_hits, round(d.dcg / i.idcg, 6) AS ndcg_at_5
         |FROM dcg d JOIN idcg i USING (query_id)
         |ORDER BY d.query_id""".stripMargin,
    "r_rerank_agreement" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         list_sum(list_transform(range(1, $RerankPrefixDim + 1),
         |             i -> q.e[i] * n.e[i]))
         |           / (sqrt(list_sum(list_transform(range(1, $RerankPrefixDim + 1),
         |                i -> q.e[i] * q.e[i])))
         |              * sqrt(list_sum(list_transform(range(1, $RerankPrefixDim + 1),
         |                  i -> n.e[i] * n.e[i])))) AS cos_bi,
         |         list_sum(list_transform(range(1, len(q.e) + 1),
         |             i -> q.e[i] * n.e[i]))
         |           / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
         |                i -> q.e[i] * q.e[i])))
         |              * sqrt(list_sum(list_transform(range(1, len(n.e) + 1),
         |                  i -> n.e[i] * n.e[i])))) AS cos_full
         |  FROM e0 q CROSS JOIN e0 n
         |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id, bi_rank,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_full DESC, neighbor_id) AS full_rank
         |  FROM (
         |    SELECT query_id, neighbor_id, cos_full,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos_bi DESC, neighbor_id) AS bi_rank
         |    FROM scored)
         |  WHERE bi_rank <= $RerankK),
         |agg AS (
         |  SELECT a.query_id,
         |         CAST(sum(CASE WHEN (a.bi_rank - b.bi_rank)
         |             * (a.full_rank - b.full_rank) > 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_concordant,
         |         CAST(sum(CASE WHEN (a.bi_rank - b.bi_rank)
         |             * (a.full_rank - b.full_rank) < 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_discordant
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id
         |  GROUP BY 1),
         |top1 AS (
         |  SELECT query_id, CAST(bi_rank AS BIGINT) AS rerank_top1_bi_rank
         |  FROM cand WHERE full_rank = 1)
         |SELECT agg.query_id, n_concordant, n_discordant,
         |       round((n_concordant::DOUBLE - n_discordant::DOUBLE)
         |         / (n_concordant::DOUBLE + n_discordant::DOUBLE), 6)
         |         AS kendall_tau,
         |       rerank_top1_bi_rank
         |FROM agg JOIN top1 USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "sim_mrr_map" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |ranked AS (
         |  SELECT query_id, qlabel, neighbor_id, label, rk FROM (
         |    SELECT q.vec_id AS query_id, q.label AS qlabel,
         |           n.vec_id AS neighbor_id, n.label AS label,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             list_sum(list_transform(range(1, len(q.e) + 1),
         |                 i -> q.e[i] * n.e[i]))
         |               / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
         |                    i -> q.e[i] * q.e[i])))
         |                  * sqrt(list_sum(list_transform(range(1, len(n.e) + 1),
         |                      i -> n.e[i] * n.e[i]))))
         |             DESC, n.vec_id) AS rk
         |    FROM e0 q CROSS JOIN e0 n
         |    WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
         |  WHERE rk <= $MrrK),
         |rel AS (
         |  SELECT query_id, rk,
         |         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
         |         sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY query_id ORDER BY rk
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_rel
         |  FROM ranked),
         |per_q AS (
         |  SELECT query_id,
         |         CAST(sum(rel) AS BIGINT) AS n_relevant_at_10,
         |         coalesce(1.0 / CAST(min(CASE WHEN rel = 1 THEN rk END)
         |           AS DOUBLE), 0.0) AS rr,
         |         CASE WHEN sum(rel) > 0 THEN
         |           list_sum(list(CASE WHEN rel = 1
         |             THEN cum_rel::DOUBLE / rk::DOUBLE ELSE 0.0 END
         |             ORDER BY rk)) / CAST(sum(rel) AS DOUBLE)
         |         ELSE 0.0 END AS ap
         |  FROM rel GROUP BY 1),
         |summary AS (
         |  SELECT list_sum(list(rr ORDER BY query_id))
         |           / CAST(count(*) AS DOUBLE) AS mrr_at_10,
         |         list_sum(list(ap ORDER BY query_id))
         |           / CAST(count(*) AS DOUBLE) AS map_at_10
         |  FROM per_q)
         |SELECT query_id, n_relevant_at_10,
         |       round(rr, 6) AS reciprocal_rank,
         |       round(ap, 6) AS avg_precision,
         |       round(mrr_at_10, 6) AS mrr_at_10,
         |       round(map_at_10, 6) AS map_at_10
         |FROM per_q CROSS JOIN summary
         |ORDER BY query_id""".stripMargin,
    // identical SQL to the in-query variants by construction — the
    // parquet round-trip must not change a single hash
    "sim_ivf_persisted" -> ivfOracleSql,
    "sim_ivf_pq_persisted" -> simIvfPqSearchOracle,
    "sim_ivf_incremental" ->
      s"""WITH $IncrementalCtes,
         |qprobe AS (
         |  SELECT vec_id AS query_id, emb AS qe, cid AS cell
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
         |        FROM scoredc WHERE vec_id < 10)
         |  WHERE crk <= 4),
         |cand AS (
         |  SELECT q.query_id, q.qe, a.vec_id AS neighbor_id, a.emb AS ne
         |  FROM qprobe q JOIN assigned a USING (cell)
         |  WHERE a.vec_id <> q.query_id),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS cos FROM cand),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rk AS INTEGER) AS rk
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "sim_ivf_append_balance" ->
      s"""WITH $IncrementalCtes,
         |base AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_base
         |  FROM assigned WHERE vec_id % 4 <> 3 GROUP BY 1),
         |newb AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_new
         |  FROM assigned WHERE vec_id % 4 = 3 GROUP BY 1)
         |SELECT cell, n_base,
         |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         |       round(CAST(coalesce(n_new, 0) AS DOUBLE)
         |         / CAST(n_base AS DOUBLE), 6) AS growth_ratio
         |FROM base LEFT JOIN newb USING (cell)
         |ORDER BY cell""".stripMargin,
    "sim_pq_recall_eval" ->
      s"""WITH pq AS (SELECT * FROM (
         |${simIvfPqSearchOracle}
         |)),
         |bf AS (SELECT * FROM (
         |${simCosineTopkOracle}
         |))
         |SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_returned,
         |       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hits,
         |       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / 5.0 AS recall_at_5
         |FROM pq p LEFT JOIN bf b
         |  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
         |GROUP BY p.query_id ORDER BY p.query_id""".stripMargin,
    "sim_lof_outliers" ->
      s"""WITH ${knnEdgeCtes},
         |de AS (
         |  SELECT ed.src, ed.dst,
         |         1.0 - ${dotSql("es.emb", "et.emb")} AS dist
         |  FROM edges ed JOIN e es ON ed.src = es.vec_id
         |                JOIN e et ON ed.dst = et.vec_id),
         |kd AS (SELECT src AS node, max(dist) AS kdist FROM de GROUP BY 1),
         |lrd AS (
         |  SELECT de.src, CAST(count(*) AS BIGINT) AS nn,
         |         list_sum(list(greatest(de.dist, kd.kdist)
         |           ORDER BY de.dst)) AS srd
         |  FROM de JOIN kd ON de.dst = kd.node
         |  GROUP BY 1),
         |lrd2 AS (
         |  SELECT src, nn, srd, CAST(nn AS DOUBLE) / srd AS lrd FROM lrd),
         |lof AS (
         |  SELECT de.src,
         |         list_sum(list(lo.lrd ORDER BY de.dst)) AS slro
         |  FROM de JOIN lrd2 lo ON de.dst = lo.src
         |  GROUP BY 1)
         |SELECT f.src AS vec_id, p.nn AS k_used,
         |       round(kd.kdist, 6) AS kdist,
         |       round(p.lrd, 6) AS lrd,
         |       round(f.slro / CAST(p.nn AS DOUBLE) / p.lrd, 6) AS lof
         |FROM lof f JOIN lrd2 p ON f.src = p.src
         |           JOIN kd ON f.src = kd.node
         |ORDER BY round(f.slro / CAST(p.nn AS DOUBLE) / p.lrd, 6) DESC,
         |         f.src
         |LIMIT 20""".stripMargin,
    "sim_eps_advisor" -> {
      val dotS = "list_sum(list_transform(range(1, len(es.emb) + 1)," +
        " i -> es.emb[i] * et.emb[i]))"
      s"""WITH ${knnEdgeCtes},
         |de AS (
         |  SELECT ed.src, ed.dst, $dotS AS cos
         |  FROM edges ed JOIN e es ON ed.src = es.vec_id
         |                JOIN e et ON ed.dst = et.vec_id),
         |rkd AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY cos, src, dst)
         |    AS BIGINT) AS rk
         |  FROM de),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM rkd),
         |grid AS (SELECT unnest(CAST([${EpsRates.mkString(", ")}]
         |  AS DOUBLE[])) AS rate),
         |topk AS (
         |  SELECT g.rate, t.n_edges,
         |         greatest(1, CAST(floor(g.rate
         |           * CAST(t.n_edges AS DOUBLE)) AS BIGINT)) AS k,
         |         r.src, r.dst, r.cos, r.rk
         |  FROM rkd r CROSS JOIN tot t CROSS JOIN grid g
         |  WHERE r.rk > t.n_edges - greatest(1, CAST(floor(g.rate
         |    * CAST(t.n_edges AS DOUBLE)) AS BIGINT)))
         |SELECT rate, CAST(max(n_edges) AS BIGINT) AS n_edges,
         |       CAST(max(k) AS BIGINT) AS k_edges,
         |       round(min(cos), 6) AS eps,
         |       CAST(count(DISTINCT src) AS BIGINT) AS n_src_affected
         |FROM topk GROUP BY 1 ORDER BY rate""".stripMargin
    },
    "sim_davies_bouldin" ->
      s"""WITH ${kmeansCte},
         |cn AS (
         |  SELECT cid, ce, ${dotSql("ce", "ce")} AS cn2 FROM c1),
         |scat AS (
         |  SELECT a2.cid, CAST(count(*) AS BIGINT) AS n_members,
         |         list_sum(list(sqrt(greatest(0.0,
         |           1.0 - 2.0 * a2.cos + cn.cn2)) ORDER BY a2.vec_id))
         |           / CAST(count(*) AS DOUBLE) AS s
         |  FROM a2 JOIN cn ON a2.cid = cn.cid
         |  GROUP BY a2.cid, cn.cn2),
         |sep AS (
         |  SELECT a.cid AS cid, b.cid AS cid_other,
         |         sqrt(greatest(0.0, a.cn2 + b.cn2
         |           - 2.0 * ${dotSql("a.ce", "b.ce")})) AS m
         |  FROM cn a JOIN cn b ON a.cid <> b.cid),
         |ratios AS (
         |  SELECT sep.cid, sep.cid_other, si.n_members, si.s,
         |         (si.s + sj.s) / sep.m AS r
         |  FROM sep JOIN scat si ON sep.cid = si.cid
         |           JOIN scat sj ON sep.cid_other = sj.cid),
         |perc AS (
         |  SELECT cid, n_members, s, r, cid_other,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY r DESC, cid_other) AS rk
         |  FROM ratios),
         |top AS (SELECT cid, n_members, s, r, cid_other
         |        FROM perc WHERE rk = 1),
         |dbi AS (
         |  SELECT list_sum(list(r ORDER BY cid))
         |    / CAST(count(*) AS DOUBLE) AS db_index
         |  FROM top)
         |SELECT t.cid AS cluster, t.n_members,
         |       round(t.s, 6) AS scatter, round(t.r, 6) AS r_max,
         |       CAST(t.cid_other AS BIGINT) AS worst_neighbor,
         |       round(d.db_index, 6) AS db_index
         |FROM top t CROSS JOIN dbi d
         |ORDER BY cluster""".stripMargin,
    "sim_calinski_harabasz" ->
      s"""WITH ${kmeansCte},
         |cn AS (
         |  SELECT cid, ce, ${dotSql("ce", "ce")} AS cn2 FROM c1),
         |sw AS (
         |  SELECT a2.cid, CAST(count(*) AS BIGINT) AS n_members,
         |         list_sum(list(greatest(0.0, 1.0 - 2.0 * a2.cos + cn.cn2)
         |           ORDER BY a2.vec_id)) AS sw
         |  FROM a2 JOIN cn ON a2.cid = cn.cid
         |  GROUP BY a2.cid, cn.cn2),
         |qs AS (
         |  SELECT pos, CAST(sum(qx) AS BIGINT) AS sq,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(list_transform(en.e,
         |            x -> CAST(floor(x * 1048576.0) AS BIGINT))) AS qx,
         |          unnest(range(1, len(en.e) + 1)) AS pos
         |        FROM a2 JOIN e en ON a2.vec_id = en.vec_id)
         |  GROUP BY pos),
         |mean_ AS (
         |  SELECT list(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
         |    ORDER BY pos) AS xb
         |  FROM qs),
         |ssb AS (
         |  SELECT list_sum(list(
         |    CAST(sw.n_members AS DOUBLE) * list_sum(
         |      list_transform(range(1, len(cn.ce) + 1),
         |        i -> (cn.ce[i] - m.xb[i]) * (cn.ce[i] - m.xb[i])))
         |    ORDER BY sw.cid)) AS ssb
         |  FROM sw JOIN cn ON sw.cid = cn.cid CROSS JOIN mean_ m),
         |tot AS (
         |  SELECT CAST(sum(n_members) AS BIGINT) AS n,
         |         CAST(count(*) AS BIGINT) AS k,
         |         list_sum(list(sw ORDER BY cid)) AS ssw
         |  FROM sw)
         |SELECT t.n AS n_vectors, t.k AS n_clusters,
         |       round(b.ssb, 6) AS ssb, round(t.ssw, 6) AS ssw,
         |       round((b.ssb / CAST(t.k - 1 AS DOUBLE))
         |         / (t.ssw / CAST(t.n - t.k AS DOUBLE)), 6) AS ch_index
         |FROM tot t CROSS JOIN ssb b""".stripMargin,
    "sim_maxsim_multivector" ->
      """WITH sv AS (
        |  SELECT vec_id, i AS slot,
        |         list_transform(embedding[i * 16 + 1 : i * 16 + 16],
        |           x -> CAST(x AS DOUBLE)) AS sub
        |  FROM embeddings, unnest([0, 1, 2, 3]) AS u(i)),
        |q AS (SELECT vec_id AS query_id, slot AS qslot, sub AS qsub
        |      FROM sv WHERE vec_id < 4),
        |best AS (
        |  SELECT q.query_id, d.vec_id AS neighbor_id, q.qslot,
        |         max(list_sum(list_transform(range(1, 17),
        |               i -> q.qsub[i] * d.sub[i]))
        |             / (sqrt(list_sum(list_transform(range(1, 17),
        |                  i -> q.qsub[i] * q.qsub[i])))
        |                * sqrt(list_sum(list_transform(range(1, 17),
        |                  i -> d.sub[i] * d.sub[i]))))) AS mx
        |  FROM q JOIN sv d ON d.vec_id <> q.query_id
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         list_sum(list(mx ORDER BY qslot)) AS score
        |  FROM best GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY score DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(score, 6) AS maxsim_score,
        |       CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "sim_kcenter_coreset" ->
      s"""WITH emb AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |s1 AS MATERIALIZED (
         |  SELECT vec_id, e FROM emb
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
         |m1 AS MATERIALIZED (
         |  SELECT m.vec_id, m.e,
         |         (1.0 - list_sum(list_transform(range(1, 65),
         |             i -> m.e[i] * s.e[i]))
         |           / (sqrt(list_sum(list_transform(range(1, 65),
         |                i -> m.e[i] * m.e[i])))
         |              * sqrt(list_sum(list_transform(range(1, 65),
         |                i -> s.e[i] * s.e[i]))))) AS dm
         |  FROM emb m CROSS JOIN s1 s),
         |${kcenterStages(8)},
         |rad AS (SELECT max(dm) AS radius FROM m8),
         |sel AS (
         |  SELECT 1 AS sel_order, vec_id, 0.0 AS dm FROM s1
         |  ${(2 to 8).map(i =>
            s"UNION ALL SELECT $i, s$i.vec_id," +
              s" (SELECT dm FROM m${i - 1} x" +
              s"  WHERE x.vec_id = s$i.vec_id) FROM s$i")
            .mkString("\n  ")})
         |SELECT CAST(sel_order AS INTEGER) AS sel_order, vec_id,
         |       round(dm, 6) AS sel_dist,
         |       round(rad.radius, 6) AS coverage_radius
         |FROM sel CROSS JOIN rad ORDER BY sel_order""".stripMargin)
}
