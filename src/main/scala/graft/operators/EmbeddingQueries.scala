package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.functions.Similarity
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Embedding-space diagnostics and transforms: int8, binary and
  * product quantization, isotropy and anisotropy, intrinsic
  * dimension, centroid drift, PCA, JL distortion and
  * standardization.
  */
object EmbeddingQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("e_")

  // ---------------------------------------------------------------
  // e_quantize_int8 — per-dimension scalar quantization to 8-bit
  // codes (FAISS SQ8 shape): corpus pass computes per-dim [min,max],
  // each value maps to bucket floor((v-min)/step) clamped to 255 with
  // step=(max-min)/256, dequantized midpoint reconstruction, per-
  // vector distortion report. Per-dim stats are min/max (order-free
  // ⇒ exactly deterministic); code sums are integer; only the
  // reconstruction-error sum is a float fold, done in dim order.
  // Scale shape: stats are one partial-agg scan (dim-count groups),
  // the quantize pass is map-side against the broadcast 64-row stats
  // table — the corpus never shuffles.
  // ---------------------------------------------------------------
  val eQuantizeInt8: Q = (s, dir) =>
    quantizeInt8Of(Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e")))

  /** DataFrame-level entry (any (vec_id, e: array<double>) input) —
    * the spec surface for the constant-dimension edge. */
  def quantizeInt8Of(emb: DataFrame): DataFrame = {
    val ex = emb.select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
    val stats = ex.groupBy(col("pos"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("step", (col("hi") - col("lo")) / lit(256.0))
    ex.join(broadcast(stats), "pos")
      // a CONSTANT dimension has hi == lo, so step == 0 and
      // (v-lo)/step is 0/0 = NaN; Spark's non-ANSI NaN→long cast
      // would silently yield 0 while an ANSI engine errors — make
      // the degenerate bucket explicit: code 0, and the midpoint
      // reconstruction lo + 0.5·0 = lo = v gives err 0 naturally
      .withColumn("q", when(col("step") === 0d, lit(0L))
        .otherwise(least(lit(255L),
          floor((col("v") - col("lo")) / col("step")).cast("long"))))
      .withColumn("err",
        abs(col("v") - (col("lo") + (d(col("q")) + lit(0.5)) * col("step"))))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("q")).cast("long").as("sum_code"),
        max(col("q")).cast("long").as("max_code"),
        expr("aggregate(sort_array(collect_list(struct(pos, err))), 0D," +
          " (a, x) -> a + x.err)").as("sae"))
      .select(col("vec_id"), col("n_dims"), col("sum_code"), col("max_code"),
        round(col("sae") / d(col("n_dims")), 6).as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------
  // e_pq_codes — product quantization (Jégou et al.; FAISS PQ8x16
  // shape): the 64-dim vector splits into M=8 subspaces of 8 dims,
  // each encoded as its nearest of 16 deterministic md5-sampled
  // sub-centroids (L2, tie → smallest id) — 8 codes × 4 bits ≈ 4
  // bytes per vector, the compression an IVF-PQ index stores. The
  // argmin is a two-phase min(struct(dist, cid)) aggregate (no
  // window); distances are fixed-order zip_with folds (bit-stable).
  // Scale shape: the 128-row codebook broadcasts, the corpus maps
  // through one explode(8)+join pass and shuffles only the 8-rows-
  // per-vector argmin groups.
  // ---------------------------------------------------------------
  val ePqCodes: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .localCheckpoint(eager = false) // consumed by seeds AND the encode pass
    val subsOf = (df: DataFrame) => df.select(col("vec_id"), col("e"),
      posexplode(transform(sequence(lit(0), lit(7)),
        mm => slice(col("e"), mm * lit(8) + 1, lit(8)))).as(Seq("m", "sub")))
    val seeds = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
      .withColumn("cid", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
    val cent = subsOf(seeds.select(col("cid").cast("long").as("vec_id"), col("e")))
      .select(col("vec_id").as("cid"), col("m"), col("sub").as("ce"))
    val best = subsOf(emb)
      .join(broadcast(cent), "m")
      .withColumn("dist", expr(
        "aggregate(zip_with(sub, ce, (a, b) -> (a - b) * (a - b)), 0D," +
          " (s, v) -> s + v)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist").as("dist"), col("cid").as("cid"))).as("best"))
    best
      .groupBy(col("vec_id"))
      .agg(sum((col("m") + 1) * col("best.cid")).cast("long").as("code_sum"),
        expr("aggregate(sort_array(collect_list(struct(m, best.dist))), 0D," +
          " (a, x) -> a + x.dist)").as("sd"))
      .select(col("vec_id"), col("code_sum"),
        round(col("sd") / lit(64.0), 6).as("mse"))
      .orderBy(col("vec_id"))
  }

  // Linear-algebra and sketch extensions — the
  // event-type Markov chain's stationary distribution (bounded power
  // iteration), KMV-sketch pairwise Jaccard between sources
  // (Bar-Yossef et al. 2002; Beyer et al. 2007 for the set-operation
  // estimate), the corpus's top principal component by power
  // iteration over an integer-exact Gram matrix (the spectral
  // embedding-health probe), and a partition-skew audit (the AQE/
  // salting companion diagnostic) — public algorithms re-expressed
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // e_pca_power — the corpus's top principal component (uncentered
  // PCA / leading right-singular direction) by power iteration on
  // the 64×64 Gram matrix — the embedding-health probe (anisotropy:
  // how much variance one direction eats, cf. Mu & Viswanath 2018).
  // The Gram sums are EXACT LONGS: coordinates quantize to the 2⁻²⁰
  // grid (floor(x·2²⁰) — float→double is exact, ·2²⁰ is a power of
  // two), so Σ qᵢqⱼ is an integer sum — portable to any engine, no
  // float-accumulation order to disagree on (the q²·n magnitude
  // stays < 2⁶³ through ~10⁹ vectors; beyond that the dec38 sum
  // family applies). C = Σ/(n·2⁴⁰) divides once at the edge. The
  // iteration (12 steps from the exact start 1/√64 = 0.125,
  // normalize each step) folds j-ascending — the fixed-order
  // zip_with ≡ list_sum twin; the oracle replays it as a recursive
  // CTE. Scale shape: one 64-way posexplode + 64 map-side partial
  // sums per row group (shuffle = 64 rows × 64 cols, constant);
  // the fold runs on ONE 4096-double row, never the corpus.
  // ---------------------------------------------------------------
  val ePcaPower: Q = (s, dir) => {
    val dim = 64
    val q = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)" +
          " AS BIGINT))").as("qv"))
    val ex = q.select(col("qv"), posexplode(col("qv")).as(Seq("i0", "qi")))
    val aggExprs = (0 until dim).map(j =>
      sum(col("qi") * element_at(col("qv"), j + 1)).cast("long").as(s"s$j"))
    val sums = ex.groupBy(col("i0")).agg(aggExprs.head, aggExprs.tail: _*)
    val gram = sums
      .select(col("i0"), array((0 until dim).map(j => col(s"s$j")): _*)
        .as("sarr"))
      .agg(sort_array(collect_list(struct(col("i0"), col("sarr")))).as("rows"))
      .select(flatten(expr("transform(rows, r -> r.sarr)")).as("gflat"))
    val nVec = q.agg(count(lit(1)).as("n_vec"))
    // the matvec W(v). SQL lambdas have no let-binding, so inside the
    // iteration W is bound ONCE per step by folding over a singleton
    // array with W as the initial state — without the binding,
    // Catalyst's collapsed projections re-inline W (and, transitively,
    // the whole cm-building expression) into every element_at, which
    // turns the 12-step iteration into ~10¹² interpreted evals (the
    // bug this comment is the tombstone of)
    def matvec(v: String) =
      s"transform(sequence(1, $dim), j -> aggregate(sequence(1, $dim)," +
        s" CAST(0.0 AS DOUBLE), (a, i) -> a + element_at($v, i)" +
        s" * element_at(cm, (i - 1) * $dim + j)))"
    gram.crossJoin(broadcast(nVec))
      .withColumn("cm", expr(
        "transform(gflat, g -> CAST(g AS DOUBLE)" +
          " / (CAST(n_vec AS DOUBLE) * 1099511627776.0))"))
      // materialize the 4096-double cm row: the fold's element_at(cm)
      // must read a VALUE, not re-run the projection it collapsed into
      .localCheckpoint(eager = false)
      .withColumn("vf", expr(
        s"""aggregate(
           |  sequence(1, 12),
           |  array_repeat(CAST(0.125 AS DOUBLE), $dim),
           |  (v, it) -> aggregate(array(0), ${matvec("v")},
           |    (wv, z) -> transform(wv, x -> x / sqrt(aggregate(wv,
           |      CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)))))""".stripMargin))
      // materialize vf before wf/lam reference it (same collapse trap)
      .localCheckpoint(eager = false)
      .withColumn("wf", expr(matvec("vf")))
      .withColumn("lam", expr(
        s"aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE)," +
          s" (a, j) -> a + element_at(vf, j) * element_at(wf, j))"))
      .withColumn("trace", expr(
        s"aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE)," +
          s" (a, j) -> a + element_at(cm, (j - 1) * $dim + j))"))
      .select(col("n_vec"), col("vf"), col("lam"), col("trace"),
        posexplode(col("vf")).as(Seq("d0", "loading")))
      .select((col("d0") + 1).cast("int").as("dim"),
        round(col("loading"), 6).as("loading"),
        round(col("lam"), 6).as("eigenvalue"),
        round(col("lam") / col("trace"), 6).as("explained_ratio"),
        col("n_vec"))
      .orderBy(col("dim"))
  }

  // ---------------------------------------------------------------
  // e_standardize — per-dimension embedding standardization stats
  // (the z-score table a feature-normalization pass consumes, and
  // the marginal-variance companion to e_pca_power's spectral
  // view): per dim, mean, population std, and the dimension's share
  // of total variance. The sums are exact on the 2⁻²⁰ grid (Σq a
  // long, Σq² a DECIMAL(38,0) — same overflow policy as
  // a_welch_ttest); the variance-share denominator folds
  // dim-ascending over 64 values. One posexplode + one 64-group
  // shuffle; everything after is a one-row broadcast.
  // ---------------------------------------------------------------
  val eStandardize: Q = (s, dir) => {
    val q = Tables.table(s, dir, "embeddings")
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)" +
          " * 1048576.0) AS BIGINT))")).as(Seq("d0", "qx")))
    val per = q.groupBy((col("d0") + 1).cast("int").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).cast("long").as("s1"),
        sum((col("qx") * col("qx")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean_q", d(col("s1")) / d(col("n")))
      .withColumn("var_q",
        (d(col("s2")) - d(col("s1")) * d(col("s1")) / d(col("n")))
          / d(col("n")))
      .localCheckpoint(eager = false) // consumed by the share denominator + output
    val tot = per.agg(expr(
      "aggregate(sort_array(collect_list(struct(dim, var_q))), 0D," +
        " (a, x) -> a + x.var_q)").as("tv"))
    per.crossJoin(broadcast(tot))
      .select(col("dim"),
        round(col("mean_q") / lit(1048576.0), 6).as("mean"),
        round(sqrt(col("var_q")) / lit(1048576.0), 6).as("std"),
        round(col("var_q") / col("tv"), 6).as("var_share"))
      .orderBy(col("dim"))
  }

  // Robust outlier auditing (median/MAD on exact
  // integer micro-unit histograms), exact largest-remainder sample
  // allocation (the Hare quota rule), and 1-bit binary embedding
  // quantization with Hamming-distance retrieval + recall audit (the
  // 32×-compression ANN path next to e_quantize_int8 / e_pq_codes).
  // All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // e_binary_hamming_recall — 1-bit binary embedding quantization
  // (the 32×-compression rerank index: sign bits against the
  // per-dimension mean) + Hamming-distance top-5 retrieval for the
  // 10 standard query vectors, audited as recall@5 against the
  // exact cosine ground truth (sim_cosine_topk's contract). The
  // mean threshold is EXACT: values quantize to floor(v·2²⁰) longs,
  // and bit_d = [q_d·n > Σq_d] is an integer cross-multiplication —
  // no float mean anywhere, so the codes are bit-identical on both
  // engines. Codes pack into two longs via integer shifts
  // (dims 0–31 → lo, 32–63 → hi); distance is
  // bit_count(xor) + bit_count(xor). Scale shape: per-dim sums are
  // one partial-agg scan (64 groups); the code pass maps against
  // the broadcast 64-row stats; search scans codes once against the
  // 10 broadcast query codes (16 bytes/vector — the whole point);
  // the per-query top-5 is a 10-partition window over ≤corpus rows
  // pre-trimmed by nothing but the scan. The recall join composes
  // the deliberate brute-force baseline (PlanSpec-allowlisted).
  // ---------------------------------------------------------------
  val eBinaryHammingRecall: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val ex = emb
      .select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
      .withColumn("q", floor(col("v") * lit(1048576.0)).cast("long"))
      .localCheckpoint(eager = false) // stats pass + code pass
    val stats = ex.groupBy(col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    val codes = ex.join(broadcast(stats), "pos")
      .withColumn("bit",
        when(col("q") * col("n") > col("sq"), 1L).otherwise(0L))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("pos") < 32,
          expr("shiftleft(bit, CAST(pos AS INT))"))).as("lo"),
        sum(when(col("pos") >= 32,
          expr("shiftleft(bit, CAST(pos AS INT) - 32)"))).as("hi"))
      .localCheckpoint(eager = false) // query side + corpus side of the search
    val q = broadcast(codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("neighbor_id"))
    val top5 = q
      .join(codes.select(col("vec_id").as("neighbor_id"), col("lo"),
        col("hi")), col("neighbor_id") =!= col("query_id"))
      .withColumn("ham", expr(
        "bit_count(qlo ^ lo) + bit_count(qhi ^ hi)").cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
    val truth = Similarity.bruteForceTopK(s, dir, 10, 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    top5.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        sum(col("ham")).as("ham_sum"))
      .select(col("query_id"), col("n_hits"),
        round(d(col("n_hits")) / lit(5.0), 6).as("recall_at_5"),
        col("ham_sum"))
      .orderBy(col("query_id"))
  }

  // Intrinsic-dimension estimation (Levina &
  // Bickel 2004 MLE over k-NN distances — the manifold audit that
  // says whether 64 stored dimensions carry 64 dimensions of signal),
  // NDCG@5 ranking quality of the IVF index against the brute-force
  // truth (Järvelin & Kekäläinen 2002 — recall says WHETHER the
  // truth came back, NDCG says WHERE it landed), and per-label
  // embedding centroid drift between deterministic corpus halves
  // (the embedding-space counterpart of a_psi_drift — re-embedding /
  // upstream-model drift shows up as centroid rotation before any
  // downstream metric moves). All Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // e_intrinsic_dim — pooled Levina–Bickel MLE with k = 3 over the
  // cell-blocked k-NN graph: for each vector with a full 3-neighbor
  // list, the log distance ratios ln(T₃/T₁) + ln(T₃/T₂); pooled
  // d̂ = (k−1)·n / Σ — eq. (8)'s global average. Distances are
  // chordal on the unit sphere (√(2−2cos), exact given the
  // bit-identical dot). Scale shape: reuses the bounded k-NN edge
  // set (near-linear at fixed cell width); the per-vector pivot is
  // one 3-row group; the pooled Σ folds ln terms in src order (the
  // g_pagerank sorted-fold rule — plain sum at real scale, the
  // documented deviation class). Vectors with a zero nearest
  // distance (exact duplicates — dedup's jurisdiction) are excluded
  // from n, keeping every log finite.
  // ---------------------------------------------------------------
  val eIntrinsicDim: Q = (s, dir) => {
    val (edges, assigned) = SimilarityQueries.knnEdgesWithAssigned(s, dir)
    val withD = edges
      .join(assigned.select(col("vec_id").as("src"), col("e").as("se")), Seq("src"))
      .join(assigned.select(col("vec_id").as("dst"), col("e").as("de")), Seq("dst"))
      .withColumn("cos", Similarity.dot(col("se"), col("de")))
      .withColumn("dist", sqrt(greatest(lit(2.0) - lit(2.0) * col("cos"), lit(0.0))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("cos"), col("dst"))))
    val per = withD.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        max(when(col("rk") === 1, col("dist"))).as("t1"),
        max(when(col("rk") === 2, col("dist"))).as("t2"),
        max(when(col("rk") === 3, col("dist"))).as("t3"))
      .filter(col("cnt") === 3 && col("t1") > 0.0)
      .select(col("src"),
        (log(col("t3") / col("t1")) + log(col("t3") / col("t2"))).as("term"))
    val nVec = Tables.table(s, dir, "embeddings")
      .agg(count(lit(1)).cast("long").as("n_vectors"))
    per.agg(count(lit(1)).cast("long").as("n_used"),
        expr("aggregate(sort_array(collect_list(struct(src, term))), 0D," +
          " (a, x) -> a + x.term)").as("sum_lr"))
      .crossJoin(broadcast(nVec))
      .select(col("n_vectors"), col("n_used"),
        round(lit(2.0) * d(col("n_used")) / col("sum_lr"), 6).as("dim_mle"))
  }

  // ---------------------------------------------------------------
  // e_centroid_drift — per-label centroid rotation between the
  // deterministic even/odd vec_id halves: 1 − cos(c_even, c_odd)
  // per label, plus the half sizes. Near 0 = the halves agree on
  // where the label lives; a hot label = upstream embedding drift
  // or a label whose members split into modes. Scale shape: one
  // corpus scan explodes to (label, half, dim) partial sums
  // (map-combinable; the member fold pins vec_id order for the
  // oracle — plain avg at real scale, the sim_kmeans deviation
  // class), centroids are a labels×2×dim frame, the cosine is one
  // bounded self-join.
  // ---------------------------------------------------------------
  val eCentroidDrift: Q = (s, dir) => {
    val base = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 0).as("even"),
        posexplode(Similarity.toDoubleArr(col("embedding"))).as(Seq("pos", "v")))
    val cents = base.groupBy(col("label"), col("even"), col("pos"))
      .agg(expr("aggregate(sort_array(collect_list(struct(vec_id, v))), 0D," +
        " (a, x) -> a + x.v)").as("sv"), count(lit(1)).as("n"))
      .withColumn("m", col("sv") / d(col("n")))
      .groupBy(col("label"), col("even"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
        .as("c"), max(col("n")).cast("long").as("n_members"))
    val ev = cents.filter(col("even"))
      .select(col("label"), col("c").as("ce"), col("n_members").as("n_even"))
    val od = cents.filter(!col("even"))
      .select(col("label"), col("c").as("co"), col("n_members").as("n_odd"))
    ev.join(od, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(lit(1.0) - Similarity.dot(col("ce"), col("co")) /
          (sqrt(Similarity.dot(col("ce"), col("ce"))) *
            sqrt(Similarity.dot(col("co"), col("co")))), 6).as("drift"))
      .orderBy(col("label"))
  }

  // Partial autocorrelation via the Durbin–Levinson
  // recursion (Box & Jenkins — the AR-order diagnostic the plain ACF
  // can't give), a product-quantization subspace audit (which of the
  // 8 PQ subspaces burns the distortion budget / wastes its code
  // space), and a language-ID confusion matrix with per-class
  // precision/recall/F1 (the eval every heuristic classifier gate
  // ships with). All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // e_pq_subspace_audit — per-subspace health of the e_pq_codes
  // codebook: mean encoding distortion, number of distinct codes
  // actually used (of 16), and the hottest code's share. A subspace
  // with 3 live codes or one code absorbing half the corpus is where
  // PQ recall dies (codebook imbalance — the FAISS "dead centroid"
  // pathology), and re-training budget should go there first. Scale
  // shape: inherits e_pq_codes' broadcast-codebook encode (corpus
  // maps through one explode(8)+join pass); the audit is an 8-group
  // aggregate; distortion folds in vec_id order per subspace (plain
  // sum at real scale — the documented deviation class).
  // ---------------------------------------------------------------
  val ePqSubspaceAudit: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
      .localCheckpoint(eager = false) // consumed by seeds AND the encode pass
    val subsOf = (df: DataFrame) => df.select(col("vec_id"), col("e"),
      posexplode(transform(sequence(lit(0), lit(7)),
        mm => slice(col("e"), mm * lit(8) + 1, lit(8)))).as(Seq("m", "sub")))
    val seeds = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
      .withColumn("cid", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
    val cent = subsOf(seeds.select(col("cid").cast("long").as("vec_id"), col("e")))
      .select(col("vec_id").as("cid"), col("m"), col("sub").as("ce"))
    val best = subsOf(emb)
      .join(broadcast(cent), "m")
      .withColumn("dist", expr(
        "aggregate(zip_with(sub, ce, (a, b) -> (a - b) * (a - b)), 0D," +
          " (s, v) -> s + v)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist").as("dist"), col("cid").as("cid"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cid").as("code"),
        col("best.dist").as("dist"))
      .localCheckpoint(eager = false) // stats leg AND hot-code leg
    val stats = best.groupBy(col("m"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        countDistinct(col("code")).cast("long").as("n_codes_used"),
        expr("aggregate(sort_array(collect_list(struct(vec_id, dist))), 0D," +
          " (a, x) -> a + x.dist)").as("sd"))
    val hot = best.groupBy(col("m"), col("code"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("m"))
      .agg(max(struct(col("c").as("c"), (-col("code")).as("neg"))).as("top"))
      .select(col("m"), col("top.c").as("top_count"),
        (-col("top.neg")).cast("long").as("top_code"))
    stats.join(hot, Seq("m"))
      .select(col("m").cast("long").as("subspace"), col("n_vectors"),
        col("n_codes_used"), col("top_code"),
        round(d(col("top_count")) / d(col("n_vectors")), 6).as("top_code_share"),
        round(col("sd") / d(col("n_vectors")), 6).as("mean_dist"))
      .orderBy(col("subspace"))
  }

  // ---------------------------------------------------------------
  // e_anisotropy — expected cosine between random vector pairs:
  // E[cos(x, y)] = ‖m‖² with m = mean of the L2-normalized vectors
  // (the cross terms of the pair expectation collapse to the mean's
  // squared norm). Near 0 = directions spread; large = a common
  // direction dominates and raw cosine thresholds are inflated —
  // recalibrate or center before ANN. Reported globally and per
  // label. Scale shape: one scan explodes to (label, dim) partial
  // sums — map-combinable; the member fold pins vec_id order for
  // the oracle (plain avg at real scale, the sim_kmeans deviation
  // class); the squared norm is a bounded per-label fold.
  // ---------------------------------------------------------------
  val eAnisotropy: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.toDoubleArr(col("embedding")).as("e0"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e0"), col("e0"))))
      .select(col("vec_id"), col("label"),
        transform(col("e0"), x => x / col("nrm")).as("e"))
      .localCheckpoint(eager = false) // global leg AND per-label leg
    def meanNormSq(df: DataFrame, key: Column, keyName: String): DataFrame =
      df.select(key.as(keyName), col("vec_id"),
          posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col(keyName), col("pos"))
        .agg(expr("aggregate(sort_array(collect_list(struct(vec_id, v))), 0D," +
          " (a, x) -> a + x.v)").as("sv"), count(lit(1)).as("n"))
        .withColumn("m", col("sv") / d(col("n")))
        .groupBy(col(keyName))
        .agg(max(col("n")).cast("long").as("n_vectors"),
          expr("aggregate(sort_array(collect_list(struct(pos, m * m))), 0D," +
            " (a, x) -> a + x.col2)").as("a"))
    val global = meanNormSq(emb, lit(-1L), "label")
    val perLabel = meanNormSq(emb, col("label"), "label")
    global.unionAll(perLabel)
      .select(col("label"), col("n_vectors"), round(col("a"), 6).as("anisotropy"))
      .orderBy(col("label"))
  }

  // The participation ratio of the embedding
  // second-moment spectrum (PR = (Σλ)²/Σλ² = tr(M)²/‖M‖²_F — how
  // many dimensions the variance actually occupies, computed WITHOUT
  // an eigensolve from the exact quantized Gram), per-user circadian
  // activity fingerprints (hour-of-day entropy — the behavioral
  // complement of ev_bot_flag's rate screen), and a cross-table
  // freshness audit (per-table staleness vs the newest timestamp in
  // the warehouse — the data-quality check upstream of every daily
  // job). All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // e_participation_ratio — PR of the uncentered second-moment
  // matrix M = (1/n)ΣxxT: PR = tr(M)²/‖M‖²_F ∈ [1, dim]. Both
  // invariants come straight from the Gram — no eigensolve — and
  // the e_pca_power 2⁻²⁰ quantization makes every Gram entry an
  // EXACT integer, so trace² and the Frobenius sum are exact until
  // one final division (the scale factors cancel). PR ≈ dim means
  // isotropic spread; PR ≪ dim means a few directions carry
  // everything and aggressive compression (PQ/int8/truncation) is
  // safe. Scale shape: the Gram is one map-combining aggregate of
  // dim² integer products (corpus-linear); the PR reduction reads
  // dim² rows.
  // ---------------------------------------------------------------
  val eParticipationRatio: Q = (s, dir) => {
    val dim = 64
    val q = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)" +
          " AS BIGINT))").as("qv"))
      .localCheckpoint(eager = false) // Gram pass AND the count
    val ex = q.select(col("qv"), posexplode(col("qv")).as(Seq("i0", "qi")))
    val aggExprs = (0 until dim).map(j =>
      sum(col("qi") * element_at(col("qv"), j + 1)).cast("long").as(s"s$j"))
    val gram = ex.groupBy(col("i0")).agg(aggExprs.head, aggExprs.tail: _*)
      .select(col("i0"), posexplode(array((0 until dim).map(j =>
        col(s"s$j")): _*)).as(Seq("j0", "g")))
    val nVec = q.agg(count(lit(1)).cast("long").as("n_vectors"))
    gram.agg(
        sum(when(col("i0") === col("j0"), col("g")).otherwise(0L))
          .cast("long").as("trace"),
        // cast BEFORE the square: g itself reaches ~2^49, so g·g
        // overflows long; decimal(38,0) holds the ~2^98 products
        sum(col("g").cast("decimal(38,0)") * col("g")).as("frob"))
      .crossJoin(broadcast(nVec))
      .select(col("n_vectors"), lit(dim.toLong).as("dim"),
        round(d(col("trace")) * d(col("trace")) / d(col("frob")), 6)
          .as("participation_ratio"),
        round(d(col("trace")) * d(col("trace")) / d(col("frob")) /
          lit(dim.toDouble), 6).as("pr_share"))
  }

  // Embedding post-processing and arrival-process
  // diagnostics.
  //
  //  - e_abtt_isotropy — "All-But-The-Top" (Mu & Viswanath, ICLR
  //    2018): remove the mean and the top principal direction from
  //    the embedding corpus and measure how much anisotropy
  //    (E[cos] of random pairs = ‖mean unit vector‖²) the correction
  //    recovers — the standard cheap fix before cosine ANN when one
  //    direction dominates (cf. e_anisotropy, e_pca_power).
  //  - ev_fano_dispersion — per event type, the Fano factor of the
  //    per-minute arrival counts on the full observed span (empty
  //    minutes included WITHOUT materializing them) and the χ²
  //    dispersion z — the Poisson-or-not triage before any queueing
  //    or staffing model trusts exponential interarrivals.

  // ---------------------------------------------------------------
  // e_abtt_isotropy — the e_pca_power portability discipline end to
  // end: coordinates quantize to the 2⁻²⁰ grid, so the per-dim sums
  // M_j and Gram sums S_jk are EXACT LONGS; the centered covariance
  // C_jk = S_jk/(n·2⁴⁰) − μ_j·μ_k is one deterministic double
  // expression per entry; the 12-step power iteration folds
  // j-ascending (recursive-CTE twin in the oracle). Each vector is
  // then centered, has its PC1 component removed, is unit-
  // normalized, and the before/after anisotropy is ‖mean unit‖²
  // with the mean folding in vec_id order (the e_anisotropy float
  // policy). Scale shape: one 64-way posexplode with map-side
  // partial sums (shuffle = 64×65 constant rows), one broadcast of
  // the 64-double direction back to the corpus, one linear pass —
  // the iteration itself runs on ONE 4096-double row.
  // ---------------------------------------------------------------
  val eAbttIsotropy: Q = (s, dir) => {
    val dim = 64
    val q = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)" +
          " AS BIGINT))").as("qv"))
      .localCheckpoint(eager = false) // sums leg AND the per-vector projection leg
    val ex = q.select(col("qv"), posexplode(col("qv")).as(Seq("i0", "qi")))
    val gramExprs = (0 until dim).map(j =>
      sum(col("qi") * element_at(col("qv"), j + 1)).cast("long").as(s"s$j"))
    val sums = ex.groupBy(col("i0"))
      .agg(sum(col("qi")).cast("long").as("mrow"), gramExprs: _*)
    val flat = sums
      .select(col("i0"), col("mrow"),
        array((0 until dim).map(j => col(s"s$j")): _*).as("sarr"))
      .agg(sort_array(collect_list(struct(col("i0"), col("mrow"),
        col("sarr")))).as("rows"))
      .select(expr("transform(rows, r -> r.mrow)").as("mv"),
        flatten(expr("transform(rows, r -> r.sarr)")).as("gflat"))
    val nVec = q.agg(count(lit(1)).as("n_vec"))
    def matvec(v: String) =
      s"transform(sequence(1, $dim), j -> aggregate(sequence(1, $dim)," +
        s" CAST(0.0 AS DOUBLE), (a, i) -> a + element_at($v, i)" +
        s" * element_at(cm, (i - 1) * $dim + j)))"
    val top = flat.crossJoin(broadcast(nVec))
      .withColumn("mu", expr(
        "transform(mv, m -> CAST(m AS DOUBLE)" +
          " / (CAST(n_vec AS DOUBLE) * 1048576.0))"))
      // centered covariance from the exact integer sums; bind cm as
      // a VALUE before the fold reads it (the e_pca_power collapse
      // trap — element_at over a non-materialized projection
      // re-inlines the whole build per access)
      .withColumn("cm", expr(
        s"""transform(sequence(1, ${dim * dim}), k ->
           |  CAST(element_at(gflat, k) AS DOUBLE)
           |    / (CAST(n_vec AS DOUBLE) * 1099511627776.0)
           |  - element_at(mu, CAST(((k - 1) div $dim) + 1 AS INT))
           |    * element_at(mu, ((k - 1) % $dim) + 1))""".stripMargin))
      .localCheckpoint(eager = false)
      .withColumn("vf", expr(
        s"""aggregate(
           |  sequence(1, 12),
           |  array_repeat(CAST(0.125 AS DOUBLE), $dim),
           |  (v, it) -> aggregate(array(0), ${matvec("v")},
           |    (wv, z) -> transform(wv, x -> x / sqrt(aggregate(wv,
           |      CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)))))""".stripMargin))
      .localCheckpoint(eager = false)
      .withColumn("wf", expr(matvec("vf")))
      .withColumn("lam", expr(
        s"aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE)," +
          s" (a, j) -> a + element_at(vf, j) * element_at(wf, j))"))
      .withColumn("trace", expr(
        s"aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE)," +
          s" (a, j) -> a + element_at(cm, (j - 1) * $dim + j))"))
      .select(col("n_vec"), col("mu"), col("vf"), col("lam"), col("trace"))
    // one corpus pass: raw unit vector AND the abtt unit vector
    val units = q.crossJoin(broadcast(top))
      .withColumn("eq", expr(
        "transform(qv, x -> CAST(x AS DOUBLE) / 1048576.0)"))
      .withColumn("nr", expr("sqrt(aggregate(eq, CAST(0.0 AS DOUBLE)," +
        " (a, x) -> a + x * x))"))
      .withColumn("un_raw", expr("transform(eq, x -> x / nr)"))
      .withColumn("cv", expr(
        s"transform(sequence(1, $dim)," +
          s" j -> element_at(eq, j) - element_at(mu, j))"))
      .withColumn("t", expr(
        s"aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE)," +
          s" (a, j) -> a + element_at(cv, j) * element_at(vf, j))"))
      .withColumn("pr", expr(
        s"transform(sequence(1, $dim)," +
          s" j -> element_at(cv, j) - t * element_at(vf, j))"))
      .withColumn("na", expr("sqrt(aggregate(pr, CAST(0.0 AS DOUBLE)," +
        " (a, x) -> a + x * x))"))
      .withColumn("un_abtt", expr("transform(pr, x -> x / na)"))
      .select(col("vec_id"), col("n_vec"), col("lam"), col("trace"),
        posexplode(arrays_zip(col("un_raw"), col("un_abtt")))
          .as(Seq("pos", "u")))
    val perDim = units.groupBy(col("pos"))
      .agg(max(col("n_vec")).as("n_vec"), max(col("lam")).as("lam"),
        max(col("trace")).as("trace"),
        expr("aggregate(sort_array(collect_list(struct(vec_id," +
          " u.un_raw))), 0D, (a, x) -> a + x.un_raw)").as("sr"),
        expr("aggregate(sort_array(collect_list(struct(vec_id," +
          " u.un_abtt))), 0D, (a, x) -> a + x.un_abtt)").as("sa"))
      .withColumn("mr", col("sr") / d(col("n_vec")))
      .withColumn("ma", col("sa") / d(col("n_vec")))
    perDim
      .agg(max(col("n_vec")).cast("long").as("n_vec"),
        max(col("lam")).as("lam"), max(col("trace")).as("trace"),
        expr("aggregate(sort_array(collect_list(struct(pos, mr * mr)))," +
          " 0D, (a, x) -> a + x.col2)").as("ar"),
        expr("aggregate(sort_array(collect_list(struct(pos, ma * ma)))," +
          " 0D, (a, x) -> a + x.col2)").as("aa"))
      .select(col("n_vec"),
        round(col("ar"), 6).as("anisotropy_raw"),
        round(col("aa"), 6).as("anisotropy_abtt"),
        round(col("aa") / col("ar"), 6).as("residual_ratio"),
        round(col("lam"), 6).as("pc1_eigenvalue"),
        round(col("lam") / col("trace"), 6).as("pc1_explained"))
  }

  // ---------------------------------------------------------------
  // e_matryoshka_cka — one exact 64×64 quantized Gram G[i,j] =
  // Σ qx_i·qx_j plus component sums S[i]; every centered
  // cross-moment is then C[i,j] = G[i,j] − S[i]·S[j]/n (one double
  // expression per BOUNDED cell). Because a Matryoshka prefix IS a
  // coordinate subset, CKA(X, X[:p]) needs only sub-blocks:
  //   HSIC_xy = Σ_{i<64, j<p} C², HSIC_yy = Σ_{i,j<p} C²,
  //   CKA = HSIC_xy / √(HSIC_xx·HSIC_yy).
  // The corpus contributes ONE map-combining d²-cell integer
  // aggregate; everything downstream folds ≤4096 cells (i,j)-
  // ascending. Raw (un-normalized) embeddings — CKA is what the
  // downstream model sees before any norm convention.
  // ---------------------------------------------------------------
  private val CkaPrefixes = Seq(8, 16, 32)

  val eMatryoshkaCka: Q = (s, dir) => {
    val dim = 64
    val q = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)" +
          " AS BIGINT))").as("qv"))
      .localCheckpoint(eager = false) // Gram pass + sum pass + count share one scan
    val ex = q.select(col("qv"), posexplode(col("qv")).as(Seq("i", "qi")))
    val gramAggs = (0 until dim).map(j =>
      sum(col("qi") * element_at(col("qv"), j + 1)).cast("long").as(s"g$j"))
    val gram = ex.groupBy(col("i")).agg(gramAggs.head, gramAggs.tail: _*)
      .select(col("i"), posexplode(array((0 until dim).map(j =>
        col(s"g$j")): _*)).as(Seq("j", "g")))
    val sums = ex.groupBy(col("i"))
      .agg(sum(col("qi")).cast("long").as("s"), count(lit(1)).cast("long").as("n"))
    val si = sums.select(col("i"), col("s").as("si"), col("n"))
    val sj = sums.select(col("i").as("j"), col("s").as("sj"))
    val cent = gram.join(broadcast(si), "i").join(broadcast(sj), "j")
      .select(col("i"), col("j"), col("n"),
        (d(col("g")) - d(col("si")) * d(col("sj")) / d(col("n"))).as("c"))
      .localCheckpoint(eager = false) // one bounded 4096-cell frame, three consumers
    def hsic(maxI: Int, maxJ: Int): Column =
      expr(s"aggregate(sort_array(collect_list(CASE WHEN i < $maxI AND" +
        s" j < $maxJ THEN named_struct('i', i, 'j', j, 'cc', c * c)" +
        " ELSE NULL END)), 0D, (a, q) -> a + q.cc)")
    val aggCols: Seq[Column] =
      Seq(first(col("n")).as("n"), hsic(dim, dim).as("hxx")) ++
        CkaPrefixes.map(p => hsic(dim, p).as(s"hxy$p")) ++
        CkaPrefixes.map(p => hsic(p, p).as(s"hyy$p"))
    val folds = cent.agg(aggCols.head, aggCols.tail: _*)
    folds.select(col("n").as("n_vectors"),
        explode(array(CkaPrefixes.map(p =>
          struct(lit(p).cast("long").as("prefix_dim"),
            (col(s"hxy$p") / sqrt(col("hxx") * col(s"hyy$p"))).as("cka"))): _*))
          .as("r"))
      .select(col("n_vectors"), col("r.prefix_dim").as("prefix_dim"),
        round(col("r.cka"), 6).as("cka"))
      .orderBy(col("prefix_dim"))
  }

  // ---------------------------------------------------------------
  // e_jl_distortion — sign-projection (Achlioptas 2003) to 16 dims:
  // R[i,k] = ±1/4 by the portable md5 parity of "jl{i}:{k}", so
  // engine and oracle build the SAME matrix with no shipped seed.
  // Distortion = ‖Rx − Ry‖²/‖x − y‖² measured on the registered
  // k-NN edges (the distances a retrieval stack actually uses);
  // zero-distance duplicate edges are excluded and counted. The
  // projection is a 1024-cell broadcast; per-vector work is one
  // bounded fold per output dim; the edge audit never touches
  // non-edge pairs. ε_JL = √(8·ln n / 16) is the classic bound at
  // which THIS k would hold whp — share_within reports how much
  // tighter real data sits.
  // ---------------------------------------------------------------
  val eJlDistortion: Q = (s, dir) => {
    val dProj = 16
    val (edges, assigned) = SimilarityQueries.knnEdgesWithAssigned(s, dir)
    // R is fully deterministic (md5 parity of "jl{i}:{k}"), so build
    // it DRIVER-SIDE as one flat 1024-double literal instead of a
    // 1024-row DataFrame: the former explode → broadcast join →
    // (vec_id, k) collect_list/sort fold → (vec_id) re-collect pushed
    // ~10M structs through two ObjectHashAggregates just to evaluate
    // a fixed matrix product. Per-vector transform/aggregate folds
    // keep the EXACT same summation order (i ascending per k — what
    // sort_array(struct(i, xr)) produced), so p is bit-identical;
    // java.security MD5 and Spark's md5() agree on every input.
    val md = java.security.MessageDigest.getInstance("MD5")
    def rVal(i: Int, k: Int): Double = {
      val h = md.digest(s"jl$i:$k".getBytes("UTF-8"))
      // first hex char is the high nibble of byte 0: 0-7 → +1/4
      if (((h(0) >> 4) & 0xf) < 8) 0.25 else -0.25
    }
    val rflat = array((0 until 64).flatMap(i =>
      (0 until dProj).map(k => lit(rVal(i, k)))): _*)
    val proj = assigned
      .withColumn("__r", rflat)
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${dProj - 1}), k ->
           |  aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE),
           |    (a, i) -> a + element_at(e, i + 1)
           |      * element_at(__r, i * $dProj + k + 1)))"""
          .stripMargin.replaceAll("\n", " ")).as("pv"))
      .localCheckpoint(eager = false) // both edge ends read it
    val ea = assigned.select(col("vec_id").as("src"), col("e").as("esrc"))
    val eb = assigned.select(col("vec_id").as("dst"), col("e").as("edst"))
    val pa = proj.select(col("vec_id").as("src"), col("pv").as("psrc"))
    val pb = proj.select(col("vec_id").as("dst"), col("pv").as("pdst"))
    val ed = edges.join(ea, "src").join(eb, "dst")
      .join(pa, "src").join(pb, "dst")
      .select(col("src"), col("dst"),
        expr("aggregate(zip_with(esrc, edst, (a, b) -> (a - b) * (a - b))," +
          " 0D, (s, v) -> s + v)").as("od2"),
        expr("aggregate(zip_with(psrc, pdst, (a, b) -> (a - b) * (a - b))," +
          " 0D, (s, v) -> s + v)").as("pd2"))
      .localCheckpoint(eager = false) // the excluded count + the ratio folds
    val used = ed.filter(col("od2") > 1e-12)
      .select(col("src"), col("dst"), (col("pd2") / col("od2")).as("ratio"))
    val nTot = ed.agg(count(lit(1)).cast("long").as("n_edges"))
    val nVec = assigned.agg(count(lit(1)).cast("long").as("nv"))
    used.agg(count(lit(1)).cast("long").as("n_used"),
        min(col("ratio")).as("mn"), max(col("ratio")).as("mx"),
        expr("aggregate(sort_array(collect_list(struct(src, dst, ratio)))," +
          " 0D, (a, q) -> a + q.ratio)").as("sr"))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(nVec))
      .withColumn("eps_jl", sqrt(lit(8.0) * log(d(col("nv"))) / lit(16.0)))
      .crossJoin(broadcast(used.select(col("src"), col("dst"), col("ratio"))
        .crossJoin(broadcast(nVec))
        .filter(abs(col("ratio") - 1.0) <=
          sqrt(lit(8.0) * log(d(col("nv"))) / lit(16.0)))
        .agg(count(lit(1)).cast("long").as("n_within"))))
      .select(col("n_edges"), col("n_used"),
        (col("n_edges") - col("n_used")).cast("long").as("n_zero_excluded"),
        round(col("mn"), 6).as("min_ratio"),
        round(col("mx"), 6).as("max_ratio"),
        round(col("sr") / d(col("n_used")), 6).as("mean_ratio"),
        round(col("eps_jl"), 6).as("eps_jl"),
        round(d(col("n_within")) / d(col("n_used")), 6).as("share_within_eps"))
  }

  val queries: Map[String, Q] = Map(
    "e_quantize_int8" -> eQuantizeInt8,
    "e_pq_codes" -> ePqCodes,
    "e_pca_power" -> ePcaPower,
    "e_standardize" -> eStandardize,
    "e_binary_hamming_recall" -> eBinaryHammingRecall,
    "e_intrinsic_dim" -> eIntrinsicDim,
    "e_centroid_drift" -> eCentroidDrift,
    "e_pq_subspace_audit" -> ePqSubspaceAudit,
    "e_anisotropy" -> eAnisotropy,
    "e_participation_ratio" -> eParticipationRatio,
    "e_abtt_isotropy" -> eAbttIsotropy,
    "e_matryoshka_cka" -> eMatryoshkaCka,
    "e_jl_distortion" -> eJlDistortion)

  val oracles: Map[String, String] = Map(
    "e_pq_codes" ->
      """WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |sub AS (
        |  SELECT vec_id, m,
        |         list_transform(range(1, 9), i -> e[m * 8 + i]) AS sub
        |  FROM e0 CROSS JOIN ms),
        |seeds AS (
        |  SELECT CAST(rn AS BIGINT) AS cid, e
        |  FROM (SELECT vec_id, e,
        |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |        FROM e0)
        |  WHERE rn <= 16),
        |cent AS (
        |  SELECT cid, m, list_transform(range(1, 9), i -> e[m * 8 + i]) AS ce
        |  FROM seeds CROSS JOIN ms),
        |dist AS (
        |  SELECT s.vec_id, s.m, c.cid,
        |         list_sum(list_transform(range(1, 9),
        |           i -> (s.sub[i] - c.ce[i]) * (s.sub[i] - c.ce[i]))) AS dist
        |  FROM sub s JOIN cent c ON s.m = c.m),
        |best AS (
        |  SELECT vec_id, m, cid, dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY dist, cid) AS rk FROM dist)
        |  WHERE rk = 1)
        |SELECT vec_id, CAST(sum((m + 1) * cid) AS BIGINT) AS code_sum,
        |       round(list_sum(list(dist ORDER BY m)) / 64.0, 6) AS mse
        |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "e_quantize_int8" ->
      """WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, unnest(e) AS v,
        |         unnest(range(1, len(e) + 1)) AS pos
        |  FROM e0),
        |stats AS (
        |  SELECT pos, min(v) AS lo, max(v) AS hi,
        |         (max(v) - min(v)) / 256.0 AS step
        |  FROM ex GROUP BY pos),
        |q0 AS (
        |  SELECT ex.vec_id, ex.pos, ex.v, s.lo, s.step,
        |         CASE WHEN s.step = 0 THEN 0
        |              ELSE least(255, CAST(floor((ex.v - s.lo) / s.step) AS BIGINT))
        |         END AS q
        |  FROM ex JOIN stats s USING (pos)),
        |q AS (
        |  SELECT vec_id, pos, q,
        |         abs(v - (lo + (q + 0.5) * step)) AS err
        |  FROM q0)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
        |       CAST(sum(q) AS BIGINT) AS sum_code,
        |       CAST(max(q) AS BIGINT) AS max_code,
        |       round(list_sum(list(err ORDER BY pos)) / count(*), 6) AS mean_abs_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "e_pca_power" ->
      """WITH RECURSIVE q AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
        |           AS qv
        |  FROM embeddings),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM q),
        |g AS (
        |  SELECT ti.i AS i, tj.j AS j,
        |         CAST(sum(qv[ti.i] * qv[tj.j]) AS BIGINT) AS s
        |  FROM q, range(1, 65) ti(i), range(1, 65) tj(j)
        |  GROUP BY 1, 2),
        |cmt AS (
        |  SELECT list(CAST(s AS DOUBLE)
        |           / (CAST(nv.n_vec AS DOUBLE) * 1099511627776.0)
        |           ORDER BY i, j) AS cm
        |  FROM g CROSS JOIN nv),
        |it(stp, v) AS (
        |  SELECT 0, list_transform(range(1, 65), x -> CAST(0.125 AS DOUBLE))
        |  UNION ALL
        |  SELECT stp + 1, list_transform(w, x -> x / nrm) FROM (
        |    SELECT stp, w,
        |           sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
        |    FROM (SELECT stp,
        |            list_transform(range(1, 65),
        |              j -> list_sum(list_transform(range(1, 65),
        |                i -> v[i] * cm[(i - 1) * 64 + j]))) AS w
        |          FROM it, cmt WHERE stp < 12))),
        |vf AS (SELECT v FROM it WHERE stp = 12),
        |fin AS (
        |  SELECT v, w,
        |         list_sum(list_transform(range(1, 65), j -> v[j] * w[j]))
        |           AS lam,
        |         list_sum(list_transform(range(1, 65),
        |           j -> cm[(j - 1) * 64 + j])) AS tr
        |  FROM (SELECT v, cm,
        |          list_transform(range(1, 65),
        |            j -> list_sum(list_transform(range(1, 65),
        |              i -> v[i] * cm[(i - 1) * 64 + j]))) AS w
        |        FROM vf, cmt))
        |SELECT CAST(t.j AS INTEGER) AS dim, round(fin.v[t.j], 6) AS loading,
        |       round(fin.lam, 6) AS eigenvalue,
        |       round(fin.lam / fin.tr, 6) AS explained_ratio, nv.n_vec
        |FROM fin, range(1, 65) t(j), nv
        |ORDER BY dim""".stripMargin,
    "e_standardize" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
        |           AS qv
        |  FROM embeddings),
        |per AS (
        |  SELECT CAST(t.i AS INTEGER) AS dim,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(qv[t.i]) AS BIGINT) AS s1,
        |         sum(CAST(qv[t.i] * qv[t.i] AS DECIMAL(38,0))) AS s2
        |  FROM q, range(1, 65) t(i) GROUP BY 1),
        |vv AS (
        |  SELECT dim, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
        |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |             / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_q
        |  FROM per),
        |tv AS (SELECT list_sum(list(var_q ORDER BY dim)) AS tv FROM vv)
        |SELECT dim, round(mean_q / 1048576.0, 6) AS mean,
        |       round(sqrt(var_q) / 1048576.0, 6) AS std,
        |       round(var_q / tv.tv, 6) AS var_share
        |FROM vv CROSS JOIN tv ORDER BY dim""".stripMargin,
    "e_binary_hamming_recall" ->
      """WITH e0 AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, unnest(range(0, len(e))) AS pos,
        |         CAST(floor(unnest(e) * 1048576.0) AS BIGINT) AS q
        |  FROM e0),
        |stats AS (
        |  SELECT pos, CAST(sum(q) AS BIGINT) AS sq,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM ex GROUP BY 1),
        |bits AS (
        |  SELECT vec_id, ex.pos,
        |         CAST(CASE WHEN q * n > sq THEN 1 ELSE 0 END AS BIGINT) AS bit
        |  FROM ex JOIN stats USING (pos)),
        |codes AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN pos < 32 THEN bit << pos END)
        |           AS BIGINT) AS lo,
        |         CAST(sum(CASE WHEN pos >= 32 THEN bit << (pos - 32) END)
        |           AS BIGINT) AS hi
        |  FROM bits GROUP BY 1),
        |ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(bit_count(xor(q.lo, c.lo))
        |            + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS ham
        |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |top5 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY ham, neighbor_id) AS rk
        |    FROM ham) WHERE rk <= 5),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             list_sum(list_transform(range(1, len(q.e) + 1),
        |               i -> q.e[i] * e.e[i]))
        |             / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
        |                 i -> q.e[i] * q.e[i])))
        |                * sqrt(list_sum(list_transform(range(1, len(e.e) + 1),
        |                    i -> e.e[i] * e.e[i])))) DESC, e.vec_id) AS rk
        |    FROM e0 q, e0 e
        |    WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
        |  WHERE rk <= 5)
        |SELECT t.query_id,
        |       CAST(count(g.neighbor_id) AS BIGINT) AS n_hits,
        |       round(CAST(count(g.neighbor_id) AS DOUBLE) / 5.0, 6)
        |         AS recall_at_5,
        |       CAST(sum(t.ham) AS BIGINT) AS ham_sum
        |FROM top5 t LEFT JOIN truth g
        |  ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e_intrinsic_dim" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |wd AS (
         |  SELECT ed.src, ed.dst,
         |         sqrt(greatest(2.0 - 2.0 * ${dotSql("sa.emb", "da.emb")}, 0.0))
         |           AS dist,
         |         row_number() OVER (PARTITION BY ed.src
         |           ORDER BY ${dotSql("sa.emb", "da.emb")} DESC, ed.dst) AS rk
         |  FROM edges ed
         |  JOIN assigned sa ON sa.vec_id = ed.src
         |  JOIN assigned da ON da.vec_id = ed.dst),
         |per AS (
         |  SELECT src,
         |         ln(max(CASE WHEN rk = 3 THEN dist END)
         |           / max(CASE WHEN rk = 1 THEN dist END))
         |         + ln(max(CASE WHEN rk = 3 THEN dist END)
         |           / max(CASE WHEN rk = 2 THEN dist END)) AS term
         |  FROM wd GROUP BY src
         |  HAVING count(*) = 3 AND max(CASE WHEN rk = 1 THEN dist END) > 0.0),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_used,
         |         list_sum(list(term ORDER BY src)) AS sum_lr
         |  FROM per)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
         |       n_used,
         |       round(2.0 * n_used::DOUBLE / sum_lr, 6) AS dim_mle
         |FROM agg""".stripMargin,
    "e_centroid_drift" ->
      s"""WITH base AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         vec_id % 2 = 0 AS even,
         |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
         |         unnest(range(1, len(embedding) + 1)) AS pos
         |  FROM embeddings),
         |cd AS (
         |  SELECT label, even, pos,
         |         list_sum(list(v ORDER BY vec_id)) AS sv,
         |         count(*) AS n
         |  FROM base GROUP BY 1, 2, 3),
         |cents AS (
         |  SELECT label, even, list(sv / n ORDER BY pos) AS c,
         |         CAST(max(n) AS BIGINT) AS n_members
         |  FROM cd GROUP BY 1, 2)
         |SELECT e.label, e.n_members AS n_even, o.n_members AS n_odd,
         |       round(1.0 - ${dotSql("e.c", "o.c")}
         |         / (sqrt(${dotSql("e.c", "e.c")})
         |            * sqrt(${dotSql("o.c", "o.c")})), 6) AS drift
         |FROM (SELECT * FROM cents WHERE even) e
         |JOIN (SELECT * FROM cents WHERE NOT even) o USING (label)
         |ORDER BY e.label""".stripMargin,
    "e_pq_subspace_audit" ->
      """WITH e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |seeds AS (
        |  SELECT CAST(rn AS BIGINT) AS cid, e
        |  FROM (SELECT vec_id, e,
        |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |        FROM e0)
        |  WHERE rn <= 16),
        |cent AS (
        |  SELECT cid, mm AS m, e[mm * 8 + 1:mm * 8 + 8] AS ce
        |  FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS mm)),
        |subs AS (
        |  SELECT vec_id, mm AS m, e[mm * 8 + 1:mm * 8 + 8] AS sub
        |  FROM e0 CROSS JOIN (SELECT unnest(range(0, 8)) AS mm)),
        |best AS (
        |  SELECT vec_id, m,
        |         min({'dist': dist, 'cid': cid}) AS best
        |  FROM (
        |    SELECT s.vec_id, s.m, c.cid,
        |           list_sum(list_transform(range(1, len(s.sub) + 1),
        |             i -> (s.sub[i] - c.ce[i]) * (s.sub[i] - c.ce[i]))) AS dist
        |    FROM subs s JOIN cent c ON c.m = s.m)
        |  GROUP BY 1, 2),
        |bd AS (
        |  SELECT vec_id, m, best.cid AS code, best.dist AS dist FROM best),
        |stats AS (
        |  SELECT m, CAST(count(*) AS BIGINT) AS n_vectors,
        |         CAST(count(DISTINCT code) AS BIGINT) AS n_codes_used,
        |         list_sum(list(dist ORDER BY vec_id)) AS sd
        |  FROM bd GROUP BY 1),
        |hot AS (
        |  SELECT m, max({'c': c, 'neg': -code}) AS top
        |  FROM (SELECT m, code, CAST(count(*) AS BIGINT) AS c
        |        FROM bd GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT CAST(s.m AS BIGINT) AS subspace, s.n_vectors, s.n_codes_used,
        |       CAST(-h.top.neg AS BIGINT) AS top_code,
        |       round(h.top.c::DOUBLE / s.n_vectors::DOUBLE, 6)
        |         AS top_code_share,
        |       round(s.sd / s.n_vectors::DOUBLE, 6) AS mean_dist
        |FROM stats s JOIN hot h ON h.m = s.m
        |ORDER BY subspace""".stripMargin,
    "e_anisotropy" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_transform(emb, x -> x / sqrt(list_sum(
        |           list_transform(range(1, len(emb) + 1),
        |             i -> emb[i] * emb[i])))) AS e
        |  FROM (SELECT vec_id, label,
        |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |        FROM embeddings)),
        |ex AS (
        |  SELECT label, vec_id, unnest(e) AS v,
        |         unnest(range(1, len(e) + 1)) AS pos
        |  FROM e),
        |uni AS (
        |  SELECT CAST(-1 AS BIGINT) AS label, vec_id, v, pos FROM ex
        |  UNION ALL
        |  SELECT label, vec_id, v, pos FROM ex),
        |md AS (
        |  SELECT label, pos,
        |         list_sum(list(v ORDER BY vec_id)) / count(*) AS m,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM uni GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |       round(list_sum(list(m * m ORDER BY pos)), 6) AS anisotropy
        |FROM md GROUP BY 1 ORDER BY label""".stripMargin,
    "e_participation_ratio" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |           * 1048576.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |gram AS (
        |  SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS g
        |  FROM q
        |  CROSS JOIN unnest(range(1, 65)) AS r1(i)
        |  CROSS JOIN unnest(range(1, 65)) AS r2(j)
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT CAST(sum(CASE WHEN i = j THEN g ELSE 0 END) AS BIGINT)
        |           AS trace,
        |         sum(CAST(g AS DECIMAL(38,0)) * g) AS frob
        |  FROM gram),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM q)
        |SELECT n_vectors, CAST(64 AS BIGINT) AS dim,
        |       round(trace::DOUBLE * trace::DOUBLE / frob::DOUBLE, 6)
        |         AS participation_ratio,
        |       round(trace::DOUBLE * trace::DOUBLE / frob::DOUBLE / 64.0, 6)
        |         AS pr_share
        |FROM m CROSS JOIN n""".stripMargin,
    "e_abtt_isotropy" ->
      """WITH RECURSIVE q AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
        |           AS qv
        |  FROM embeddings),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM q),
        |ms AS (
        |  SELECT ti.i AS i, CAST(sum(qv[ti.i]) AS BIGINT) AS m
        |  FROM q, range(1, 65) ti(i) GROUP BY 1),
        |mut AS (
        |  SELECT list(CAST(m AS DOUBLE)
        |           / (CAST(nv.n_vec AS DOUBLE) * 1048576.0) ORDER BY i)
        |           AS mu
        |  FROM ms CROSS JOIN nv),
        |g AS (
        |  SELECT ti.i AS i, tj.j AS j,
        |         CAST(sum(qv[ti.i] * qv[tj.j]) AS BIGINT) AS s
        |  FROM q, range(1, 65) ti(i), range(1, 65) tj(j)
        |  GROUP BY 1, 2),
        |cmt AS (
        |  SELECT list(CAST(s AS DOUBLE)
        |           / (CAST(nv.n_vec AS DOUBLE) * 1099511627776.0)
        |           - mu[i] * mu[j]
        |           ORDER BY i, j) AS cm
        |  FROM g CROSS JOIN nv CROSS JOIN mut),
        |it(stp, v) AS (
        |  SELECT 0, list_transform(range(1, 65), x -> CAST(0.125 AS DOUBLE))
        |  UNION ALL
        |  SELECT stp + 1, list_transform(w, x -> x / nrm) FROM (
        |    SELECT stp, w,
        |           sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
        |    FROM (SELECT stp,
        |            list_transform(range(1, 65),
        |              j -> list_sum(list_transform(range(1, 65),
        |                i -> v[i] * cm[(i - 1) * 64 + j]))) AS w
        |          FROM it, cmt WHERE stp < 12))),
        |vf AS (SELECT v FROM it WHERE stp = 12),
        |fin AS (
        |  SELECT v,
        |         list_sum(list_transform(range(1, 65), j -> v[j] * w[j]))
        |           AS lam,
        |         list_sum(list_transform(range(1, 65),
        |           j -> cm[(j - 1) * 64 + j])) AS tr
        |  FROM (SELECT v, cm,
        |          list_transform(range(1, 65),
        |            j -> list_sum(list_transform(range(1, 65),
        |              i -> v[i] * cm[(i - 1) * 64 + j]))) AS w
        |        FROM vf, cmt)),
        |un AS (
        |  SELECT uq.vec_id,
        |         list_transform(eq, x -> x / nr) AS un_raw,
        |         list_transform(pr, x -> x / na) AS un_abtt
        |  FROM (
        |    SELECT vec_id, eq, nr, pr,
        |           sqrt(list_sum(list_transform(pr, x -> x * x))) AS na
        |    FROM (
        |      SELECT vec_id, eq, nr,
        |             list_transform(range(1, 65),
        |               j -> cv[j] - t * v[j]) AS pr
        |      FROM (
        |        SELECT vec_id, eq, nr, cv, v,
        |               list_sum(list_transform(range(1, 65),
        |                 j -> cv[j] * v[j])) AS t
        |        FROM (
        |          SELECT vec_id, eq,
        |                 sqrt(list_sum(list_transform(eq, x -> x * x)))
        |                   AS nr,
        |                 list_transform(range(1, 65), j -> eq[j] - mu[j])
        |                   AS cv,
        |                 v
        |          FROM (SELECT vec_id, list_transform(qv,
        |                  x -> CAST(x AS DOUBLE) / 1048576.0) AS eq
        |                FROM q), mut, vf)))) uq),
        |dimsum AS (
        |  SELECT tj.j AS pos,
        |         list_sum(list(un_raw[tj.j] ORDER BY vec_id)) AS sr,
        |         list_sum(list(un_abtt[tj.j] ORDER BY vec_id)) AS sa
        |  FROM un, range(1, 65) tj(j) GROUP BY 1),
        |anis AS (
        |  SELECT list_sum(list((sr / nv.n_vec) * (sr / nv.n_vec)
        |           ORDER BY pos)) AS ar,
        |         list_sum(list((sa / nv.n_vec) * (sa / nv.n_vec)
        |           ORDER BY pos)) AS aa
        |  FROM dimsum CROSS JOIN nv GROUP BY nv.n_vec)
        |SELECT nv.n_vec, round(anis.ar, 6) AS anisotropy_raw,
        |       round(anis.aa, 6) AS anisotropy_abtt,
        |       round(anis.aa / anis.ar, 6) AS residual_ratio,
        |       round(fin.lam, 6) AS pc1_eigenvalue,
        |       round(fin.lam / fin.tr, 6) AS pc1_explained
        |FROM anis, fin, nv""".stripMargin,
    "e_matryoshka_cka" -> {
      val prefixSql = CkaPrefixes.mkString(", ")
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |ex AS (
         |  SELECT vec_id, qv, unnest(range(0, 64)) AS i FROM q),
         |gram AS (
         |  SELECT a.i, b.j, CAST(sum(a.qi * b.qj) AS BIGINT) AS g
         |  FROM (SELECT vec_id, i, qv[i + 1] AS qi FROM ex) a
         |  JOIN (SELECT vec_id, i AS j, qv[i + 1] AS qj FROM ex) b
         |    USING (vec_id)
         |  GROUP BY a.i, b.j),
         |sums AS (
         |  SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM ex GROUP BY i),
         |cent AS (
         |  SELECT g.i, g.j, si.n,
         |         CAST(g.g AS DOUBLE)
         |           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)
         |             / CAST(si.n AS DOUBLE) AS c
         |  FROM gram g JOIN sums si ON g.i = si.i
         |              JOIN sums sj ON g.j = sj.i),
         |hx AS (
         |  SELECT any_value(n) AS n,
         |         list_sum(list(c * c ORDER BY i, j)) AS hxx
         |  FROM cent),
         |pr AS (SELECT unnest([$prefixSql]) AS p),
         |hp AS (
         |  SELECT pr.p,
         |         list_sum(list(cent.c * cent.c ORDER BY cent.i, cent.j)
         |           FILTER (WHERE cent.j < pr.p)) AS hxy,
         |         list_sum(list(cent.c * cent.c ORDER BY cent.i, cent.j)
         |           FILTER (WHERE cent.i < pr.p AND cent.j < pr.p)) AS hyy
         |  FROM cent CROSS JOIN pr GROUP BY pr.p)
         |SELECT hx.n AS n_vectors, CAST(hp.p AS BIGINT) AS prefix_dim,
         |       round(hp.hxy / sqrt(hx.hxx * hp.hyy), 6) AS cka
         |FROM hp CROSS JOIN hx
         |ORDER BY prefix_dim""".stripMargin
    },
    "e_jl_distortion" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |rmat AS (
         |  SELECT i, k,
         |         CASE WHEN substr(md5('jl' || i || ':' || k), 1, 1)
         |           IN ('0','1','2','3','4','5','6','7')
         |           THEN 0.25 ELSE -0.25 END AS r
         |  FROM (SELECT unnest(range(0, 64)) AS i)
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS k)),
         |vx AS (
         |  SELECT vec_id, emb, unnest(range(0, 64)) AS i FROM e),
         |proj AS (
         |  SELECT vec_id, list(p ORDER BY k) AS pv
         |  FROM (
         |    SELECT vx.vec_id, r.k,
         |           list_sum(list(vx.emb[vx.i + 1] * r.r ORDER BY vx.i)) AS p
         |    FROM vx JOIN rmat r ON vx.i = r.i
         |    GROUP BY vx.vec_id, r.k)
         |  GROUP BY vec_id),
         |ed AS (
         |  SELECT eg.src, eg.dst,
         |         list_sum(list_transform(range(1, len(ea.emb) + 1),
         |           i -> (ea.emb[i] - eb.emb[i]) * (ea.emb[i] - eb.emb[i])))
         |           AS od2,
         |         list_sum(list_transform(range(1, len(pa.pv) + 1),
         |           i -> (pa.pv[i] - pb.pv[i]) * (pa.pv[i] - pb.pv[i])))
         |           AS pd2
         |  FROM edges eg JOIN e ea ON eg.src = ea.vec_id
         |                JOIN e eb ON eg.dst = eb.vec_id
         |                JOIN proj pa ON eg.src = pa.vec_id
         |                JOIN proj pb ON eg.dst = pb.vec_id),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM e),
         |used AS (
         |  SELECT src, dst, pd2 / od2 AS ratio FROM ed
         |  WHERE od2 > 0.000000000001),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed),
         |wi AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_within
         |  FROM used CROSS JOIN nv
         |  WHERE abs(ratio - 1.0) <= sqrt(8.0 * ln(CAST(nv AS DOUBLE))
         |    / 16.0))
         |SELECT t.n_edges, CAST(count(*) AS BIGINT) AS n_used,
         |       CAST(t.n_edges - count(*) AS BIGINT) AS n_zero_excluded,
         |       round(min(u.ratio), 6) AS min_ratio,
         |       round(max(u.ratio), 6) AS max_ratio,
         |       round(list_sum(list(u.ratio ORDER BY u.src, u.dst))
         |         / CAST(count(*) AS DOUBLE), 6) AS mean_ratio,
         |       round(sqrt(8.0 * ln(CAST(n.nv AS DOUBLE)) / 16.0), 6)
         |         AS eps_jl,
         |       round(CAST(w.n_within AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE), 6) AS share_within_eps
         |FROM used u CROSS JOIN tot t CROSS JOIN nv n CROSS JOIN wi w
         |GROUP BY t.n_edges, n.nv, w.n_within""".stripMargin)
}
