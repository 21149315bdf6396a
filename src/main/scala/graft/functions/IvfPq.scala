package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Barrier, Grain}

/** IVF-PQ index build/search split out of the registered
  * sim_ivf_pq_search operator (SimilarityQueries) so the SAME dataflow
  * serves both the in-query form and the persisted
  * build-once/search-many path (sources.AnnIndex): a real deployment
  * never rebuilds codebooks per query — it stores coarse centroids +
  * sub-codebook + codes and reads them at search time. The build is
  * deterministic (md5-ranked seed vectors; FAISS IVFPQ shape, Jégou
  * et al. 2011), so the driver's DuckDB oracle replays it
  * end-to-end, and the persisted round-trip is differentially pinned
  * equal to the in-query operator (AnnIndexSpec).
  */
object IvfPq {

  /** The three tables a persisted IVF-PQ index stores. */
  final case class PqIndex(coarse: DataFrame, subCode: DataFrame,
    codes: DataFrame)

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, v) => acc + v)

  private def subOf(c: Column, mm: Column, m8: Int): Column =
    slice(c, mm * lit(m8) + 1, lit(m8))

  /** Coarse quantizer = first `nCells` corpus vectors in md5 order;
    * PQ sub-codebook = the NEXT `nCells` vectors' cell residuals
    * split into `m8` subspaces; every vector stores (cell, m8
    * sub-codes). Both codebooks are tiny at any corpus size; the
    * encode pass is one broadcast argmin map over the corpus. */
  def build(emb: DataFrame, nCells: Int, m8: Int): PqIndex = {
    val ranked = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(2 * nCells)
      .withColumn("rn", row_number().over(
        Grain.bounded(md5(col("vec_id").cast("string")), col("vec_id"))))
    val coarse = ranked.filter(col("rn") <= nCells)
      .select(col("rn").cast("long").as("cid"), col("e").as("ce"))
    val assigned = assignResidual(coarse, emb).transform(Barrier.materialize)
    val subCode = ranked.filter(col("rn") > nCells)
      .select((col("rn") - nCells).cast("long").as("scid"), col("vec_id"))
      .join(assigned, "vec_id")
      .select(col("scid"), posexplode(transform(sequence(lit(0), lit(m8 - 1)),
        mm => subOf(col("r"), mm, m8))).as(Seq("m", "sc")))
    // encode map-side against the COLLECTED sub-codebook (bounded:
    // m8 × nCells rows): per subspace, argmin = array_min of literal
    // struct(sd, scid) candidates — the exact min(struct) rule the
    // former posexplode → ×nCells broadcast join → re-aggregate
    // evaluated over an n×(m8·nCells) frame
    val scByM: Map[Int, Seq[(Long, Seq[Double])]] = subCode
      .select(col("m"), col("scid"), col("sc")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).map { case (m, xs) =>
        m -> xs.toSeq.map(x => (x._2, x._3)).sortBy(_._1) }
    // degenerate corpus: too few vectors to seed a sub-codebook — the
    // former broadcast-join encode degraded to an empty codes frame
    val codes =
      if (scByM.isEmpty)
        assigned.limit(0).select(col("vec_id"), col("cell"),
          lit(0).as("m"), lit(0L).as("code"))
      else {
        // coverage is all-or-nothing: subCode posexplodes every one of
        // the m8 subspaces per seed vector, so a non-empty scByM holds
        // every mm (an empty candidate list would not even analyze)
        val codeArr = array((0 until m8).map { mm =>
          val cands = scByM(mm).map { case (scid, sc) =>
            struct(l2(subOf(col("r"), lit(mm), m8), array(sc.map(lit): _*))
              .as("sd"), lit(scid).as("scid"))
          }
          array_min(array(cands: _*)).getField("scid")
        }: _*)
        assigned.select(col("vec_id"), col("cell"),
          posexplode(codeArr).as(Seq("m", "code")))
      }
    PqIndex(coarse, subCode, codes)
  }

  /** (cid-sorted) collected coarse codebook + its literal forms. */
  private def coarseLits(coarse: DataFrame)
      : (Seq[Column], Column) = {
    val cs = coarse.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      .sortBy(_._1)
    val scored = cs.map { case (cid, ce) =>
      struct(l2(col("e"), array(ce.map(lit): _*)).as("d"),
        lit(cid).as("cid"))
    }
    // cids are dense 1..nCells by construction (rn ranks), so the
    // residual lookup indexes the literal array-of-centroids directly
    val ceArr = array(cs.map { case (_, ce) => array(ce.map(lit): _*) }: _*)
    (scored, ceArr)
  }

  /** Corpus → (cell, residual): argmin L2 over the COLLECTED coarse
    * codebook (ties → smaller cell id) — map-side literal argmin,
    * same (dist asc, cid asc) rule as the former n×nCells crossJoin
    * + per-vector window, with identical L2 fold order. */
  private def assignResidual(coarse: DataFrame, src: DataFrame): DataFrame = {
    val (scored, ceArr) = coarseLits(coarse)
    src.withColumn("__b", array_min(array(scored: _*)))
      .select(col("vec_id"), col("__b.cid").as("cell"),
        zip_with(col("e"),
          element_at(ceArr, col("__b.cid").cast("int")),
          (a, b) => a - b).as("r"))
  }

  /** ADC search over a built (or read-back) index: queries probe
    * their `nProbe` nearest cells, build the per-cell 8×16 LUT from
    * their residuals, and candidate distance is the m-sorted fold of
    * `m8` table entries — no candidate vector is read at search
    * time. `queries` is (vec_id, e). Output matches
    * sim_ivf_pq_search. */
  def search(idx: PqIndex, queries: DataFrame, m8: Int, nProbe: Int,
      k: Int): DataFrame = {
    // same literal-codebook routing as the build side: ascending
    // (dist, cid) prefix of nProbe == the former row_number <= nProbe
    val (scored, ceArr) = coarseLits(idx.coarse)
    // empty index (degenerate corpus): the former broadcast-join
    // search returned an empty frame — match that, don't throw on
    // the unresolvable zero-arm literal array
    if (scored.isEmpty)
      return queries.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("approx_dist"),
        lit(1).as("rk"))
    val probes = queries
      .withColumn("__p", explode(slice(array_sort(array(scored: _*)),
        1, nProbe)))
      .select(col("vec_id").as("query_id"), col("__p.cid").as("cell"),
        zip_with(col("e"),
          element_at(ceArr, col("__p.cid").cast("int")),
          (a, b) => a - b).as("qr"))
    val lut = probes
      .select(col("query_id"), col("cell"),
        posexplode(transform(sequence(lit(0), lit(m8 - 1)),
          mm => subOf(col("qr"), mm, m8))).as(Seq("m", "qsub")))
      .join(broadcast(idx.subCode), "m")
      .select(col("query_id"), col("cell"), col("m"), col("scid"),
        l2(col("qsub"), col("sc")).as("lutd"))
    val lutR = lut.select(col("query_id"), col("cell").as("lcell"),
      col("m").as("lm"), col("scid"), col("lutd"))
    val dists = idx.codes
      .join(broadcast(lutR), col("cell") === col("lcell") &&
        col("m") === col("lm") && col("code") === col("scid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(expr("aggregate(sort_array(collect_list(struct(m, lutd))), 0D," +
        " (a, x) -> a + x.lutd)").as("adist"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
    Similarity.topKPerQuery(dists, k, col("adist"), col("neighbor_id"))(
      col("query_id"), col("neighbor_id"), round(col("adist"), 6).as("approx_dist"),
      col("rk"))
  }
}
