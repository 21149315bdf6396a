package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant pins for the round-9 batch-40 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData45Spec extends SparkTestBase {

  test("normalized dedup: catches a planted re-encoded duplicate") {
    import spark.implicits._
    val base = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // plant: an uppercased, re-punctuated copy of doc 0 under a new id
    val donor = base.orderBy(col("doc_id")).limit(1).collect().head
    val planted = Seq((donor.getLong(0) + 1000000L,
      donor.getString(1).toUpperCase + "!!")).toDF("doc_id", "text")
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " +", " "))
    val groups = base.unionByName(planted)
      .select(col("doc_id"), md5(canon).as("ckey"))
      .groupBy(col("ckey"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("survivor"))
      .filter(col("n") > 1).collect()
    assert(groups.exists(r => r.getAs[Long]("survivor") == donor.getLong(0)))
    // the registered query itself runs clean
    val out = SparkEntry.queries("dedup_normalized")(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 2)
      assert(r.getAs[Long]("survivor") <= r.getAs[Long]("max_member"))
    }
  }

  test("anisotropy: bounded by 1, global row present, label masses") {
    val out = SparkEntry.queries("e_anisotropy")(spark, sf).collect()
    assert(out.nonEmpty)
    val global = out.filter(_.getAs[Long]("label") == -1L)
    assert(global.length == 1)
    val nVec = graft.sources.Tables.table(spark, sf, "embeddings").count()
    assert(global.head.getAs[Long]("n_vectors") == nVec)
    assert(out.filterNot(_.getAs[Long]("label") == -1L)
      .map(_.getAs[Long]("n_vectors")).sum == nVec)
    out.foreach { r =>
      val a = r.getAs[Double]("anisotropy")
      // ‖mean of unit vectors‖² ∈ [0, 1]
      assert(a >= 0.0 && a <= 1.0 + 1e-9)
    }
    // per-label common direction is at least as strong as global
    val g = global.head.getAs[Double]("anisotropy")
    assert(out.filterNot(_.getAs[Long]("label") == -1L)
      .forall(_.getAs[Double]("anisotropy") >= g - 0.5)) // loose sanity
  }

  test("dup quality bias: masses partition the corpus, t replays") {
    val out = SparkEntry.queries("t_dup_quality_bias")(spark, sf).collect()
    val nPairsDocs = Dedup.minhashLshPairs(spark, sf, portableHashes = true)
      .select(explode(array(col("d1"), col("d2"))).as("d")).distinct().count()
    val nDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    if (nPairsDocs == 0 || nPairsDocs == nDocs) {
      // degenerate corpus (no near-dups, or everything near-dup):
      // the two-group contrast is empty — nothing to pin
      assert(out.isEmpty)
    } else {
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Long]("n_dup") == nPairsDocs)
      assert(r.getAs[Long]("n_dup") + r.getAs[Long]("n_single") == nDocs)
      assert(r.getAs[Double]("mean_quality_dup") >= 0.0 &&
        r.getAs[Double]("mean_quality_dup") <= 1.0)
      assert(r.getAs[Double]("mean_quality_single") >= 0.0 &&
        r.getAs[Double]("mean_quality_single") <= 1.0)
      assert(!r.getAs[Double]("welch_t").isNaN)
    }
  }
}
