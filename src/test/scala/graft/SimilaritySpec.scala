package graft

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.sources.Tables

/** ANN verification: brute-force cosine is the exact baseline; the
  * sign-LSH variant must (a) only return true neighbors ranked by
  * true cosine and (b) achieve nontrivial recall@5 on the labeled
  * clustered embeddings.
  */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("brute force returns k neighbors per query, ordered by cosine") {
    val res = Similarity.bruteForceTopK(spark, sf, nQueries = 5, k = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(res.length == 15)
    res.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "cosine non-increasing in rank")
    }
  }

  test("top-k sorted in one partition equals the range-sorted form row for row") {
    // the former bruteForceTopK: rank, filter, then a global orderBy
    val emb = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val q = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe")))
    val ranged = q.join(emb.select(col("vec_id").as("neighbor_id"), col("e")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
    val got = Similarity.bruteForceTopK(spark, sf, 10, 5)
    assert(got.schema == ranged.schema)
    assert(got.collect().toSeq == ranged.collect().toSeq)
  }

  test("sim_cosine_topk job budget: the answer is sorted without a range exchange") {
    // build + collect, as a registry caller runs it, after a first run
    // has read the table; the budget is the count measured here (a
    // global orderBy adds a sampling job and a shuffle)
    val query = SparkEntry.queries("sim_cosine_topk")
    query(spark, sf).collect()
    val (rows, jobs) = JobCounter(spark)(query(spark, sf).collect())
    assert(rows.length == 50)
    assert(jobs <= 3, s"sim_cosine_topk ran $jobs Spark jobs")
  }

  test("sim_kmeans job budget: the centroid update is one aggregate") {
    // measured as the sim_cosine_topk budget; an update that explodes
    // every vector into (cid, pos) rows and aggregates twice runs more
    val query = SparkEntry.queries("sim_kmeans")
    query(spark, sf).collect()
    val (rows, jobs) = JobCounter(spark)(query(spark, sf).collect())
    assert(rows.nonEmpty)
    assert(jobs <= 6, s"sim_kmeans ran $jobs Spark jobs")
  }

  test("k-means update as one aggregate equals the per-(cid, pos) fold bit for bit") {
    import graft.operators.SimilarityQueries.kmeansUpdate
    // the per-dimension form: every vector exploded to (cid, pos) rows,
    // each folded in vec_id order, divided, then gathered by pos
    def perPosition(a: DataFrame) =
      a.select(col("cid"), col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(expr("aggregate(sort_array(collect_list(struct(vec_id, v))), 0D," +
          " (a, x) -> a + x.v)").as("sv"), count(lit(1)).as("n"))
        .withColumn("m", col("sv") / col("n").cast("double"))
        .groupBy(col("cid"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
          .as("ce"))
    def bits(df: DataFrame) =
      df.select("cid", "ce").as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
        .map { case (c, ce) => (c, ce.map(java.lang.Double.doubleToRawLongBits)) }
    val emb = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e"))
    val first = emb.agg(min(col("vec_id"))).head().getLong(0)
    // three large clusters and a one-member cluster
    val a = emb.withColumn("cid",
      when(col("vec_id") === first, lit(99L)).otherwise(col("vec_id") % 3))
    val want = bits(perPosition(a))
    assert(want.size == 4 && want.exists(_._1 == 99L))
    assert(bits(kmeansUpdate(a)) == want)
    assert(kmeansUpdate(a.filter(lit(false))).collect().isEmpty)
  }

  test("lsh top-k recall vs brute force") {
    val exact = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.lshTopK(spark, sf, nQueries = 10, k = 5, nPlanes = 4)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.get(q).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean recall@5 too low: $mean")
  }
}
