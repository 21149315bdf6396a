package graft

import org.apache.spark.graftbridge.JobCounter
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

  test("ivf top-k recall vs brute force") {
    val exact = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.ivfTopK(spark, sf, nQueries = 10, k = 5,
        nCells = 8, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.get(q).map(a => (a & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean IVF recall@5 too low: $mean")
  }
}
