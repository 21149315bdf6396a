package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the round-9 batch-21 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData26Spec extends SparkTestBase {

  test("prefix sharing: savings accounting and a planted shared prefix") {
    val out = SparkEntry.queries("t_prefix_sharing")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_prefix_groups") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_docs_sharing") != 1L,
        "a sharing group has at least two members")
      assert(r.getAs[Double]("savings_rate") >= 0.0 &&
        r.getAs[Double]("savings_rate") < 1.0)
      // savings bounded by 8 tokens per sharing doc beyond the first
      assert(r.getAs[Long]("saved_tokens") <=
        8L * math.max(0L, r.getAs[Long]("n_docs_sharing") - 1L) *
          r.getAs[Long]("n_prefix_groups"))
    }
    // same dataflow over a tiny frame with one shared 8-token prefix
    import spark.implicits._
    val docs = Seq(
      ("en", "a b c d e f g h tail1"),
      ("en", "a b c d e f g h tail2 tail3"),
      ("en", "x y z distinct prefix doc here now")).toDF("lang", "text")
    val toks = split(col("text"), "\\s+")
    val g = docs.select(col("lang"), size(toks).cast("long").as("n_toks"),
        array_join(slice(toks, 1, 8), " ").as("prefix"),
        least(size(toks).cast("long"), lit(8L)).as("plen"))
      .groupBy(col("lang"), col("prefix"), col("plen"))
      .agg(count(lit(1)).as("g"))
      .agg(sum(when(col("g") > 1, (col("g") - 1) * col("plen"))
        .otherwise(0L)).as("saved"))
      .collect().head
    assert(g.getAs[Long]("saved") == 8L, "one extra doc shares 8 tokens")
  }

  test("hash uniformity: chi2 replay and uniform verdict on md5 routing") {
    val r = SparkEntry.queries("o_hash_uniformity")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_buckets") == 64L)
    assert(row.getAs[Long]("min_bucket") >= 1L)
    // driver chi2 replay
    val md = java.security.MessageDigest.getInstance("MD5")
    val ids = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val counts = Array.fill(64)(0L)
    ids.foreach { id =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15)
      counts((java.lang.Long.parseLong(hex, 16) % 64).toInt) += 1
    }
    val n = ids.length.toLong
    val chi2 = counts.map(o => { val z = 64.0 * o - n; z * z }).sum / (64.0 * n)
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-4)
    assert(row.getAs[Boolean]("uniform") == (chi2 <= 92.01))
    assert(row.getAs[Boolean]("uniform"),
      "md5 routing must not trip the SRM alarm on the test corpus")
  }

  test("interarrival: gap moments match a driver replay per event type") {
    val out = SparkEntry.queries("ev_interarrival")(spark, sf).collect()
    assert(out.map(_.getAs[String]("event_type")).length >= 3)
    val events = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = events.groupBy(_._1)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val sorted = byType(t).sortBy(e => (e._2, e._3)).map(_._2)
      val gaps = sorted.sliding(2).map { case Array(a, b) =>
        (b - a) / 1000000L }.toArray
      assert(r.getAs[Long]("n_gaps") == gaps.length.toLong)
      val sg = gaps.sum
      assert(r.getAs[Double]("mean_gap_s") ==
        (sg * 1000000L / gaps.length) / 1e6)
      val sgg = gaps.map(g => g * g).sum
      val cv = math.sqrt((gaps.length.toLong * sgg - sg * sg).toDouble) / sg
      assert(math.abs(r.getAs[Double]("cv") - cv) < 1e-4)
      assert(cv > 0.0)
    }
  }
}
