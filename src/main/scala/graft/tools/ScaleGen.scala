package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** sf1-equivalent corpus generator: a COPIES× key-shifted union of
  * the sf0.1 tables, written to /tmp, so the full bench can be
  * scale-probed without write access to /root/testdata.
  *
  * Key shifts keep FK joins consistent (each copy is a disjoint
  * parallel universe: custkey/orderkey/partkey/suppkey all shift
  * together), so per-query work scales like real data growth rather
  * than degenerating into a giant self-join. region/nation stay
  * fixed (dimensions). Documents get a per-copy salt token appended
  * and embeddings a per-copy component nudge: without them the
  * near-dup operators would collapse the copies in their
  * identical-set pre-stage and measure nothing, with them every
  * copy is distinct work (some copy-pairs legitimately land inside
  * near-dup thresholds — that is what duplicated data looks like).
  *
  * Usage: SPARK_GRAFT_SCALE_COPIES=10 sbt "runMain graft.tools.ScaleGen"
  *        → /tmp/graft_sfN/{table}.parquet
  * SPARK_GRAFT_CPUS sizes local parallelism and shuffle partitions,
  * as in Bench.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      s"/tmp/graft_sf${copies}x")
    val K = 100000000L // key shift per copy — far above any base key

    def scaled(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.sources.Tables.table(spark, src, name)
      (0 until copies).map(c => shift(base, c)).reduce(_.unionAll(_))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"SCALEGEN $name x$copies done")
    }
    def bump(cols: String*)(df: DataFrame, c: Int): DataFrame =
      cols.foldLeft(df)((d, cn) => d.withColumn(cn, col(cn) + lit(c * K)))

    for (n <- Seq("region", "nation"))
      graft.sources.Tables.table(spark, src, n)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    scaled("customer")(bump("c_custkey"))
    scaled("supplier")(bump("s_suppkey"))
    scaled("part")(bump("p_partkey"))
    scaled("orders")(bump("o_orderkey", "o_custkey"))
    scaled("lineitem")(bump("l_orderkey", "l_partkey", "l_suppkey"))
    // shift entity ids, keep event time (denser days = scale)
    scaled("events")(bump("event_id", "user_id"))
    scaled("documents") { (df, c) =>
      bump("doc_id")(df, c)
        .withColumn("text", concat(col("text"), lit(s" salt$c")))
        .withColumn("n_chars",
          col("n_chars") + lit(s" salt$c".length.toLong))
    }
    scaled("embeddings") { (df, c) =>
      bump("vec_id")(df, c)
        .withColumn("embedding",
          transform(col("embedding"),
            x => x + lit(c * 1.0e-3f) * signum(x + lit(0.1f))))
    }
    println(s"SCALEGEN corpus at $out")
    spark.stop()
  }
}
