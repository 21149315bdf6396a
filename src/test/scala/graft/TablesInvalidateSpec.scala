package graft

import org.apache.spark.sql.functions._

import graft.jobs.GoldJob
import graft.sources.Tables

/** `Tables.invalidate` is the memo's recovery path after testdata is
  * rewritten in place: until it is called, a memoized table keeps the
  * plan, and so the schema, it was first read with. */
class TablesInvalidateSpec extends SparkTestBase {
  test("invalidate serves a table rewritten in place and drops memoized silver grains") {
    val dir = tmpDir()
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    val first = Tables.table(spark, dir, "t")
    spark.range(3).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema == first.schema, "the memo re-read the table")

    val silver = s"$dir/silver"
    spark.range(2).select(current_timestamp().as("processed_at")).write.parquet(silver)
    GoldJob.silverGrain(spark.read.parquet(silver))
    def grains = Tables.entries.count(_._2 == GoldJob.GrainKey)
    assert(grains > 0)

    Tables.invalidate()
    assert(grains == 0, "invalidate left a silver grain memoized")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("b", "c"))
  }
}
