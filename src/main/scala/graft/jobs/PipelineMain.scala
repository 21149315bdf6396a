package graft.jobs

import java.sql.Timestamp

import graft.LocalSpark
import graft.enrich.MockEnricher
import graft.model.Schemas

/** Operational entry point: run the full medallion pipeline
  * (CSV raw dir → bronze → silver → gold) exactly as the reference's
  * two DAGs + dbt run would, in one idempotent invocation.
  *
  *   sbt "runMain graft.jobs.PipelineMain <rawCsvDir> <workDir>"
  *
  * Uses the deterministic MockEnricher (the real enricher is any
  * [[graft.enrich.Enricher]] implementation). Runs on
  * [[graft.LocalSpark]]'s session; `SPARK_MASTER` overrides its
  * master.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(rawDir, workDir) = args.take(2)
    val spark = LocalSpark.session("WARN", sys.env.get("SPARK_MASTER"))

    val ingested = IngestJob.run(spark, rawDir, s"$workDir/bronze")
    val enriched = EnrichJob.run(spark, s"$workDir/bronze",
      s"$workDir/silver", MockEnricher,
      new Timestamp(System.currentTimeMillis()))
    val silver = spark.read.schema(Schemas.enriched).parquet(s"$workDir/silver")
    GoldJob.run(silver, s"$workDir/gold")
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val v = Reports.validate(silver, today)
    val s = Reports.summary(
      spark.read.schema(Schemas.raw).parquet(s"$workDir/bronze"), silver, today)
    println(s"ingested=$ingested enriched=$enriched " +
      s"validation=$v summary=$s")
    spark.stop()
  }
}
