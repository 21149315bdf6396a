package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.{Enrich, Enricher}
import graft.model.{RawHeadline, Schemas}
import graft.sources.Tables

/** Silver enrichment (reference entry point B, SURVEY §3.2):
  * anti-join pending detection → optional batch limit → enrich →
  * idempotent append (reference: scripts/llm_enricher.py:92-115,
  * 285-309; dags/g1_enrichement_dag.py:80-108).
  *
  * The reference's `INSERT .. ON CONFLICT (raw_link) DO NOTHING` has
  * no row-level analog on files, so idempotence = left_anti join
  * against the sink's CURRENT keys, then append (first-wins,
  * SURVEY §2.12). Scale notes:
  *  - the anti-join probes only a keys projection of silver
  *    (column-pruned parquet scan); the pending side is a small
  *    daily batch, so AQE broadcast-hashes the anti-join;
  *  - enrichment runs on executors via mapPartitions — parallelism
  *    is the partition count, replacing the reference's serial
  *    50-row batches.
  */
object EnrichJob {
  /** J1: bronze rows not yet in silver (left anti on link=raw_link). */
  def pending(bronze: DataFrame, silver: DataFrame): DataFrame =
    bronze.join(silver.select(col("raw_link")),
      bronze("link") === col("raw_link"), "left_anti")

  private def readSilver(spark: SparkSession, path: String): DataFrame =
    if (Tables.exists(spark, path)) spark.read.schema(Schemas.enriched).parquet(path)
    else spark.createDataFrame( // first run
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.enriched)

  /** Returns number of newly enriched rows appended. Re-running with
    * the same bronze is a no-op (idempotence property, SURVEY §5).
    */
  def run(spark: SparkSession, bronzePath: String, silverPath: String,
      enricher: Enricher, now: Timestamp,
      batchLimit: Option[Int] = None): Long = {
    import spark.implicits._
    val bronze = spark.read.schema(Schemas.raw).parquet(bronzePath)
    val silver = readSilver(spark, silverPath)

    val todo = {
      // in-batch key dedup mirrors the unique index on raw_link
      val p = pending(bronze, silver).dropDuplicates("link")
      batchLimit.fold(p)(p.limit)  // reference batches 50 (llm_enricher.py:400-424)
    }
    val enriched = Enrich.enrichBatch(spark, todo.as[RawHeadline], enricher, now)
    // write-side conflict-skip (S6): guards keys that landed in the
    // sink after the pending scan, mirroring ON CONFLICT DO NOTHING.
    // It is also the Q1 pending-count gate (dag:80-108): an empty
    // batch counts 0 and writes nothing.
    graft.sources.Sinks.appendDedup(enriched.toDF(), silverPath, "raw_link")
  }
}
