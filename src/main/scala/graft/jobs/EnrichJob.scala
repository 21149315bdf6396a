package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.{Enrich, Enricher}
import graft.model.Schemas

/** Silver enrichment (reference entry point B, SURVEY §3.2):
  * anti-join pending detection → optional batch limit → enrich →
  * idempotent append (reference: scripts/llm_enricher.py:92-115,
  * 285-309; dags/g1_enrichement_dag.py:80-108), all in
  * [[graft.enrich.Enrich.appendFresh]].
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
  *
  * SINGLE-WRITER contract (as for the reference's one Airflow task
  * per sink table): the key probe runs once, before classification,
  * and the append follows it without a second check. Probe-then-append
  * is not atomic — it never was, with a second probe at the write
  * either — so a concurrent writer landing the same keys in between
  * produces duplicate `raw_link`s. Run one enrichment writer (this job
  * or [[graft.streaming.EnrichStream]]) per silver path.
  */
object EnrichJob {
  /** J1: bronze rows not yet in silver (left anti on link=raw_link). */
  def pending(bronze: DataFrame, silver: DataFrame): DataFrame =
    bronze.join(silver.select(col("raw_link")),
      bronze("link") === col("raw_link"), "left_anti")

  /** Returns number of newly enriched rows appended. Re-running with
    * the same bronze is a no-op (idempotence property, SURVEY §5).
    */
  def run(spark: SparkSession, bronzePath: String, silverPath: String,
      enricher: Enricher, now: Timestamp,
      batchLimit: Option[Int] = None): Long =
    Enrich.appendFresh(spark.read.schema(Schemas.raw).parquet(bronzePath),
      silverPath, enricher, now, batchLimit)
}
