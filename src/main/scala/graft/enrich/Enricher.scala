package graft.enrich

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Domains, EnrichedHeadline, RawHeadline, Schemas}
import graft.sources.Tables

/** Enrichment boundary — the reference's only "UDF" is a per-row
  * LLM call (reference: scripts/llm_enricher.py:148-211). It is
  * side-effecting, non-deterministic and I/O-bound, so it is NOT a
  * Catalyst `Expression`: it runs as `mapPartitions` with one client
  * per partition (the Spark analog of the reference's single client
  * + 50-row serial batches; partition parallelism replaces batching).
  *
  * At 100 TB scale this boundary is the expensive step: partition
  * count bounds the request concurrency, and each partition's
  * iterator streams rows without materializing the partition.
  */
trait Enricher extends Serializable {
  /** Classify one headline → (sentiment, category, confidence). */
  def classify(title: String, rowIndex: Long): (String, String, Double)
}

/** Deterministic mock (reference: scripts/llm_test_enricher.py:191-198):
  * `sentiment = [Positiva,Negativa,Neutra][i % 3]`,
  * `category = first-5-categories[i % 5]` keyed by a stable row
  * index. Spark has no implicit row order, so the index convention
  * is `row_number() over (order by link) - 1` (SURVEY §7.5).
  */
object MockEnricher extends Enricher {
  private val cats = Domains.categories.take(5)
  override def classify(title: String, i: Long): (String, String, Double) =
    (Domains.sentiments((i % 3).toInt), cats((i % 5).toInt),
      Domains.clampConfidence(0.5 + (i % 50) / 100.0))
}

/** Bronze row + the stable mock index (SURVEY §7.5 convention). */
final case class IndexedRaw(title: String, link: String, source: String,
    scraped_at: Timestamp, row_index: Long)

object Enrich {
  private val DefaultModel = "gpt-3.5-turbo-1106"

  /** Enrich a bronze batch into silver rows. Deterministic given a
    * deterministic Enricher and `now`. The stable row index is
    * assigned with [[graft.operators.Ranking.sortedRanges]] —
    * range-partition by `link`, sort within each partition, carried
    * offsets, and each row numbered in place — which keeps the
    * `order by link` total-order contract (SURVEY §2.11) bit-identical
    * while planning NO unpartitioned WindowExec and no exchange after
    * the range partitioning: the previous
    * `row_number().over(Window.orderBy)` funneled the whole bronze
    * corpus through one reducer, the parity pipeline's only genuine
    * 100×-scale killer (round-12 verdict). PlanSpec pins the absence
    * of a single-partition exchange in this path.
    */
  def enrichBatch(spark: SparkSession, bronze: Dataset[RawHeadline],
      enricher: Enricher, now: Timestamp,
      modelUsed: String = DefaultModel): Dataset[EnrichedHeadline] =
    classify(indexed(graft.operators.Ranking.sortedRanges(bronze.toDF(), col("link"))),
      enricher, now, modelUsed)

  /** S6 for enrichment: classify and append the rows of `raw` (bronze
    * shape) whose `link` is not yet a silver `raw_link` — first-write-
    * wins like the reference's `INSERT .. ON CONFLICT (raw_link) DO
    * NOTHING` (scripts/llm_enricher.py:285-309). The conflict-skip
    * runs once, on the raw keys, before anything is classified: the
    * anti-join against silver ([[graft.jobs.EnrichJob.pending]]), then
    * one row per `link`, kept while the rows are range-partitioned on
    * it. The fresh rows are stored in sorted range partitions and
    * counted in one job; each row is then ranked and classified once,
    * inside the job that writes it. Nothing fresh → nothing classified
    * and no file written. `batchLimit` caps a run at the first n fresh
    * links, as the reference's 50-row batches do
    * (llm_enricher.py:400-424). Single writer per silver path: see
    * [[graft.jobs.EnrichJob]]. Returns rows appended.
    */
  def appendFresh(raw: DataFrame, silverPath: String, enricher: Enricher,
      now: Timestamp, batchLimit: Option[Int] = None): Long = {
    val spark = raw.sparkSession
    val unseen =
      if (!Tables.exists(spark, silverPath)) raw
      else graft.jobs.EnrichJob.pending(raw,
        spark.read.schema(Schemas.enriched).parquet(silverPath))
    val fresh = graft.operators.Ranking.distinctRanges(unseen, "link")
    val n = batchLimit.fold(fresh.rows)(l => math.min(fresh.rows, l.toLong))
    if (n > 0)
      classify(indexed(fresh).filter(col("row_index") < n), enricher, now, DefaultModel)
        .write.mode(SaveMode.Append).parquet(silverPath)
    n
  }

  /** `fresh` with its 0-based mock index, `row_number() over (order by
    * link) - 1` (SURVEY §7.5). */
  private def indexed(fresh: graft.operators.Ranking.SortedRanges): DataFrame =
    fresh.withRank("row_index").withColumn("row_index", col("row_index") - 1)

  private def classify(rows: DataFrame, enricher: Enricher, now: Timestamp,
      modelUsed: String): Dataset[EnrichedHeadline] = {
    import rows.sparkSession.implicits._
    rows.as[IndexedRaw].mapPartitions { it =>
      // one enricher "client" per partition, like the reference's
      // single client per process (llm_enricher.py:26-67)
      it.map { r =>
        val t0 = System.nanoTime()
        val (s, c, conf) =
          try enricher.classify(r.title, r.row_index)
          catch { // per-row failure → sentinel, never drop input rows
            // (reference: llm_enricher.py:204-211)
            case scala.util.control.NonFatal(_) =>
              (Domains.Error, Domains.Error, 0.0)
          }
        val dt = (System.nanoTime() - t0) / 1e9
        EnrichedHeadline(r.link, r.title, r.link,
          Option(r.source).getOrElse("g1"), r.scraped_at,
          Domains.clampSentiment(s), Domains.clampCategory(c),
          Domains.clampConfidence(conf), dt, now, modelUsed)
      }
    }
  }
}
