package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Gold analytics build (reference entry point C, SURVEY §3.3):
  * the two dbt models as DataFrame pipelines, fully recomputed and
  * overwritten on each run (dbt `materialized='table'`).
  *
  * Scale: both are a single hash-aggregate over silver keyed by
  * (date[, category]) — partial aggregation map-side, one shuffle on
  * the group keys; W1's window re-partitions by analysis_date only
  * over the already-aggregated (tiny) result, not over the fact
  * table. Gold written date-partitioned so serving queries prune.
  */
object GoldJob {
  /** Staging view: pure projection + rename
    * (reference: dbt models/staging/stg_enriched_headlines.sql:5-13).
    */
  def staging(silver: DataFrame): DataFrame =
    silver.select(
      col("link").as("headline_link"),
      col("title").as("headline_title"),
      col("sentiment"),
      col("category"),
      col("processed_at").as("processed_timestamp"),
      col("scraped_at").as("scraped_timestamp"))

  /** A1 conditional-count sentiment pivot
    * (reference: dbt models/gold/daily_sentiment_analysis.sql:8-30).
    * 'Erro' rows count toward total but no bucket — replicated
    * exactly (SURVEY §7.5). Explicit count(when(..)) over
    * groupBy().pivot() to freeze column names.
    */
  def dailySentiment(stg: DataFrame): DataFrame =
    stg.groupBy(to_date(col("processed_timestamp")).as("analysis_date"))
      .agg(
        count(when(col("sentiment") === "Positiva", 1)).as("positive_headlines"),
        count(when(col("sentiment") === "Negativa", 1)).as("negative_headlines"),
        count(when(col("sentiment") === "Neutra", 1)).as("neutral_headlines"),
        count(col("headline_link")).as("total_headlines"))

  /** A2+W1 category counts + per-day share
    * (reference: dbt models/gold/daily_category_analysis.sql:8-30).
    * The reference's Postgres `bigint/bigint` is integer division
    * (always 0); we implement the intended double fraction —
    * documented deviation (SURVEY §2.5).
    */
  def dailyCategory(stg: DataFrame): DataFrame = {
    val grouped = stg
      .filter(col("category").isNotNull)
      .groupBy(to_date(col("processed_timestamp")).as("analysis_date"),
        col("category"))
      .agg(count(col("headline_link")).as("category_count"))
    val day = Window.partitionBy(col("analysis_date"))
    grouped.withColumn("category_percentage",
      col("category_count") / sum(col("category_count")).over(day))
  }

  /** Materialize both gold tables, date-partitioned for pruning. */
  def run(silver: DataFrame, goldDir: String): Unit = {
    val stg = staging(silver)
    Sinks.materializeGold(dailySentiment(stg),
      s"$goldDir/daily_sentiment_analysis", "analysis_date")
    Sinks.materializeGold(dailyCategory(stg),
      s"$goldDir/daily_category_analysis", "analysis_date")
  }
}
