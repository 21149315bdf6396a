package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Grain
import graft.sources.Sinks

/** Gold analytics build (reference entry point C, SURVEY §3.3):
  * the two dbt models as DataFrame pipelines, fully recomputed and
  * overwritten on each run (dbt `materialized='table'`).
  *
  * Scale: [[run]] makes one hash-aggregate over silver keyed by
  * (date, category, sentiment) — partial aggregation map-side, one
  * shuffle on the group keys. Everything after it (the two per-table
  * sums and W1's per-day window) runs over that grain-sized result in
  * one partition, never over the fact table. The one-table forms
  * ([[dailySentiment]], [[dailyCategory]]), which the dashboard and
  * the registry query directly, aggregate silver once each. Gold
  * written date-partitioned so serving queries prune.
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

  /** `stg` with the gold tables' group key, the day it was processed. */
  private def dated(stg: DataFrame): DataFrame =
    stg.withColumn("analysis_date", to_date(col("processed_timestamp")))

  /** The row's own link count, for the per-row forms below. */
  private def ownLink: Column = when(col("headline_link").isNotNull, 1L)

  /** Silver at the gold grain, (day, category, sentiment): its row
    * count and its non-null link count. Both gold tables are sums of
    * these, so one aggregate over silver serves both. The grain is
    * bounded by the calendar and the two small domains, not by the
    * corpus. */
  private def grain(stg: DataFrame): DataFrame =
    dated(stg).groupBy(col("analysis_date"), col("category"), col("sentiment"))
      .agg(count(lit(1)).as("headlines"), count(col("headline_link")).as("links"))

  /** `sum`, 0 over no rows: the `count` it stands for. */
  private def total(c: Column): Column = coalesce(sum(c), lit(0L))

  /** A1 conditional-count sentiment pivot
    * (reference: dbt models/gold/daily_sentiment_analysis.sql:8-30).
    * 'Erro' rows count toward total but no bucket — replicated
    * exactly (SURVEY §7.5). Explicit per-sentiment sums rather than
    * groupBy().pivot(), to freeze column names.
    */
  def dailySentiment(stg: DataFrame): DataFrame =
    sentimentOf(dated(stg), lit(1L), ownLink)

  /** The A1 table over rows that each stand for `headlines` silver
    * rows with `links` non-null links: 1 and 0/1 per silver row, or
    * the counts of a [[grain]] row. */
  private def sentimentOf(df: DataFrame, headlines: Column, links: Column): DataFrame = {
    def of(s: String) = total(when(col("sentiment") === s, headlines))
    df.groupBy(col("analysis_date"))
      .agg(
        of("Positiva").as("positive_headlines"),
        of("Negativa").as("negative_headlines"),
        of("Neutra").as("neutral_headlines"),
        total(links).as("total_headlines"))
  }

  /** A2+W1 category counts + per-day share
    * (reference: dbt models/gold/daily_category_analysis.sql:8-30).
    * The reference's Postgres `bigint/bigint` is integer division
    * (always 0); we implement the intended double fraction —
    * documented deviation (SURVEY §2.5).
    */
  def dailyCategory(stg: DataFrame): DataFrame = categoryOf(dated(stg), ownLink)

  /** The A2+W1 table over rows with `links` non-null links each. */
  private def categoryOf(df: DataFrame, links: Column): DataFrame = {
    val counted = df
      .filter(col("category").isNotNull)
      .groupBy(col("analysis_date"), col("category"))
      .agg(total(links).as("category_count"))
    val day = Window.partitionBy(col("analysis_date"))
    counted.withColumn("category_percentage",
      col("category_count") / sum(col("category_count")).over(day))
  }

  /** Materialize both gold tables, date-partitioned for pruning: one
    * aggregate over silver at the [[grain]], stored once and read as
    * one partition ([[Grain.storedBounded]]), then each table summed
    * from it with no exchange — three Spark jobs (the aggregate's
    * shuffle and one write per table). */
  def run(silver: DataFrame, goldDir: String): Unit = {
    val g = Grain.storedBounded(grain(staging(silver)))
    Sinks.materializeGold(sentimentOf(g, col("headlines"), col("links")),
      s"$goldDir/daily_sentiment_analysis", "analysis_date")
    Sinks.materializeGold(categoryOf(g, col("links")),
      s"$goldDir/daily_category_analysis", "analysis_date")
  }
}
