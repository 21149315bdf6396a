package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Barrier
import graft.sources.{Sinks, Tables}

/** Gold analytics build (reference entry point C, SURVEY §3.3):
  * the two dbt models as DataFrame pipelines, fully recomputed and
  * overwritten on each run (dbt `materialized='table'`).
  *
  * Scale: [[run]] sums both tables from the [[silverGrain]]'s cells in
  * one partition, never over the fact table. The one-table forms
  * ([[dailySentiment]], [[dailyCategory]]), which the registry queries
  * call, aggregate silver once each. Gold written date-partitioned so
  * serving queries prune.
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

  /** Silver at the pipeline's grain: one grouping-sets aggregate over
    * `to_date(processed_at)`, a cell per (day, sentiment), (day,
    * category), day and one for all of silver ([[GrainCell]]); a
    * column silver lacks reads as null. A bare file scan's grain is
    * memoized in [[Tables]], one entry per root path, for the scan's
    * sorted file listing and column types: part files are write-once,
    * so fresh reads of an unchanged path share one grain and an append
    * or a rewrite builds a new one. Other frames build it per call. */
  def silverGrain(silver: DataFrame): SilverGrain = silver.queryExecution.analyzed match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      val snapshot = (fs.location.inputFiles.sorted.toSeq,
        silver.schema.map(f => f.name -> f.dataType).toSet)
      Tables.memoized(silver.sparkSession, fs.location.rootPaths.mkString(","), GrainKey)(
        (m: (Any, SilverGrain)) => m._1 == snapshot && Barrier.intact(m._2.stored))(
        (snapshot, new SilverGrain(cellsOf(silver))))._2
    case _ => new SilverGrain(cellsOf(silver))
  }

  private[graft] val GrainKey = "silver grain"

  private def cellsOf(silver: DataFrame): DataFrame = {
    val used = Seq("link" -> StringType, "sentiment" -> StringType, "category" -> StringType,
      "confidence_score" -> DoubleType, "processing_time_seconds" -> DoubleType,
      "processed_at" -> TimestampType)
    val Seq(day, sentiment, category, conf) =
      Seq("analysis_date", "sentiment", "category", "confidence_score").map(col)
    silver.select(used.map { case (c, t) =>
        if (silver.columns.contains(c)) col(c) else lit(null).cast(t).as(c) }: _*)
      .withColumn("analysis_date", to_date(col("processed_at")))
      .groupingSets(Seq(Seq(day, sentiment), Seq(day, category), Seq(day), Seq()),
        day, sentiment, category)
      .agg(grouping_id().as("set"), count(lit(1)).as("headlines"),
        count(col("link")).as("links"), round(avg(conf), 3), min(conf), max(conf),
        round(avg(when(sentiment =!= "Erro", conf)), 3),
        round(avg(col("processing_time_seconds")), 3))
  }

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
    * the counts of a [[silverGrain]] cell. */
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

  /** Materialize both gold tables, date-partitioned for pruning, from
    * the [[silverGrain]]'s (day, sentiment) and (day, category) cells:
    * three Spark jobs for a new grain (its aggregate's shuffle and one
    * write per table). */
  def run(silver: DataFrame, goldDir: String): Unit = {
    val g = silverGrain(silver).frame
    Sinks.materializeGold(
      sentimentOf(g.filter(col("set") === GrainCell.BySentiment), col("headlines"), col("links")),
      s"$goldDir/daily_sentiment_analysis", "analysis_date")
    Sinks.materializeGold(categoryOf(g.filter(col("set") === GrainCell.ByCategory), col("links")),
      s"$goldDir/daily_category_analysis", "analysis_date")
  }
}

/** A cell of the [[GoldJob.silverGrain]]: `set` is its `grouping_id`
  * over (day, sentiment, category), the keys it does not group by are
  * null, and each average is Spark's own `round(avg(...), 3)`. */
final case class GrainCell(set: Long, date: java.sql.Date, sentiment: String,
    category: String, rows: Long, links: Long, avgConfidence: java.lang.Double,
    minConfidence: java.lang.Double, maxConfidence: java.lang.Double,
    avgRatedConfidence: java.lang.Double, avgProcessingTime: java.lang.Double) {
  val day: LocalDate = Option(date).map(_.toLocalDate).orNull
}

object GrainCell {
  val BySentiment = 1L
  val ByCategory = 2L
  val ByDay = 3L
  val All = 7L
}

/** A silver grain's cells, stored once as a barrier, read by gold as
  * one partition (coalesced after the barrier, whose scan reports
  * `UnknownPartitioning`) and collected once by the first reader of
  * its rows: days × (sentiments + categories + 1) + 1 of them. */
final class SilverGrain private[jobs] (cells: DataFrame) {
  private[jobs] val stored = Barrier.materialize(cells)
  def frame: DataFrame = stored.coalesce(1)
  lazy val rows: Seq[GrainCell] = stored.collect().toSeq.map { r =>
    def dbl(i: Int) = r.getAs[java.lang.Double](i)
    GrainCell(r.getLong(3), r.getDate(0), r.getString(1), r.getString(2), r.getLong(4),
      r.getLong(5), dbl(6), dbl(7), dbl(8), dbl(9), dbl(10))
  }
}
