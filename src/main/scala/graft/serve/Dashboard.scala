package graft.serve

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Grain

/** Parameterized serving facade over a silver table — the engine
  * analog of the reference dashboard's four cached loaders + KPI
  * block (streamlit_app/dashboard.py:35-302). The fixed-parameter
  * variants in [[Queries]] are the oracle-checked forms; this is the
  * user-facing API with the dashboard's actual knobs (date range,
  * top-k, default last-7-days window).
  */
object Dashboard {
  private def dte = to_date(col("processed_at"))

  /** Default window: last 7 days ending at the table's max date
    * (dashboard.py:208 `timedelta(days=7)`); on an empty table, the
    * 7 days ending today (UTC), so every call returns an empty
    * reply. */
  def defaultRange(silver: DataFrame): (LocalDate, LocalDate) = {
    val end = Option(silver.agg(max(dte)).head().getDate(0))
      .fold(LocalDate.now(ZoneOffset.UTC))(_.toLocalDate)
    (end.minusDays(7), end)
  }

  private def inRange(silver: DataFrame, start: LocalDate, end: LocalDate) =
    silver.filter(dte.between(
      lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end))))

  // The range aggregates below are bounded by days × categories (or
  // sentiments), so each sorts in one partition (Grain.sortedBounded).

  /** q1: daily sentiment counts, date-ordered (dashboard.py:57). */
  def dailySentiment(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      graft.jobs.GoldJob.dailySentiment(
        graft.jobs.GoldJob.staging(inRange(silver, start, end))),
      col("analysis_date"))

  /** q2: date×category counts (dashboard.py:87-95). */
  def categoryCounts(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      inRange(silver, start, end)
        .filter(col("category").isNotNull)
        .groupBy(dte.as("analysis_date"), col("category"))
        .agg(count(lit(1)).as("count")),
      desc("analysis_date"), desc("count"), col("category"))

  /** q3: per-(date, sentiment) confidence stats (dashboard.py:128-138). */
  def confidenceStats(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      inRange(silver, start, end)
        .groupBy(dte.as("analysis_date"), col("sentiment"))
        .agg(round(avg(col("confidence_score")), 3).as("avg_confidence"),
          min(col("confidence_score")).as("min_confidence"),
          max(col("confidence_score")).as("max_confidence")),
      desc("analysis_date"), col("sentiment"))

  /** q4: latest n headlines (dashboard.py:169-180). */
  def recentHeadlines(silver: DataFrame, n: Int): DataFrame =
    silver.select(col("title").as("headline_title"),
        col("link").as("headline_link"), col("sentiment"), col("category"),
        col("processed_at"))
      .orderBy(desc("processed_at"), desc("headline_link")).limit(n)

  /** KPI block (dashboard.py:283-302). */
  final case class Kpis(total: Long, positive: Long, negative: Long,
      neutral: Long, pctPositive: Double, daily: Double)

  /** One per-day aggregate, folded on the driver: the day count is
    * its row count. */
  def kpis(silver: DataFrame, start: LocalDate, end: LocalDate): Kpis = {
    val days = inRange(silver, start, end).groupBy(dte).agg(
      count(lit(1)), count(when(col("sentiment") === "Positiva", 1)),
      count(when(col("sentiment") === "Negativa", 1)),
      count(when(col("sentiment") === "Neutra", 1)))
      .collect() // grain-bounded: one row per day in range
    def tally(i: Int) = days.map(_.getLong(i)).sum
    val total = tally(1)
    Kpis(total, tally(2), tally(3), tally(4),
      if (total == 0) 0.0 else tally(2) * 100.0 / total,
      if (days.isEmpty) 0.0 else total.toDouble / days.length)
  }

  /** Top-k categories over the range + their daily time series
    * (dashboard.py:377-407), from one [[categoryCounts]] pass: each
    * row carries its category's range total, and categories are
    * ranked by (total desc, name). */
  def topCategoryTimeSeries(silver: DataFrame, start: LocalDate,
      end: LocalDate, k: Int): DataFrame = {
    val byCategory = Window.partitionBy(col("category"))
    val top = categoryCounts(silver, start, end)
      .withColumn("total", sum(col("count")).over(byCategory))
      .withColumn("rank", dense_rank().over(Grain.bounded(desc("total"), col("category"))))
      .filter(col("rank") <= k)
    Grain.sortedBounded(top.select(col("category"), col("analysis_date"), col("count")),
      col("analysis_date"), col("category"))
  }
}
