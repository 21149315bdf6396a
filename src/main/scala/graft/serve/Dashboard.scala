package graft.serve

import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jobs.{GoldJob, GrainCell}

/** Parameterized serving facade over a silver table — the engine
  * analog of the reference dashboard's four cached loaders + KPI
  * block (streamlit_app/dashboard.py:35-302). The fixed-parameter
  * variants in [[Queries]] are the oracle-checked forms; this is the
  * user-facing API with the dashboard's actual knobs (date range,
  * top-k, default last-7-days window).
  *
  * A visit is answered from the (day, sentiment) and (day, category)
  * cells of the silver grain ([[graft.jobs.GoldJob.silverGrain]]),
  * which gold and the reports read too: [[defaultRange]] and the range
  * calls answer from its rows on the driver, as local frames whose
  * `collect` runs no Spark job; [[recentHeadlines]] is its own top-n
  * scan. As with the reference's `@st.cache_data(ttl=3600)`
  * (dashboard.py:35), silver is read once for every panel. Memo: a
  * bare parquet read answers from the files it listed when read, and
  * fresh reads of an unchanged path share one grain (after gold, the
  * range calls run no job); other frames build it per call (2 jobs).
  */
object Dashboard {

  /** The grain's cells of one set whose day lies in [start, end]. */
  private def cells(silver: DataFrame, start: LocalDate, end: LocalDate,
      set: Long): Seq[GrainCell] =
    GoldJob.silverGrain(silver).rows.filter(c => c.set == set && c.day != null &&
      !c.day.isBefore(start) && !c.day.isAfter(end))

  private def categoryCells(silver: DataFrame, start: LocalDate, end: LocalDate) =
    cells(silver, start, end, GrainCell.ByCategory).filter(_.category != null)

  /** Rows of the given sentiment among sentiment cells. */
  private def rowsOf(cs: Seq[GrainCell], sentiment: String): Long =
    cs.filter(_.sentiment == sentiment).map(_.rows).sum

  /** Spark's ascending string order: UTF-8 bytes, null first. */
  private def sparkOrder(s: String): Option[UTF8String] = Option(s).map(UTF8String.fromString)

  private def local(silver: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    silver.sparkSession.createDataFrame(rows.asJava, schema)

  private def field(name: String, t: DataType, nullable: Boolean = true) =
    StructField(name, t, nullable)
  private val date = field("analysis_date", DateType)
  private def countFields(names: String*) = names.map(field(_, LongType, nullable = false))

  /** Default window: last 7 days ending at the table's max date
    * (dashboard.py:208 `timedelta(days=7)`); on an empty table, the
    * 7 days ending today (UTC), so every call returns an empty
    * reply. */
  def defaultRange(silver: DataFrame): (LocalDate, LocalDate) = {
    val end = GoldJob.silverGrain(silver).rows.flatMap(c => Option(c.day))
      .maxByOption(_.toEpochDay).getOrElse(LocalDate.now(ZoneOffset.UTC))
    (end.minusDays(7), end)
  }

  /** q1: daily sentiment counts, date-ordered (dashboard.py:57), in
    * the form of `GoldJob.dailySentiment`: 'Erro' and null sentiments
    * count toward no bucket, and the total counts non-null links. */
  def dailySentiment(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame = {
    val days = cells(silver, start, end, GrainCell.BySentiment).groupBy(_.day).toSeq
      .sortBy(_._1.toEpochDay)
    local(silver, StructType(date +: countFields("positive_headlines", "negative_headlines",
        "neutral_headlines", "total_headlines")),
      days.map { case (_, cs) =>
        Row(cs.head.date, rowsOf(cs, "Positiva"), rowsOf(cs, "Negativa"),
          rowsOf(cs, "Neutra"), cs.map(_.links).sum)
      })
  }

  /** q2: date×category counts (dashboard.py:87-95). */
  def categoryCounts(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    local(silver, StructType(Seq(date, field("category", StringType)) ++ countFields("count")),
      categoryCells(silver, start, end)
        .sortBy(c => (-c.day.toEpochDay, -c.rows, sparkOrder(c.category)))
        .map(c => Row(c.date, c.category, c.rows)))

  /** q3: per-(date, sentiment) confidence stats (dashboard.py:128-138). */
  def confidenceStats(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    local(silver, StructType(Seq(date, field("sentiment", StringType),
        field("avg_confidence", DoubleType), field("min_confidence", DoubleType),
        field("max_confidence", DoubleType))),
      cells(silver, start, end, GrainCell.BySentiment)
        .sortBy(c => (-c.day.toEpochDay, sparkOrder(c.sentiment)))
        .map(c => Row(c.date, c.sentiment, c.avgConfidence, c.minConfidence, c.maxConfidence)))

  /** q4: latest n headlines (dashboard.py:169-180). */
  def recentHeadlines(silver: DataFrame, n: Int): DataFrame =
    silver.select(col("title").as("headline_title"),
        col("link").as("headline_link"), col("sentiment"), col("category"),
        col("processed_at"))
      .orderBy(desc("processed_at"), desc("headline_link")).limit(n)

  /** KPI block (dashboard.py:283-302). */
  final case class Kpis(total: Long, positive: Long, negative: Long,
      neutral: Long, pctPositive: Double, daily: Double)

  /** The range's sentiment cells, summed: the day count is the number
    * of days with rows. */
  def kpis(silver: DataFrame, start: LocalDate, end: LocalDate): Kpis = {
    val cs = cells(silver, start, end, GrainCell.BySentiment)
    val (total, positive) = (cs.map(_.rows).sum, rowsOf(cs, "Positiva"))
    val days = cs.map(_.day).distinct.size
    Kpis(total, positive, rowsOf(cs, "Negativa"), rowsOf(cs, "Neutra"),
      if (total == 0) 0.0 else positive * 100.0 / total,
      if (days == 0) 0.0 else total.toDouble / days)
  }

  /** Top-k categories over the range + their daily time series
    * (dashboard.py:377-407): categories ranked by (range total desc,
    * name), as a dense rank over those two would, and their
    * [[categoryCounts]] rows ordered by (day, category). */
  def topCategoryTimeSeries(silver: DataFrame, start: LocalDate,
      end: LocalDate, k: Int): DataFrame = {
    val counts = categoryCells(silver, start, end)
    val top = counts.groupMapReduce(_.category)(_.rows)(_ + _).toSeq
      .sortBy { case (c, n) => (-n, sparkOrder(c)) }.take(k).map(_._1).toSet
    local(silver, StructType(Seq(field("category", StringType), date) ++
        countFields("count")),
      counts.filter(c => top(c.category))
        .sortBy(c => (c.day.toEpochDay, sparkOrder(c.category)))
        .map(c => Row(c.category, c.date, c.rows)))
  }
}
