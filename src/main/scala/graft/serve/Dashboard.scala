package graft.serve

import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parameterized serving facade over a silver table — the engine
  * analog of the reference dashboard's four cached loaders + KPI
  * block (streamlit_app/dashboard.py:35-302). The fixed-parameter
  * variants in [[Queries]] are the oracle-checked forms; this is the
  * user-facing API with the dashboard's actual knobs (date range,
  * top-k, default last-7-days window).
  *
  * A visit is answered from one aggregate of silver, the visit grain:
  * per (day, sentiment) and per (day, category) cell, its row count,
  * non-null link count and confidence average, min and max. The grain
  * is collected once per silver frame, in 2 Spark jobs, and
  * [[defaultRange]] and every range call answer from its rows on the
  * driver, as local frames whose `collect` runs no Spark job.
  * [[recentHeadlines]] stays its own top-n scan. This is the
  * reference's `@st.cache_data(ttl=3600)` (dashboard.py:35), which
  * loads silver once and computes every panel in memory.
  *
  * Memo contract: the grain is kept per silver `DataFrame`, by the
  * frame's identity, under a weak key, and holds only plain values, so
  * the entry goes when the frame is no longer reachable. Every call on
  * one frame answers from the snapshot the frame's first call saw. For
  * a file-backed frame that is what a re-run would answer too: the
  * frame lists its files once, when it is created, and every re-run
  * reads that listing. To see new data, read a new frame.
  */
object Dashboard {

  /** One cell of the visit grain: a (day, sentiment) cell when
    * `bySentiment`, else a (day, category) cell; `key` is its sentiment
    * or category. `date` is the day as Spark returns it, `day` the
    * same day for range tests and ordering (both null for rows without
    * `processed_at`). The averages are Spark's own
    * `round(avg(confidence_score), 3)`. */
  private final case class Cell(bySentiment: Boolean, date: java.sql.Date,
      day: LocalDate, key: String, rows: Long, links: Long,
      avg: java.lang.Double, min: java.lang.Double, max: java.lang.Double)

  private val grains =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Seq[Cell]]())

  /** Silver frames whose grain is memoized (stale keys expunged). */
  private[graft] def memoized: Int = grains.size

  private def grainOf(silver: DataFrame): Seq[Cell] =
    Option(grains.get(silver)).getOrElse {
      val cells = silver.withColumn("analysis_date", to_date(col("processed_at")))
        .groupingSets(
          Seq(Seq(col("analysis_date"), col("sentiment")),
            Seq(col("analysis_date"), col("category"))),
          col("analysis_date"), col("sentiment"), col("category"))
        .agg(grouping_id().as("gid"), count(lit(1)), count(col("link")),
          round(avg(col("confidence_score")), 3), min(col("confidence_score")),
          max(col("confidence_score")))
        .collect() // grain-bounded: days × (sentiments + categories) rows
        .toSeq.map { r =>
          val bySentiment = r.getLong(3) == 1L // category aggregated away
          val date = r.getDate(0)
          Cell(bySentiment, date, Option(date).map(_.toLocalDate).orNull,
            r.getString(if (bySentiment) 1 else 2), r.getLong(4), r.getLong(5),
            r.getAs[java.lang.Double](6), r.getAs[java.lang.Double](7),
            r.getAs[java.lang.Double](8))
        }
      grains.put(silver, cells)
      cells
    }

  /** The grain's cells of one kind whose day lies in [start, end]. */
  private def cells(silver: DataFrame, start: LocalDate, end: LocalDate,
      bySentiment: Boolean): Seq[Cell] =
    grainOf(silver).filter(c => c.bySentiment == bySentiment && c.day != null &&
      !c.day.isBefore(start) && !c.day.isAfter(end))

  /** Non-null category cells in range. */
  private def categoryCells(silver: DataFrame, start: LocalDate, end: LocalDate) =
    cells(silver, start, end, bySentiment = false).filter(_.key != null)

  /** Rows of the given sentiment among sentiment cells. */
  private def rowsOf(cs: Seq[Cell], sentiment: String): Long =
    cs.filter(_.key == sentiment).map(_.rows).sum

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
    val days = grainOf(silver).flatMap(c => Option(c.day))
    val end =
      if (days.isEmpty) LocalDate.now(ZoneOffset.UTC) else days.maxBy(_.toEpochDay)
    (end.minusDays(7), end)
  }

  /** q1: daily sentiment counts, date-ordered (dashboard.py:57), in
    * the form of `GoldJob.dailySentiment`: 'Erro' and null sentiments
    * count toward no bucket, and the total counts non-null links. */
  def dailySentiment(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame = {
    val days = cells(silver, start, end, bySentiment = true).groupBy(_.day).toSeq
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
        .sortBy(c => (-c.day.toEpochDay, -c.rows, sparkOrder(c.key)))
        .map(c => Row(c.date, c.key, c.rows)))

  /** q3: per-(date, sentiment) confidence stats (dashboard.py:128-138). */
  def confidenceStats(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    local(silver, StructType(Seq(date, field("sentiment", StringType),
        field("avg_confidence", DoubleType), field("min_confidence", DoubleType),
        field("max_confidence", DoubleType))),
      cells(silver, start, end, bySentiment = true)
        .sortBy(c => (-c.day.toEpochDay, sparkOrder(c.key)))
        .map(c => Row(c.date, c.key, c.avg, c.min, c.max)))

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
    val cs = cells(silver, start, end, bySentiment = true)
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
    val top = counts.groupMapReduce(_.key)(_.rows)(_ + _).toSeq
      .sortBy { case (c, n) => (-n, sparkOrder(c)) }.take(k).map(_._1).toSet
    local(silver, StructType(Seq(field("category", StringType), date) ++
        countFields("count")),
      counts.filter(c => top(c.key))
        .sortBy(c => (c.day.toEpochDay, sparkOrder(c.key)))
        .map(c => Row(c.key, c.date, c.rows)))
  }
}
