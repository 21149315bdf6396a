package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Data-quality / pipeline reporting (reference: Q2 validation suite
  * dags/g1_enrichement_dag.py:124-194; Q3 processing report
  * dag:196-262 + scripts/llm_enricher.py:321-372).
  *
  * `CURRENT_DATE`-relative queries take an injectable `today`
  * (SURVEY §7.5) so tests and the DuckDB oracle are deterministic.
  */
final case class ValidationReport(
    totalToday: Long, errorsToday: Long, avgConfidence: Option[Double],
    errorRate: Double, warnings: Seq[String])

final case class ProcessingReport(
    totalRaw: Long, totalProcessed: Long, processedToday: Long,
    avgProcessingTime: Option[Double], pending: Long,
    topCategories: Seq[(String, Long)])

object Reports {
  val ErrorRateThreshold = 0.10    // dag:176-184
  val MinAvgConfidence = 0.7       // dag:185-193

  private def onDay(df: DataFrame, today: LocalDate): DataFrame =
    df.filter(to_date(col("processed_at")) === lit(java.sql.Date.valueOf(today)))

  /** Q2: totals / error rows / avg confidence / thresholds. */
  def validate(silver: DataFrame, today: LocalDate): ValidationReport = {
    val day = onDay(silver, today)
    val row: Row = day.agg(
      count(lit(1)).as("total"),
      count(when(col("sentiment") === "Erro", 1)).as("errors"),
      round(avg(when(col("sentiment") =!= "Erro", col("confidence_score"))), 3)
        .as("avg_conf")).head()
    val total = row.getLong(0)
    val errors = row.getLong(1)
    val avgConf = if (row.isNullAt(2)) None else Some(row.getDouble(2))
    val rate = if (total == 0) 0.0 else errors.toDouble / total
    val warnings = Seq(
      if (rate > ErrorRateThreshold) Some(f"error rate $rate%.3f > $ErrorRateThreshold") else None,
      if (avgConf.exists(_ < MinAvgConfidence)) Some(s"avg confidence ${avgConf.get} < $MinAvgConfidence") else None
    ).flatten
    ValidationReport(total, errors, avgConf, rate, warnings)
  }

  /** Q3: processing summary + top-5 categories today (O4), in two
    * actions. One grouping-set aggregate over silver: its grand-total
    * row holds the totals and the average processing time, and its
    * per-category rows hold today's counts, from which the top 5 are
    * picked on the driver. One aggregate over bronze and its
    * [[EnrichJob.pending]] anti-join counts raw and pending rows. */
  def summary(bronze: DataFrame, silver: DataFrame, today: LocalDate): ProcessingReport = {
    val isToday = to_date(col("processed_at")) === lit(java.sql.Date.valueOf(today))
    val byCategory = silver.rollup(col("category"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("total"),
        round(avg(col("processing_time_seconds")), 3).as("avg_time"),
        count(when(isToday, 1)).as("today"))
      .collect() // report-sized: categories + 1 rows
    // no grand-total row when silver is empty
    val grand = byCategory.find(_.getLong(1) == 1L)
    val top5 = byCategory
      .filter(r => r.getLong(1) == 0L && !r.isNullAt(0) &&
        r.getString(0) != "Erro" && r.getLong(4) > 0)
      .map(r => (r.getString(0), r.getLong(4))).toSeq
      .sortBy { case (c, n) => (-n, UTF8String.fromString(c)) } // Spark's string order
      .take(5)
    val raw = bronze.select(lit(false).as("pending"))
      .unionByName(EnrichJob.pending(bronze, silver).select(lit(true).as("pending")))
      .agg(count(when(!col("pending"), 1)), count(when(col("pending"), 1))).head()
    ProcessingReport(
      totalRaw = raw.getLong(0),
      totalProcessed = grand.fold(0L)(_.getLong(2)),
      processedToday = grand.fold(0L)(_.getLong(4)),
      avgProcessingTime = grand.filterNot(_.isNullAt(3)).map(_.getDouble(3)),
      pending = raw.getLong(1),
      topCategories = top5)
  }
}
