package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
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

  /** Q2: totals / error rows / avg confidence / thresholds, from the
    * [[GoldJob.silverGrain]]'s cells of `today`. */
  def validate(silver: DataFrame, today: LocalDate): ValidationReport = {
    val cells = GoldJob.silverGrain(silver).rows.filter(_.day == today)
    val day = cells.find(_.set == GrainCell.ByDay)
    val total = day.fold(0L)(_.rows)
    val errors = cells.filter(c => c.set == GrainCell.BySentiment && c.sentiment == "Erro").map(_.rows).sum
    val avgConf = day.flatMap(c => Option(c.avgRatedConfidence)).map(_.doubleValue)
    val rate = if (total == 0) 0.0 else errors.toDouble / total
    val warnings = Seq(
      if (rate > ErrorRateThreshold) Some(f"error rate $rate%.3f > $ErrorRateThreshold") else None,
      if (avgConf.exists(_ < MinAvgConfidence)) Some(s"avg confidence ${avgConf.get} < $MinAvgConfidence") else None
    ).flatten
    ValidationReport(total, errors, avgConf, rate, warnings)
  }

  /** Q3: processing summary + top-5 categories today (O4). Silver's
    * side is the [[GoldJob.silverGrain]]'s all-of-silver cell, its
    * cell of `today` and its (today, category) cells; one aggregate
    * over bronze and its [[EnrichJob.pending]] anti-join counts raw
    * and pending rows. */
  def summary(bronze: DataFrame, silver: DataFrame, today: LocalDate): ProcessingReport = {
    val cells = GoldJob.silverGrain(silver).rows
    val all = cells.find(_.set == GrainCell.All) // none when silver is empty
    val day = cells.filter(_.day == today)
    val top5 = day
      .filter(c => c.set == GrainCell.ByCategory && c.category != null && c.category != "Erro")
      .map(c => (c.category, c.rows))
      .sortBy { case (c, n) => (-n, UTF8String.fromString(c)) }.take(5) // Spark's string order
    val raw = bronze.select(lit(false).as("pending"))
      .unionByName(EnrichJob.pending(bronze, silver).select(lit(true).as("pending")))
      .agg(count(when(!col("pending"), 1)), count(when(col("pending"), 1))).head()
    ProcessingReport(
      totalRaw = raw.getLong(0),
      totalProcessed = all.fold(0L)(_.rows),
      processedToday = day.find(_.set == GrainCell.ByDay).fold(0L)(_.rows),
      avgProcessingTime = all.flatMap(c => Option(c.avgProcessingTime)).map(_.doubleValue),
      pending = raw.getLong(1),
      topCategories = top5)
  }
}
