package graft

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.serve.Dashboard
import graft.sources.HeadlineData

/** The parameterized serving facade over the derived silver table:
  * results must be consistent with the oracle-checked fixed-form
  * queries and internally coherent (KPIs sum, top-k bounds).
  */
class DashboardSpec extends SparkTestBase {
  private lazy val silver = HeadlineData.silverCached(spark, sf)
  private val start = LocalDate.of(2024, 1, 1)
  private val end = LocalDate.of(2024, 1, 7)

  test("default range is last-7-days ending at max date") {
    val (s, e) = Dashboard.defaultRange(silver)
    assert(e == LocalDate.of(2024, 1, 7) && s == e.minusDays(7))
  }

  test("daily sentiment over the full range matches the oracle-form query") {
    val viaFacade = Dashboard.dailySentiment(silver, start, end)
      .collect().toSeq
    val viaOracleForm = serve.Queries.a1DailySentiment(spark, sf)
      .collect().toSeq
    assert(viaFacade == viaOracleForm)
  }

  test("kpis are coherent") {
    val k = Dashboard.kpis(silver, start, end)
    assert(k.total > 0)
    assert(k.positive + k.negative + k.neutral <= k.total) // 'Erro' rows in total only
    assert(k.pctPositive >= 0 && k.pctPositive <= 100)
    assert(k.daily > 0)
  }

  test("recent headlines returns n, newest first") {
    val rows = Dashboard.recentHeadlines(silver, 7).collect()
    assert(rows.length == 7)
    val ts = rows.map(_.getAs[java.sql.Timestamp]("processed_at").getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a >= b })
  }

  test("top-k category time series only contains k categories") {
    val df = Dashboard.topCategoryTimeSeries(silver, start, end, 3)
    assert(df.select("category").distinct().count() <= 3)
    assert(df.count() > 0)
  }

  /** The six calls perfbench's dashboard makes, each reply collected. */
  private def calls(silver: DataFrame, start: LocalDate, end: LocalDate)
      : Seq[(String, () => Any)] = Seq(
    "dailySentiment" -> (() => Dashboard.dailySentiment(silver, start, end).collect()),
    "categoryCounts" -> (() => Dashboard.categoryCounts(silver, start, end).collect()),
    "confidenceStats" -> (() => Dashboard.confidenceStats(silver, start, end).collect()),
    "recentHeadlines" -> (() => Dashboard.recentHeadlines(silver, 10).collect()),
    "kpis" -> (() => Dashboard.kpis(silver, start, end)),
    "topCategoryTimeSeries" ->
      (() => Dashboard.topCategoryTimeSeries(silver, start, end, 5).collect()))

  test("every dashboard call runs at most 2 Spark jobs over a parquet silver") {
    val dir = tmpDir() + "/silver"
    silver.drop("doc_id").write.parquet(dir)
    val stored = spark.read.parquet(dir)
    val jobs = calls(stored, start, end).map { case (name, call) =>
      name -> JobCounter(spark)(call())._2
    }
    assert(jobs.forall(_._2 <= 2), s"Spark jobs per call: ${jobs.mkString(", ")}")
  }

  test("range aggregates equal their global-sort forms row for row") {
    val inRange = silver.filter(to_date(col("processed_at"))
      .between(java.sql.Date.valueOf(start), java.sql.Date.valueOf(end)))
    val counts = inRange.filter(col("category").isNotNull)
      .groupBy(to_date(col("processed_at")).as("analysis_date"), col("category"))
      .agg(count(lit(1)).as("count"))
    val top = counts.groupBy(col("category")).agg(sum(col("count")).as("total"))
      .orderBy(desc("total"), col("category")).limit(3).select(col("category"))
    val expected = Seq(
      counts.orderBy(desc("analysis_date"), desc("count"), col("category")),
      inRange.groupBy(to_date(col("processed_at")).as("analysis_date"), col("sentiment"))
        .agg(round(avg(col("confidence_score")), 3).as("avg_confidence"),
          min(col("confidence_score")).as("min_confidence"),
          max(col("confidence_score")).as("max_confidence"))
        .orderBy(desc("analysis_date"), col("sentiment")),
      counts.join(top, Seq("category")).orderBy(col("analysis_date"), col("category")))
    val got = Seq(
      Dashboard.categoryCounts(silver, start, end),
      Dashboard.confidenceStats(silver, start, end),
      Dashboard.topCategoryTimeSeries(silver, start, end, 3))
    got.zip(expected).foreach { case (g, e) =>
      assert(g.columns.toSeq == e.columns.toSeq)
      assert(g.collect().toSeq == e.collect().toSeq)
    }
    val days = inRange.groupBy(to_date(col("processed_at"))).count().count()
    val k = Dashboard.kpis(silver, start, end)
    assert(k.total == inRange.count() && k.daily == k.total.toDouble / days)
    assert(k.positive == inRange.filter(col("sentiment") === "Positiva").count())
  }

  test("empty silver: a defined default range, empty replies and zero kpis") {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), Schemas.enriched)
    val (s, e) = Dashboard.defaultRange(empty)
    assert(e == LocalDate.now(ZoneOffset.UTC) && s == e.minusDays(7))
    calls(empty, s, e).foreach { case (name, call) =>
      call() match {
        case rows: Array[_] => assert(rows.isEmpty, s"$name replied ${rows.length} rows")
        case k => assert(k == Dashboard.Kpis(0, 0, 0, 0, 0.0, 0.0), s"$name: $k")
      }
    }
  }
}
