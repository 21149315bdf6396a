package graft

import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

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

  private def storedSilver(): DataFrame = {
    val dir = tmpDir() + "/silver"
    silver.drop("doc_id").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("a dashboard visit runs at most 3 Spark jobs over a parquet silver") {
    // the visit grain's aggregate (2) and recentHeadlines' top-n scan (1)
    val stored = storedSilver()
    val (_, jobs) = JobCounter(spark) {
      val (s, e) = Dashboard.defaultRange(stored)
      calls(stored, s, e).foreach(_._2())
    }
    assert(jobs <= 3, s"Spark jobs per visit: $jobs")
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

  /** Silver rows for the equality cases, in `Schemas.enriched` order:
    * (day of March 2024 or None for a null `processed_at`, hour,
    * sentiment, category, link, confidence). */
  private def silverOf(rows: Seq[(Option[Int], Int, String, String, String, java.lang.Double)])
      : DataFrame = {
    val data = rows.zipWithIndex.map { case ((day, hour, sentiment, category, link, conf), i) =>
      val at = day.map(d => java.sql.Timestamp.valueOf(f"2024-03-$d%02d $hour%02d:00:00")).orNull
      Row(s"raw-$i", s"headline number $i", link, "G1", at, sentiment, category, conf,
        0.5, at, "mock")
    }
    val dir = tmpDir() + "/silver"
    spark.createDataFrame(data.asJava, Schemas.enriched).write.parquet(dir)
    spark.read.schema(Schemas.enriched).parquet(dir)
  }

  private def sameFrame(what: String, got: DataFrame, expected: DataFrame): Unit = {
    assert(got.schema == expected.schema, what)
    assert(got.collect().toSeq == expected.collect().toSeq, what)
  }

  /** Every visit answer equals the per-call Spark form: the default
    * range, and per range the four frames (schema and rows, in order)
    * and the KPIs, the top-k series for each k. */
  private def assertSameVisit(silver: DataFrame, ranges: Seq[(LocalDate, LocalDate)],
      ks: Seq[Int]): Unit = {
    assert(Dashboard.defaultRange(silver) == DashboardSparkForms.defaultRange(silver))
    (DashboardSparkForms.defaultRange(silver) +: ranges).foreach { case (s, e) =>
      val at = s"range $s..$e"
      sameFrame(s"dailySentiment $at", Dashboard.dailySentiment(silver, s, e),
        DashboardSparkForms.dailySentiment(silver, s, e))
      sameFrame(s"categoryCounts $at", Dashboard.categoryCounts(silver, s, e),
        DashboardSparkForms.categoryCounts(silver, s, e))
      sameFrame(s"confidenceStats $at", Dashboard.confidenceStats(silver, s, e),
        DashboardSparkForms.confidenceStats(silver, s, e))
      assert(Dashboard.kpis(silver, s, e) == DashboardSparkForms.kpis(silver, s, e), at)
      ks.foreach { k =>
        sameFrame(s"topCategoryTimeSeries k=$k $at",
          Dashboard.topCategoryTimeSeries(silver, s, e, k),
          DashboardSparkForms.topCategoryTimeSeries(silver, s, e, k))
      }
    }
  }

  test("visit answers equal the per-call Spark forms on nulls, 'Erro' rows, ties and non-ASCII") {
    val P = "Positiva"; val N = "Negativa"; val U = "Neutra"; val E = "Erro"
    def d(day: Int) = Some(day)
    // Categories: on 03-01 "Tecnologia" and "Économie" tie at 2, four
    // more at 1; over 03-01..03-03 "Tecnologia", "Économie" and
    // "ｆútbol" tie at 3, so k = 2 cuts inside a tie; the fullwidth
    // "ｆ" (U+FF46) sorts before the emoji (U+1F600) in UTF-8 but after
    // it in UTF-16.
    val rows = Seq[(Option[Int], Int, String, String, String, java.lang.Double)](
      (d(1), 8, P, "Tecnologia", "https://x/1", 0.9),
      (d(1), 9, P, "Tecnologia", "https://x/2", 0.8),
      (d(1), 10, N, "Économie", "https://x/3", 0.3333),
      (d(1), 11, N, "Économie", null, 0.1235),
      (d(1), 12, U, "日本", "https://x/5", 0.5),
      (d(1), 13, E, "Erro", "https://x/6", 0.0),
      (d(1), 14, E, null, "https://x/7", null),
      (d(1), 15, null, "😀 emoji", null, 0.7),
      (d(1), 16, P, "ｆútbol", "https://x/9", 0.6667),
      (d(2), 8, P, "ｆútbol", "https://x/10", 0.95),
      (d(2), 9, U, "ｆútbol", null, 0.45),
      (d(2), 10, N, "Économie", "https://x/12", 0.2),
      (d(2), 11, null, null, "https://x/13", null),
      (d(2), 12, P, "Tecnologia", "https://x/14", 0.7),
      (d(3), 23, U, "日本", "https://x/15", 0.55),
      (d(3), 22, U, "😀 emoji", "https://x/16", 0.65),
      (None, 0, P, "Tecnologia", "https://x/17", 0.99),
      (None, 0, null, null, null, null))
    val stored = silverOf(rows)
    def day(n: Int) = LocalDate.of(2024, 3, n)
    assertSameVisit(stored,
      ranges = Seq((day(1), day(3)), (day(1), day(1)), (day(2), day(3)),
        (day(3), day(1)), (LocalDate.of(2030, 1, 1), LocalDate.of(2030, 1, 7))),
      ks = Seq(0, 1, 2, 3, 6, 100))
  }

  test("visit answers equal the per-call Spark forms on sf silver and on empty silver") {
    assertSameVisit(storedSilver(), ranges = Seq((start, end)), ks = Seq(3, 5, 1000))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), Schemas.enriched)
    assertSameVisit(empty, ranges = Seq((start, end)), ks = Seq(5))
  }
}

/** The dashboard's per-call Spark forms: one query of silver per call,
  * each range aggregate sorted in one partition. [[Dashboard]] answers
  * a visit from one grain aggregate instead; these are the reference
  * its answers must equal. */
object DashboardSparkForms {
  import graft.jobs.GoldJob
  import org.apache.spark.sql.expressions.Window

  private def dte = to_date(col("processed_at"))

  def defaultRange(silver: DataFrame): (LocalDate, LocalDate) = {
    val end = Option(silver.agg(max(dte)).head().getDate(0))
      .fold(LocalDate.now(ZoneOffset.UTC))(_.toLocalDate)
    (end.minusDays(7), end)
  }

  private def inRange(silver: DataFrame, start: LocalDate, end: LocalDate) =
    silver.filter(dte.between(
      lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end))))

  def dailySentiment(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      GoldJob.dailySentiment(GoldJob.staging(inRange(silver, start, end))),
      col("analysis_date"))

  def categoryCounts(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      inRange(silver, start, end)
        .filter(col("category").isNotNull)
        .groupBy(dte.as("analysis_date"), col("category"))
        .agg(count(lit(1)).as("count")),
      desc("analysis_date"), desc("count"), col("category"))

  def confidenceStats(silver: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    Grain.sortedBounded(
      inRange(silver, start, end)
        .groupBy(dte.as("analysis_date"), col("sentiment"))
        .agg(round(avg(col("confidence_score")), 3).as("avg_confidence"),
          min(col("confidence_score")).as("min_confidence"),
          max(col("confidence_score")).as("max_confidence")),
      desc("analysis_date"), col("sentiment"))

  def kpis(silver: DataFrame, start: LocalDate, end: LocalDate): Dashboard.Kpis = {
    val days = inRange(silver, start, end).groupBy(dte).agg(
      count(lit(1)), count(when(col("sentiment") === "Positiva", 1)),
      count(when(col("sentiment") === "Negativa", 1)),
      count(when(col("sentiment") === "Neutra", 1)))
      .collect()
    def tally(i: Int) = days.map(_.getLong(i)).sum
    val total = tally(1)
    Dashboard.Kpis(total, tally(2), tally(3), tally(4),
      if (total == 0) 0.0 else tally(2) * 100.0 / total,
      if (days.isEmpty) 0.0 else total.toDouble / days.length)
  }

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
