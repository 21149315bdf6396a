package graft

import java.sql.Timestamp

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.enrich.{Enricher, MockEnricher}
import graft.jobs.{EnrichJob, GoldJob, IngestJob, ProcessingReport, Reports}
import graft.model.{Domains, Schemas}
import graft.serve.Dashboard
import graft.sources.Tables

/** End-to-end pipeline over FIXTURES.md fixture A: the reference's
  * 5 seed headlines through ingest → mock-enrich → gold, asserting
  * the hand-computed expectations, plus the idempotence property
  * (re-run ≡ run once — the ON CONFLICT DO NOTHING analog).
  */
class PipelineSpec extends SparkTestBase {
  import PipelineSpec._

  test("fixture A end-to-end: ingest, enrich, gold expectations") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")

    val n = IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    assert(n == 5, "all 5 seed headlines survive cleaning")

    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    val appended = EnrichJob.run(spark, s"$work/bronze", s"$work/silver",
      MockEnricher, now)
    assert(appended == 5)

    val silver = spark.read.parquet(s"$work/silver")
    // i%3 mock over link order (FIXTURES.md §1): P,N,Nu,P,N
    val sentiments = silver.orderBy("raw_link")
      .select("sentiment").collect().map(_.getString(0)).toSeq
    assert(sentiments == Seq("Positiva", "Negativa", "Neutra", "Positiva", "Negativa"))

    val gold = GoldJob.dailySentiment(GoldJob.staging(silver)).collect()
    assert(gold.length == 1)
    val r = gold.head
    assert(r.getAs[Long]("positive_headlines") == 2)
    assert(r.getAs[Long]("negative_headlines") == 2)
    assert(r.getAs[Long]("neutral_headlines") == 1)
    assert(r.getAs[Long]("total_headlines") == 5)

    val cat = GoldJob.dailyCategory(GoldJob.staging(silver)).collect()
    assert(cat.length == 5 && cat.forall(_.getAs[Long]("category_count") == 1))
    assert(cat.forall(c => math.abs(c.getAs[Double]("category_percentage") - 0.2) < 1e-12))
  }

  test("enrich is idempotent: second run appends nothing") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    assert(EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher, now) == 5)
    assert(EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher, now) == 0)
    assert(spark.read.parquet(s"$work/silver").count() == 5)
  }

  test("enrich classifies each appended row once; a re-run classifies none and writes no file") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    val calls = spark.sparkContext.longAccumulator("classify calls")
    val counting = new CountingEnricher(calls)
    assert(EnrichJob.run(spark, s"$work/bronze", s"$work/silver", counting, now) == 5)
    assert(calls.value == 5, s"${calls.value} classify calls for 5 appended rows")
    def files = new java.io.File(s"$work/silver").list().count(_.endsWith(".parquet"))
    val before = files
    calls.reset()
    assert(EnrichJob.run(spark, s"$work/bronze", s"$work/silver", counting, now) == 0)
    assert(calls.value == 0, s"${calls.value} classify calls on a re-run")
    assert(files == before, "a re-run appending nothing added a file")
  }

  test("a batch limit appends the first n fresh links per run, each classified once") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    val calls = spark.sparkContext.longAccumulator("limited classify calls")
    def run() = EnrichJob.run(spark, s"$work/bronze", s"$work/silver",
      new CountingEnricher(calls), now, batchLimit = Some(2))
    assert(Seq(run(), run(), run(), run()) == Seq(2L, 2L, 1L, 0L))
    assert(calls.value == 5, s"${calls.value} classify calls for 5 appended rows")
    val links = spark.read.parquet(s"$work/silver").select("raw_link")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(links == (0 until 5).map(i => s"https://exemplo.com/noticia-$i"))
  }

  test("job budgets: ingest, enrich and summary") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    val (ingested, ingestJobs) =
      JobCounter(spark)(IngestJob.run(spark, s"$work/raw", s"$work/bronze"))
    assert(ingested == 5)
    val (appended, enrichJobs) = JobCounter(spark)(
      EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher, now))
    assert(appended == 5)
    val (_, rerunJobs) = JobCounter(spark)(
      EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher, now))
    val bronze = spark.read.schema(Schemas.raw).parquet(s"$work/bronze")
    val silver = spark.read.schema(Schemas.enriched).parquet(s"$work/silver")
    val (report, summaryJobs) = JobCounter(spark)(
      Reports.summary(bronze, silver, java.time.LocalDate.of(2024, 3, 1)))
    assert(report.totalRaw == 5 && report.pending == 0)
    assert(ingestJobs <= 3, s"ingest ran $ingestJobs Spark jobs")
    assert(enrichJobs <= 4, s"first enrich ran $enrichJobs Spark jobs")
    assert(rerunJobs <= 4, s"re-run enrich ran $rerunJobs Spark jobs")
    assert(summaryJobs <= 5, s"summary ran $summaryJobs Spark jobs")
    // an incremental day: a new drop overlapping silver by two links
    writeCsv(s"$work/raw2/headlines.csv", (3 to 8).map(i =>
      s"Manchete incremental número $i bem longa,https://exemplo.com/noticia-$i,G1,2024-03-02T08:00:00.000000"))
    IngestJob.run(spark, s"$work/raw2", s"$work/bronze")
    val (incr, incrJobs) = JobCounter(spark)(EnrichJob.run(spark, s"$work/bronze",
      s"$work/silver", MockEnricher, Timestamp.valueOf("2024-03-02 09:00:00")))
    assert(incr == 4)
    assert(incrJobs <= 5, s"incremental enrich ran $incrJobs Spark jobs")
  }

  test("gold job budget: one aggregate, two writes") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher,
      Timestamp.valueOf("2024-03-01 09:00:00"))
    val silver = spark.read.schema(Schemas.enriched).parquet(s"$work/silver")
    val (_, goldJobs) = JobCounter(spark)(GoldJob.run(silver, s"$work/gold"))
    assert(goldJobs <= 3, s"gold ran $goldJobs Spark jobs")
    val stg = GoldJob.staging(silver)
    def rows(t: String) = spark.read.parquet(s"$work/gold/$t").collect().map(_.toSeq).toSet
    def expected(df: org.apache.spark.sql.DataFrame) =
      df.select((df.columns.filterNot(_ == "analysis_date") :+ "analysis_date").toIndexedSeq.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(rows("daily_sentiment_analysis") == expected(GoldJob.dailySentiment(stg)))
    assert(rows("daily_category_analysis") == expected(GoldJob.dailyCategory(stg)))
  }

  test("gold, reports and a visit over one unchanged silver aggregate it once") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher,
      Timestamp.valueOf("2024-03-01 09:00:00"))
    val today = java.time.LocalDate.of(2024, 3, 1)
    // a fresh read per reader, as perfbench makes; its schema
    // inference runs before the counted calls
    val Seq(forGold, forValidate, forSummary) =
      Seq.fill(3)(spark.read.parquet(s"$work/silver"))
    val forVisit = spark.read.schema(Schemas.enriched).parquet(s"$work/silver")
    val bronze = spark.read.schema(Schemas.raw).parquet(s"$work/bronze")
    val (_, goldJobs) = JobCounter(spark)(GoldJob.run(forGold, s"$work/gold"))
    val (_, validateJobs) = JobCounter(spark)(Reports.validate(forValidate, today))
    val (_, summaryJobs) = JobCounter(spark)(Reports.summary(bronze, forSummary, today))
    val (_, visitJobs) = JobCounter(spark) {
      val (start, end) = Dashboard.defaultRange(forVisit)
      Dashboard.kpis(forVisit, start, end)
      Seq(Dashboard.dailySentiment(forVisit, start, end),
        Dashboard.categoryCounts(forVisit, start, end),
        Dashboard.confidenceStats(forVisit, start, end),
        Dashboard.recentHeadlines(forVisit, 10),
        Dashboard.topCategoryTimeSeries(forVisit, start, end, 5)).foreach(_.collect())
    }
    // gold builds and stores the grain; validate collects its rows (1
    // job, no shuffle); the summary's silver side and the visit's
    // range calls read those rows, so the summary runs only its
    // bronze/pending aggregate (3) and the visit only recentHeadlines
    assert(goldJobs <= 3, s"gold ran $goldJobs Spark jobs")
    assert(validateJobs <= 1, s"validate ran $validateJobs Spark jobs")
    assert(summaryJobs <= 3, s"summary ran $summaryJobs Spark jobs")
    assert(visitJobs <= 1, s"the visit ran $visitJobs Spark jobs")
  }

  test("gold tables, built from the grain or per row, equal the conditional counts") {
    import spark.implicits._
    // null links, an 'Erro' sentiment, a null sentiment, a null
    // category and two days: where a sum of grain counts could drift
    // from a per-row count
    val t1 = Timestamp.valueOf("2024-03-01 09:00:00")
    val t2 = Timestamp.valueOf("2024-03-02 23:59:59")
    val silver = Seq[(String, String, String, Timestamp)](
      ("a", "Positiva", "Economia", t1), (null, "Positiva", "Economia", t1),
      ("b", "Negativa", "Esportes", t1), ("c", "Erro", "Erro", t1),
      ("d", "Neutra", null, t1), (null, "Neutra", "Esportes", t2),
      ("e", "Negativa", "Economia", t2), ("f", null, "Economia", t2))
      .toDF("link", "sentiment", "category", "processed_at")
      .withColumn("title", lit("t")).withColumn("scraped_at", col("processed_at"))
    val stg = GoldJob.staging(silver)
    val day = to_date(col("processed_timestamp")).as("analysis_date")
    val sentimentRef = stg.groupBy(day)
      .agg(
        count(when(col("sentiment") === "Positiva", 1)).as("positive_headlines"),
        count(when(col("sentiment") === "Negativa", 1)).as("negative_headlines"),
        count(when(col("sentiment") === "Neutra", 1)).as("neutral_headlines"),
        count(col("headline_link")).as("total_headlines"))
    val categoryRef = stg.filter(col("category").isNotNull)
      .groupBy(day, col("category"))
      .agg(count(col("headline_link")).as("category_count"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toSeq).toSet
    val work = tmpDir()
    GoldJob.run(silver, work)
    val builtSentiment = spark.read.parquet(s"$work/daily_sentiment_analysis")
    val builtCategory = spark.read.parquet(s"$work/daily_category_analysis")
    assert(GoldJob.dailySentiment(stg).schema == sentimentRef.schema)
    assert(rows(GoldJob.dailySentiment(stg)) == rows(sentimentRef))
    assert(rows(builtSentiment) == rows(sentimentRef))
    assert(rows(GoldJob.dailyCategory(stg).drop("category_percentage")) == rows(categoryRef))
    assert(rows(builtCategory.drop("category_percentage")) == rows(categoryRef))
    assert(rows(builtCategory) == rows(GoldJob.dailyCategory(stg)))
  }

  test("gold run writes date-partitioned tables") {
    val dir = tmpDir()
    val silver = graft.sources.HeadlineData.silverCached(spark, sf)
    graft.jobs.GoldJob.run(silver, s"$dir/gold")
    val parts = new java.io.File(s"$dir/gold/daily_sentiment_analysis")
      .listFiles().filter(_.getName.startsWith("analysis_date="))
    assert(parts.length >= 7, "one partition dir per day")
  }

  test("summary over an empty silver reports zeros and no averages") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val bronze = spark.read.schema(Schemas.raw).parquet(s"$work/bronze")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), Schemas.enriched)
    val today = java.time.LocalDate.of(2024, 3, 1)
    assert(Reports.summary(bronze, empty, today) ==
      ProcessingReport(totalRaw = 5, totalProcessed = 0, processedToday = 0,
        avgProcessingTime = None, pending = 5, topCategories = Seq.empty))
    val v = Reports.validate(empty, today)
    assert(v.totalToday == 0 && v.errorsToday == 0 && v.avgConfidence.isEmpty &&
      v.warnings.isEmpty)
  }

  test("summary equals its per-scalar queries on null links, duplicate keys and ties") {
    import spark.implicits._
    val today = java.time.LocalDate.of(2024, 3, 2)
    val t0 = Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = Timestamp.valueOf("2024-03-02 10:00:00")
    val bronze = Seq(("a", t0), ("b", t0), ("b", t0), ("c", t0), (null, t0), ("z", t1))
      .toDF("link", "scraped_at")
      .select(lit("title").as("title"), col("link"), lit("G1").as("source"), col("scraped_at"))
    // key "a" twice, a null key, an 'Erro' and a null category, and count ties
    val silverRows = Seq(("a", "Economia", t1, 1.0), ("a", "Economia", t1, 2.0),
      ("b", "Política", t0, 4.0), (null, "Erro", t1, 0.5), ("d", null, t1, 0.25),
      ("e", "Esportes", t1, 1.0), ("f", "Cultura", t1, 1.0), ("g", "Saúde", t1, 1.0),
      ("h", "Tecnologia", t1, 1.0), ("i", "Política", t1, 1.0), ("j", "Ciência", t1, 1.0))
    val silver = silverRows.toDF("raw_link", "category", "processed_at", "processing_time_seconds")
      .withColumn("sentiment", lit("Neutra"))
    val day = silver.filter(to_date(col("processed_at")) === lit(java.sql.Date.valueOf(today)))
    val stats = silver.agg(count(lit(1)), round(avg(col("processing_time_seconds")), 3)).head()
    val expected = ProcessingReport(
      totalRaw = bronze.count(),
      totalProcessed = stats.getLong(0),
      processedToday = day.count(),
      avgProcessingTime = Some(stats.getDouble(1)),
      pending = EnrichJob.pending(bronze, silver).count(),
      topCategories = day.filter(col("category") =!= "Erro")
        .groupBy(col("category")).count()
        .orderBy(desc("count"), col("category")).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(expected.pending == 3 && expected.topCategories.head == ("Economia", 2L))
    assert(Reports.summary(bronze, silver, today) == expected)
  }

  test("ingest cleaning: short titles dropped, relative urls normalized, dupes removed") {
    val work = tmpDir()
    val rows = Seq(
      "A valid headline about something important,https://site/x1,G1,2024-03-01T08:00:00.000000",
      "short,https://site/x2,G1,2024-03-01T08:00:00.000000",
      "A relative-link headline long enough,/economia/news1,G1,2024-03-01T08:00:00.000000",
      "A valid headline about something important,https://site/x1,G1,2024-03-01T08:00:00.000000",
      "Bad link headline that is long enough,ftp://nope,G1,2024-03-01T08:00:00.000000")
    writeCsv(s"$work/raw/h.csv", rows)
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val bronze = spark.read.parquet(s"$work/bronze")
    assert(bronze.count() == 2)
    val links = bronze.select("link").collect().map(_.getString(0)).toSet
    assert(links.contains("https://g1.globo.com/economia/news1"))
  }

  test("ingest of a drop with no surviving rows counts 0 and writes an empty bronze") {
    Seq(Seq("short,https://site/x2,G1,2024-03-01T08:00:00.000000"), Seq.empty).foreach { rows =>
      val work = tmpDir()
      writeCsv(s"$work/raw/h.csv", rows)
      assert(IngestJob.run(spark, s"$work/raw", s"$work/bronze") == 0)
      assert(spark.read.schema(Schemas.raw).parquet(s"$work/bronze").count() == 0)
    }
  }

  test("validation report thresholds and summary counts") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    IngestJob.run(spark, s"$work/raw", s"$work/bronze")
    val now = Timestamp.valueOf("2024-03-01 09:00:00")
    EnrichJob.run(spark, s"$work/bronze", s"$work/silver", MockEnricher, now)
    val silver = spark.read.parquet(s"$work/silver")
    val v = Reports.validate(silver, java.time.LocalDate.of(2024, 3, 1))
    assert(v.totalToday == 5 && v.errorsToday == 0)
    // mock confidences are 0.50-0.54 ⇒ the <0.7 QA gate must fire
    // (reference: dags/g1_enrichement_dag.py:185-193)
    assert(v.warnings.exists(_.contains("avg confidence")))
    val sum = Reports.summary(spark.read.parquet(s"$work/bronze"), silver,
      java.time.LocalDate.of(2024, 3, 1))
    assert(sum.totalRaw == 5 && sum.totalProcessed == 5 && sum.pending == 0)
    assert(sum.topCategories.length == 5)
  }

  test("csv sink round-trips through the csv source") {
    val work = tmpDir()
    writeFixtureCsv(s"$work/raw/headlines.csv")
    val original = graft.sources.Tables.rawHeadlinesCsv(spark, s"$work/raw/headlines.csv")
    graft.sources.Sinks.writeCsv(original, s"$work/out_csv")
    val back = spark.read.schema(graft.model.Schemas.raw)
      .option("header", "true").csv(s"$work/out_csv")
    assert(back.orderBy("link").collect().toSeq ==
      original.orderBy("link").collect().toSeq)
  }

  test("corrupt csv rows are captured by the audit read, not silently coerced") {
    val work = tmpDir()
    writeMixedCsv(s"$work/raw/headlines.csv")
    val audit = graft.sources.Tables
      .rawHeadlinesCsvAudit(spark, s"$work/raw/headlines.csv").cache()
    try {
      assert(audit.count() == 3)
      val corrupt = audit.filter(col("_corrupt_record").isNotNull)
      assert(corrupt.count() == 1)
      assert(corrupt.select("link").collect().head.getString(0)
        == "https://exemplo.com/ok-2")
      // the plain read null-coerces the bad timestamp but keeps the row,
      // so downstream cleaning decides its fate explicitly
      val plain = graft.sources.Tables
        .rawHeadlinesCsv(spark, s"$work/raw/headlines.csv")
      assert(plain.count() == 3)
      assert(plain.filter(col("scraped_at").isNull).count() == 1)
    } finally audit.unpersist()
  }

  test("compaction merges small-file appends without changing data") {
    val work = tmpDir()
    val df = graft.sources.Tables.table(spark, sf, "events").limit(500)
    (1 to 5).foreach { _ =>
      df.repartition(8).write.mode("append").parquet(s"$work/sink")
    }
    val before = spark.read.parquet(s"$work/sink")
    val beforeRows = before.count()
    val beforeFiles = new java.io.File(s"$work/sink")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(beforeFiles >= 40)
    val n = graft.sources.Sinks.compact(spark, s"$work/sink", targetMB = 128)
    assert(n == 1)
    val afterFiles = new java.io.File(s"$work/sink")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(afterFiles == 1)
    assert(spark.read.parquet(s"$work/sink").count() == beforeRows)
  }

  test("domain clamps mirror the reference validation") {
    assert(Domains.clampSentiment("Positiva") == "Positiva")
    assert(Domains.clampSentiment("garbage") == "Erro")
    assert(Domains.clampSentiment(null) == "Erro")
    assert(Domains.clampCategory(" Economia ") == "Economia")
    assert(Domains.clampCategory("nope") == "Erro")
    assert(Domains.clampConfidence(0.5) == 0.5)
    assert(Domains.clampConfidence(1.5) == 0.0)
    assert(Domains.clampConfidence(-0.1) == 0.0)
  }
}

object PipelineSpec {
  /** The mock enricher, counting its `classify` calls. */
  final class CountingEnricher(calls: LongAccumulator) extends Enricher {
    override def classify(title: String, rowIndex: Long): (String, String, Double) = {
      calls.add(1)
      MockEnricher.classify(title, rowIndex)
    }
  }

  /** FIXTURES.md fixture A — the reference's 5 test headlines. */
  val fixtureTitles: Seq[String] = Seq(
    "Economia brasileira cresce 2.5% no terceiro trimestre",
    "Nova tecnologia de IA promete revolucionar diagnósticos médicos",
    "Flamengo vence clássico e se aproxima do título brasileiro",
    "Presidente anuncia novo programa de habitação popular",
    "Cientistas descobrem nova espécie na Amazônia")

  def writeMixedCsv(path: String): Unit =
    writeCsv(path, Seq(
      "Manchete válida com comprimento suficiente,https://exemplo.com/ok-1,G1,2024-03-01T08:00:00.000000",
      // timestamp unparseable under the declared format
      "Outra manchete válida e bastante longa,https://exemplo.com/ok-2,G1,not-a-timestamp",
      "Terceira manchete também muito válida,https://exemplo.com/ok-3,G1,2024-03-01T08:00:00.000000"))

  def writeCsv(path: String, rows: Seq[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("title,link,source,scraped_at")
      rows.foreach(w.println)
    } finally w.close()
  }

  def writeFixtureCsv(path: String): Unit =
    writeCsv(path, fixtureTitles.zipWithIndex.map { case (t, i) =>
      s"$t,https://exemplo.com/noticia-$i,G1,2024-03-01T08:00:00.000000"
    })
}
