package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.enrich.{Enricher, MockEnricher}
import graft.jobs.{EnrichJob, GoldJob, IngestJob, Reports}
import graft.model.Schemas
import graft.serve.Dashboard
import graft.sources.Tables

/** A workload: a first read of its inputs (part of set-up), and a
  * pass over its operations. Pass 1 keeps its outputs for checking;
  * passes past the runner's minimum stop at the deadline. */
trait Workload {
  def open(spark: SparkSession): Unit
  def pass(spark: SparkSession, run: Runner, passNo: Int, capture: Boolean): Unit
  /** Called once after pass 1: what the checker needs besides files. */
  def finish(spark: SparkSession): Map[String, Any]
}

object Workload {
  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}

/** Counts `classify` calls and their time; wraps the enricher the
  * pipeline runs with, so wasted (repeated) enrichment shows. */
final class CountingEnricher(inner: Enricher, calls: LongAccumulator,
    nanos: LongAccumulator) extends Enricher {
  override def classify(title: String, rowIndex: Long): (String, String, Double) = {
    val t0 = System.nanoTime()
    try inner.classify(title, rowIndex)
    finally { calls.add(1); nanos.add(System.nanoTime() - t0) }
  }
}

/** Daily medallion run over generated CSV drops: per day
  * IngestJob → EnrichJob → GoldJob → Reports; after the last day the
  * analyst opens the dashboard (the six `serve.Dashboard` calls over the
  * new silver, default last-7-days window, every reply collected). Each pass runs
  * on a fresh work directory, so every pass replays the same history. */
final class PipelineDaily(in: String, out: String) extends Workload {
  private val days: Seq[(String, LocalDate)] = Workload.lines(s"$in/days.tsv").map { l =>
    val Array(dir, date) = l.split("\t")
    (dir, LocalDate.parse(date))
  }
  private val ServeK = 5   // top categories in the time series
  private val ServeN = 10  // latest headlines
  private var calls: LongAccumulator = _
  private var nanos: LongAccumulator = _

  private def workDir(passNo: Int) = s"$out/pipeline/pass$passNo"
  private def noon(d: LocalDate) = Timestamp.from(d.atTime(12, 0).toInstant(ZoneOffset.UTC))

  def open(spark: SparkSession): Unit = {
    val first = Tables.latestFile(spark, s"$in/raw/${days.head._1}")
      .getOrElse(throw new IllegalStateException("no CSV drop"))
    Tables.rawHeadlinesCsv(spark, first).count()
  }

  def pass(spark: SparkSession, run: Runner, passNo: Int, capture: Boolean): Unit = {
    if (calls == null) {
      calls = spark.sparkContext.longAccumulator("perfbench.classify.calls")
      nanos = spark.sparkContext.longAccumulator("perfbench.classify.nanos")
    }
    val work = workDir(passNo)
    val (bronze, silver, gold) = (s"$work/bronze", s"$work/silver", s"$work/gold")
    for (((dir, date), i) <- days.zipWithIndex if run.more(passNo))
      run.op(if (i == 0) "first_day" else "incremental_day", passNo, i, "pipeline.day") {
        (id, rec) =>
          val ingested = run.timed(rec, "ingest_ms", "jobs.ingest", id) {
            IngestJob.run(spark, s"$in/raw/$dir", bronze)
          }
          val traced = run.tracer.enabled
          val enricher =
            if (traced) new CountingEnricher(MockEnricher, calls, nanos) else MockEnricher
          val (c0, n0) = (calls.value.longValue, nanos.value.longValue)
          val appended = run.timed(rec, "enrich_ms", "jobs.enrich", id) {
            EnrichJob.run(spark, bronze, silver, enricher, noon(date))
          }
          if (traced) {
            rec("classify_calls") = calls.value - c0
            rec("classify_s") = (nanos.value - n0) / 1e9
          }
          run.timed(rec, "gold_ms", "jobs.gold", id) {
            GoldJob.run(spark.read.parquet(silver), gold)
          }
          val (v, s) = run.timed(rec, "reports_ms", "jobs.reports", id) {
            (Reports.validate(spark.read.parquet(silver), date),
              Reports.summary(spark.read.parquet(bronze), spark.read.parquet(silver), date))
          }
          if (i == days.size - 1) {
            val replies = serve(spark, run, rec, id, silver)
            if (capture) rec("dashboard") = replies
          }
          rec("ingested") = ingested
          rec("appended") = appended
          if (capture) rec("reports") = Map(
            "total_today" -> v.totalToday, "errors_today" -> v.errorsToday,
            "avg_confidence" -> v.avgConfidence, "error_rate" -> v.errorRate,
            "total_raw" -> s.totalRaw, "total_processed" -> s.totalProcessed,
            "processed_today" -> s.processedToday, "pending" -> s.pending,
            "top_categories" -> s.topCategories.map { case (c, n) => Seq(c, n) })
          () => ()
      }
    if (!capture) Workload.delete(work)
  }

  private def serve(spark: SparkSession, run: Runner,
      rec: mutable.LinkedHashMap[String, Any], id: Long, silverPath: String)
      : Map[String, Any] = {
    val silver = spark.read.schema(Schemas.enriched).parquet(silverPath)
    val (start, end) = Dashboard.defaultRange(silver)
    def call(name: String)(build: => DataFrame): Seq[Any] =
      run.timed(rec, s"serve_${name}_ms", s"serve.$name", id) {
        val df = run.tracer.span("serve.build", id)(build)
        run.tracer.span("serve.exec", id)(df.collect().toSeq)
      }
    val kpis = run.timed(rec, "serve_kpis_ms", "serve.kpis", id) {
      run.tracer.span("serve.exec", id)(Dashboard.kpis(silver, start, end))
    }
    Map("start" -> start.toString, "end" -> end.toString, "k" -> ServeK, "n" -> ServeN,
      "dailySentiment" -> call("dailySentiment")(Dashboard.dailySentiment(silver, start, end)),
      "categoryCounts" -> call("categoryCounts")(Dashboard.categoryCounts(silver, start, end)),
      "confidenceStats" -> call("confidenceStats")(Dashboard.confidenceStats(silver, start, end)),
      "recentHeadlines" -> call("recentHeadlines")(Dashboard.recentHeadlines(silver, ServeN)),
      "kpis" -> Seq(Seq(kpis.total, kpis.positive, kpis.negative, kpis.neutral,
        kpis.pctPositive, kpis.daily)),
      "topCategoryTimeSeries" ->
        call("topCategoryTimeSeries")(Dashboard.topCategoryTimeSeries(silver, start, end, ServeK)))
  }

  /** Re-running the last day against pass 1's state must append 0. */
  def finish(spark: SparkSession): Map[String, Any] = {
    val work = workDir(1)
    val rerun = EnrichJob.run(spark, s"$work/bronze", s"$work/silver",
      MockEnricher, noon(days.last._2))
    Map("work" -> work, "rerun_appended" -> rerun)
  }
}

/** Registry queries in the seeded order of `queries.txt`, each output
  * collected in full; pass 1 writes the rows to parquet for checking. */
final class Curation(in: String, out: String) extends Workload {
  private val names = Workload.lines(s"$in/queries.txt")
  private val corpus = s"$in/corpus"
  private lazy val registry = graft.SparkEntry.queries

  def open(spark: SparkSession): Unit = {
    Tables.table(spark, corpus, "documents").count()
    Tables.table(spark, corpus, "embeddings").count()
  }

  def pass(spark: SparkSession, run: Runner, passNo: Int, capture: Boolean): Unit =
    for ((name, i) <- names.zipWithIndex if run.more(passNo))
      run.op(name, passNo, i, s"operators.${name.takeWhile(_ != '_')}") { (id, rec) =>
        val df = run.timed(rec, "build_ms", "operators.build", id) {
          registry(name)(spark, corpus)
        }
        val rows = run.timed(rec, "exec_ms", "operators.exec", id)(df.collect())
        rec("rows") = rows.length
        () => if (capture)
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/curation/$name")
      }

  def finish(spark: SparkSession): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql
    Map("outputs" -> s"$out/curation", "oracle_sql" -> names.map(n => n -> oracles(n)).toMap)
  }
}
