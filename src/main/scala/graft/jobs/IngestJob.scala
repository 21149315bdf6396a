package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** Bronze ingestion (reference entry point A, SURVEY §3.1):
  * latest CSV → quality filter → URL normalization → dedup →
  * full-replace bronze write (reference: dags/g1_scraping_dag.py:51-83;
  * scrape-side cleanups scripts/scraper.py:98-160).
  *
  * Bronze is a daily FULL REPLACE (history lives in silver), so the
  * write is `Overwrite` — at scale this is a small per-day batch,
  * no shuffle except the key dedup.
  */
object IngestJob {
  val urlPrefix = "https://g1.globo.com"

  /** Scrape-side cleanup as one declarative plan:
    * F7 min-length filter (scraper.py:104-106), C8 URL normalize +
    * http filter (scraper.py:150-153), D1/D2 dedup by link then
    * title (scraper.py:36,98,155-160). The reference's `seen`-set
    * keeps the FIRST row per key in scrape order; Spark has no
    * implicit row order, so the survivor is made deterministic with
    * row_number() ordered by link (dropDuplicates would keep an
    * arbitrary row per key under repartitioning).
    */
  def clean(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val normalized = raw
      .filter(length(trim(col("title"))) >= 15)
      .withColumn("link",
        when(col("link").startsWith("/"), concat(lit(urlPrefix), col("link")))
          .otherwise(col("link")))
      .filter(col("link").startsWith("http"))
    val byLink = Window.partitionBy(col("link")).orderBy(col("title"))
    val byTitle = Window.partitionBy(col("title")).orderBy(col("link"))
    normalized
      .withColumn("rn", row_number().over(byLink)).filter(col("rn") === 1)
      .withColumn("rn", row_number().over(byTitle)).filter(col("rn") === 1)
      .drop("rn")
  }

  def run(spark: SparkSession, rawDir: String, bronzePath: String): Long = {
    val latest = Tables.latestFile(spark, rawDir)
      .getOrElse(throw new IllegalStateException(s"no csv under $rawDir"))
    val cleaned = clean(Tables.rawHeadlinesCsv(spark, latest))
    Sinks.overwrite(cleaned, bronzePath)
    spark.read.parquet(bronzePath).count()
  }
}
