package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Deterministic headline-pipeline tables derived from the driver's
  * `documents` parquet, so every pipeline operator (SURVEY §2) is
  * checkable against the DuckDB oracle: the SAME derivation exists
  * twice — as a DataFrame plan here and as a SQL CTE prefix
  * ([[HeadlineData.SQL]]) prepended to each oracle query.
  *
  * Shapes mirror the reference: bronze = raw_headlines
  * (dags/g1_scraping_dag.py:34-39), silver = enriched headlines with
  * the deterministic mock enrichment i%3 / i%5 keyed by a stable
  * per-row index (scripts/llm_test_enricher.py:191-198; SURVEY
  * §7.5), plus injected 'Erro' rows (doc_id % 37 = 5) and NULL
  * categories (doc_id % 41 = 7) so the gold models' edge semantics
  * ('Erro' in total but no bucket; NULL filtered) are exercised.
  *
  * Float-determinism: confidence is a single int→double division —
  * bit-identical in Spark and DuckDB.
  *
  * Scale note: the mock row index is `doc_id` itself, NOT
  * `row_number() over (order by link)`. The driver's doc_ids are
  * dense 0..n-1 and `link` is the zero-padded doc_id, so the two
  * are identical here — but a global row_number is a
  * single-partition sort (the plan Spark warns about), which is a
  * scale anti-pattern; keying off a stored stable id keeps the
  * derivation embarrassingly parallel. The production enrichment
  * path (EnrichJob/EnrichStream) is row-index-free either way.
  */
object HeadlineData {
  val Today = "2024-01-03" // injectable CURRENT_DATE for F3-queries

  /** Serving-layer shared scan (the engine analog of the reference
    * dashboard's `st.cache_data`, dashboard.py:35-148): every serve
    * query reads the same derived silver, so it is one [[graft.Barrier]]
    * per (session, dir) in the [[Tables]] memo: released at application
    * end, rebuilt after a lost block. */
  def silverCached(spark: SparkSession, sfDir: String): DataFrame =
    Tables.memoized(spark, sfDir, "silver (derived)")(Barrier.intact)(
      Barrier.materialize(silver(spark, sfDir)))

  def bronze(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents").select(
      col("doc_id"),
      col("text").as("title"),
      concat(lit("https://example.com/doc-"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("link"),
      lit("G1").as("source"),
      expr("timestampadd(DAY, CAST(doc_id % 7 AS INT), " +
        "TIMESTAMP'2024-01-01 08:00:00')").as("scraped_at"))

  def silver(spark: SparkSession, sfDir: String): DataFrame = {
    val b = bronze(spark, sfDir).withColumn("i", col("doc_id"))
    val err = col("doc_id") % 37 === 5
    val nullCat = col("doc_id") % 41 === 7
    b.select(
      col("doc_id"),
      col("link").as("raw_link"),
      col("title"), col("link"), col("source"), col("scraped_at"),
      when(err, "Erro")
        .when(col("i") % 3 === 0, "Positiva")
        .when(col("i") % 3 === 1, "Negativa")
        .otherwise("Neutra").as("sentiment"),
      when(nullCat, lit(null).cast("string"))
        .when(err, "Erro")
        .when(col("i") % 5 === 0, "Política")
        .when(col("i") % 5 === 1, "Economia")
        .when(col("i") % 5 === 2, "Esportes")
        .when(col("i") % 5 === 3, "Tecnologia")
        .otherwise("Cultura").as("category"),
      when(err, lit(0.0))
        .otherwise((lit(50) + col("doc_id") % 50).cast("double") / 100)
        .as("confidence_score"),
      expr("timestampadd(DAY, CAST(doc_id % 7 AS INT), " +
        "TIMESTAMP'2024-01-01 09:00:00')").as("processed_at"),
      lit("gpt-3.5-turbo-1106").as("model_used"))
  }

  /** DuckDB CTE prefix — MUST stay semantically identical to
    * [[bronze]]/[[silver]] above. Oracle queries are written as
    * `SQL + "SELECT ... FROM silver ..."`.
    */
  val SQL: String =
    """WITH bronze AS (
      |  SELECT doc_id,
      |         text AS title,
      |         'https://example.com/doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS link,
      |         'G1' AS source,
      |         TIMESTAMP '2024-01-01 08:00:00' + to_days(CAST(doc_id % 7 AS INTEGER)) AS scraped_at
      |  FROM documents
      |), silver AS (
      |  SELECT doc_id, link AS raw_link, title, link, source, scraped_at,
      |         CASE WHEN doc_id % 37 = 5 THEN 'Erro'
      |              WHEN i % 3 = 0 THEN 'Positiva'
      |              WHEN i % 3 = 1 THEN 'Negativa'
      |              ELSE 'Neutra' END AS sentiment,
      |         CASE WHEN doc_id % 41 = 7 THEN NULL
      |              WHEN doc_id % 37 = 5 THEN 'Erro'
      |              WHEN i % 5 = 0 THEN 'Política'
      |              WHEN i % 5 = 1 THEN 'Economia'
      |              WHEN i % 5 = 2 THEN 'Esportes'
      |              WHEN i % 5 = 3 THEN 'Tecnologia'
      |              ELSE 'Cultura' END AS category,
      |         CASE WHEN doc_id % 37 = 5 THEN 0.0
      |              ELSE CAST(50 + doc_id % 50 AS DOUBLE) / 100 END AS confidence_score,
      |         TIMESTAMP '2024-01-01 09:00:00' + to_days(CAST(doc_id % 7 AS INTEGER)) AS processed_at,
      |         'gpt-3.5-turbo-1106' AS model_used
      |  FROM (SELECT b.*, doc_id AS i FROM bronze b)
      |)
      |""".stripMargin
}
