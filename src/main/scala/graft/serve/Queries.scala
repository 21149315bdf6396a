package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Grain
import graft.jobs.GoldJob
import graft.operators.ColumnIdioms.d
import graft.sources.HeadlineData
import graft.sources.HeadlineData.{SQL => H, Today}

/** The reference's analytics surface (SURVEY §2.2-§2.10): dbt gold
  * models + every dashboard query/reshape, as DataFrame plans over
  * the deterministic silver derivation, each with a DuckDB oracle.
  *
  * Float-determinism policy for oracle parity: counts stay integer;
  * every ratio/avg is ONE double division of exact integers (or
  * integer cents for confidence) — bit-identical in Spark & DuckDB.
  * Every query has a total ORDER BY so row order is deterministic.
  */
object Queries extends graft.QueryModule {
  val prefixes: Seq[String] = Nil
  private def silver(s: SparkSession, dir: String): DataFrame =
    HeadlineData.silverCached(s, dir)
  private def stg(s: SparkSession, dir: String): DataFrame =
    GoldJob.staging(silver(s, dir))
  /** Exact integer cents for 2-decimal confidence values. */
  private def cents(c: Column): Column =
    round(c * 100, 0).cast("long")

  // P1: staging projection+rename (stg_enriched_headlines.sql:5-13)
  val p1StagingProjection: Q = (s, dir) =>
    stg(s, dir).orderBy(col("headline_link"))

  // J1: pending anti-join — bronze keys not yet in (partial) silver
  val j1PendingAntiJoin: Q = (s, dir) => {
    val b = HeadlineData.bronze(s, dir)
    val processed = silver(s, dir)
      .filter(col("doc_id") % 10 =!= 3).select(col("raw_link"))
    b.join(processed, b("link") === col("raw_link"), "left_anti")
      .select(col("title"), col("link")).orderBy(col("link"))
  }

  // A1: daily sentiment pivot (daily_sentiment_analysis.sql:8-30)
  val a1DailySentiment: Q = (s, dir) =>
    GoldJob.dailySentiment(stg(s, dir)).orderBy(col("analysis_date"))

  // A2+W1: daily category counts + per-day share (double semantics)
  val w1DailyCategoryShare: Q = (s, dir) =>
    GoldJob.dailyCategory(stg(s, dir))
      .withColumn("category_percentage",
        d(col("category_count")) /
          d(sum(col("category_count")).over(Window.partitionBy(col("analysis_date")))))
      .orderBy(col("analysis_date"), col("category"))

  // A3: confidence AVG/MIN/MAX per (date, sentiment) (dashboard.py:128-138)
  val a3ConfidenceStats: Q = (s, dir) =>
    silver(s, dir)
      .groupBy(to_date(col("processed_at")).as("analysis_date"), col("sentiment"))
      .agg(
        (d(sum(cents(col("confidence_score")))) / 100 / count(col("confidence_score")))
          .as("avg_confidence"),
        min(col("confidence_score")).as("min_confidence"),
        max(col("confidence_score")).as("max_confidence"),
        count(lit(1)).as("n"))
      .orderBy(col("analysis_date"), col("sentiment"))

  // F3: CURRENT_DATE-relative counts with injectable today (SURVEY §7.5)
  val f3TodaySentiment: Q = (s, dir) =>
    silver(s, dir)
      .filter(to_date(col("processed_at")) === lit(Today).cast("date"))
      .groupBy(col("sentiment")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("sentiment"))

  // F4+A5+C4: rounded avg confidence today, errors excluded
  val a5AvgConfidenceToday: Q = (s, dir) =>
    silver(s, dir)
      .filter(to_date(col("processed_at")) === lit(Today).cast("date") &&
        col("sentiment") =!= "Erro")
      .agg((d(sum(cents(col("confidence_score")))) / 100 / count(col("confidence_score")))
        .as("avg_confidence"))

  // A7: value_counts + percentage (llm_test_enricher.py:371-383)
  val a7SentimentDistribution: Q = (s, dir) =>
    silver(s, dir).groupBy(col("sentiment")).agg(count(lit(1)).as("n"))
      .withColumn("pct", d(col("n") * 100) / d(sum(col("n")).over(Grain.whole)))
      .orderBy(desc("n"), col("sentiment"))

  // O3: top-k by recency (dashboard.py:169-180), deterministic tiebreak
  val o3RecentHeadlines: Q = (s, dir) =>
    silver(s, dir)
      .select(col("title").as("headline_title"), col("link").as("headline_link"),
        col("processed_at"))
      .orderBy(desc("processed_at"), desc("headline_link")).limit(10)

  // O4: top-5 categories today (llm_enricher.py:344-352)
  val o4TopCategoriesToday: Q = (s, dir) =>
    silver(s, dir)
      .filter(to_date(col("processed_at")) === lit(Today).cast("date") &&
        col("category").isNotNull && col("category") =!= "Erro")
      .groupBy(col("category")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("category")).limit(5)

  // D1/D2/D3: keep-first dedup with deterministic order (SURVEY §2.8)
  val d1DedupKeepFirst: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    graft.sources.Tables.table(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source"), col("doc_id").as("first_doc_id"),
        col("n_chars"))
      .orderBy(col("lang"), col("source"))
  }

  // R1: melt wide sentiment columns → long (dashboard.py:314-321)
  val r1MeltSentiment: Q = (s, dir) =>
    GoldJob.dailySentiment(stg(s, dir))
      .unpivot(Array(col("analysis_date")),
        Array(col("positive_headlines"), col("negative_headlines"),
          col("neutral_headlines")),
        "sentiment_type", "cnt")
      .orderBy(col("analysis_date"), col("sentiment_type"))

  // R2: pivot long → date×category matrix, 0-filled (dashboard.py:401-407)
  val r2PivotCategoryMatrix: Q = (s, dir) => {
    val cats = Seq("Política", "Economia", "Esportes", "Tecnologia", "Cultura")
    val ascii = Seq("politica", "economia", "esportes", "tecnologia", "cultura")
    val pivoted = stg(s, dir).filter(col("category").isin(cats: _*))
      .groupBy(to_date(col("processed_timestamp")).as("analysis_date"))
      .pivot("category", cats).agg(count(lit(1)))
      .na.fill(0)
    cats.zip(ascii).foldLeft(pivoted) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }.orderBy(col("analysis_date"))
  }

  // Q2: daily error-rate validation (dag:124-194)
  val q2ErrorRateDaily: Q = (s, dir) =>
    silver(s, dir)
      .groupBy(to_date(col("processed_at")).as("analysis_date"))
      .agg(count(lit(1)).as("total"),
        count(when(col("sentiment") === "Erro", 1)).as("errors"))
      .withColumn("error_rate", d(col("errors")) / d(col("total")))
      .orderBy(col("analysis_date"))

  // A10: period-split positive-share trend (dashboard.py:618-630)
  val a10TrendSplit: Q = (s, dir) => {
    val split = lit("2024-01-04").cast("date")
    val dte = to_date(col("processed_at"))
    silver(s, dir).agg(
      count(when(dte <= split && col("sentiment") === "Positiva", 1)).as("first_pos"),
      count(when(dte <= split, 1)).as("first_total"),
      count(when(dte > split && col("sentiment") === "Positiva", 1)).as("second_pos"),
      count(when(dte > split, 1)).as("second_total"))
      .withColumn("first_share", d(col("first_pos")) / d(col("first_total")))
      .withColumn("second_share", d(col("second_pos")) / d(col("second_total")))
      .withColumn("delta", col("second_share") - col("first_share"))
  }

  // O7: argmax day by positive headlines (dashboard.py:632-640)
  val o7ArgmaxPositiveDay: Q = (s, dir) =>
    GoldJob.dailySentiment(stg(s, dir))
      .select(col("analysis_date"), col("positive_headlines"))
      .orderBy(desc("positive_headlines"), col("analysis_date")).limit(1)

  // A12: mean headlines per day (dashboard.py:616)
  val a12DailyMeanHeadlines: Q = (s, dir) =>
    silver(s, dir).agg(
      (d(count(lit(1))) / d(countDistinct(to_date(col("processed_at")))))
        .as("avg_per_day"))

  // F5+A9: date-range filter + KPI sums (dashboard.py:268-295)
  val a9KpiDateRange: Q = (s, dir) =>
    GoldJob.dailySentiment(stg(s, dir))
      .filter(col("analysis_date").between(
        lit("2024-01-02").cast("date"), lit("2024-01-05").cast("date")))
      .agg(sum(col("positive_headlines")).as("pos"),
        sum(col("negative_headlines")).as("neg"),
        sum(col("neutral_headlines")).as("neu"),
        sum(col("total_headlines")).as("tot"))
      .withColumn("pct_positive", d(col("pos") * 100) / d(col("tot")))

  // F6+A8: membership filter + regroup (dashboard.py:377-399)
  val f6CategoryMembership: Q = (s, dir) =>
    stg(s, dir)
      .filter(col("category").isin("Política", "Economia", "Esportes"))
      .groupBy(to_date(col("processed_timestamp")).as("analysis_date"), col("category"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("analysis_date"), col("category"))

  // C6-C11 + C14: scalar function suite (trim/length/substr/format/
  // printf/label-map)
  val cScalarSuite: Q = (s, dir) =>
    silver(s, dir).select(
      col("link"),
      length(col("title")).cast("long").as("title_len"),
      upper(substring(col("title"), 1, 10)).as("title_prefix"),
      date_format(col("scraped_at"), "yyyy-MM-dd'T'HH:mm:ss").as("scraped_iso"),
      date_format(col("processed_at"), "dd/MM/yyyy HH:mm").as("display_ts"),
      format_string("%.1f%%", col("confidence_score") * 100).as("conf_pct"),
      datediff(lit("2024-01-08").cast("date"), to_date(col("processed_at")))
        .as("days_ago"),
      when(col("sentiment") === "Positiva", "positive")
        .when(col("sentiment") === "Negativa", "negative")
        .when(col("sentiment") === "Neutra", "neutral")
        .otherwise("error").as("sentiment_label"))
      .orderBy(col("link"))

  // A11: per-group list collect (dashboard.py:509-522). Arrays don't
  // compare across engines (pandas can't sort ndarray cells), so the
  // list is fingerprinted: sorted integer-cents joined with ',' then
  // md5'd — same bytes in Spark and DuckDB, scalar output columns.
  val a11ConfidenceLists: Q = (s, dir) =>
    silver(s, dir).groupBy(col("sentiment"))
      .agg(count(lit(1)).as("n"),
        md5(concat_ws(",",
          sort_array(collect_list(cents(col("confidence_score"))))
            .cast("array<string>"))).as("conf_fingerprint"))
      .orderBy(col("sentiment"))

  // R4: heatmap matrix = R2 pivot + row-total helper column, ordered
  // by total desc (dashboard.py:433-443)
  val r4HeatmapMatrix: Q = (s, dir) => {
    val m = r2PivotCategoryMatrix(s, dir)
    val cats = Seq("politica", "economia", "esportes", "tecnologia", "cultura")
    m.withColumn("total", cats.map(col).reduce(_ + _))
      .orderBy(desc("total"), col("analysis_date"))
  }

  // C-family breadth: string-function suite over titles
  val cStringSuite: Q = (s, dir) =>
    silver(s, dir).select(
      col("link"),
      lower(col("title")).as("title_lower"),
      replace(col("title"), lit(" "), lit("_")).as("snake"),
      regexp_replace(col("title"), "[aeiou]", "*").as("devoweled"),
      instr(col("title"), "a").cast("long").as("first_a"),
      reverse(col("title")).as("reversed"),
      split_part(col("title"), lit(" "), lit(2)).as("second_word"),
      translate(col("title"), "abc", "xyz").as("translated"),
      repeat(lit("-"), 5).as("rule"),
      coalesce(col("category"), lit("Desconhecida")).as("category_or_default"),
      nullif(col("sentiment"), lit("Erro")).as("sentiment_or_null"),
      least(col("confidence_score"), lit(0.75)).as("conf_capped"))
      .orderBy(col("link"))

  // C-family breadth: date/time-function suite
  val cDateSuite: Q = (s, dir) =>
    silver(s, dir).select(
      col("link"),
      year(col("processed_at")).cast("long").as("y"),
      month(col("processed_at")).cast("long").as("m"),
      dayofmonth(col("processed_at")).cast("long").as("d"),
      (dayofweek(col("processed_at")) - 1).cast("long").as("dow0"), // 0=Sunday
      weekofyear(col("processed_at")).cast("long").as("iso_week"),
      last_day(to_date(col("processed_at"))).as("month_end"),
      date_trunc("month", col("processed_at")).as("month_start"),
      add_months(to_date(col("processed_at")), 1).as("next_month"))
      .orderBy(col("link"))

  // Exact percentiles (linear interpolation — same algorithm as the
  // oracle's quantile_cont on identical doubles)
  val aPercentileConfidence: Q = (s, dir) =>
    silver(s, dir).groupBy(col("sentiment"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(confidence_score, 0.5)").as("median_confidence"),
        expr("percentile(confidence_score, 0.9)").as("p90_confidence"))
      .orderBy(col("sentiment"))

  // Superset op (free in Spark, SURVEY §2.4 note): ROLLUP over
  // (date, sentiment) with grand totals
  val aRollupSentiment: Q = (s, dir) =>
    silver(s, dir)
      .rollup(to_date(col("processed_at")).as("analysis_date"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("analysis_date").asc_nulls_first,
        col("sentiment").asc_nulls_first)

  // O-family: LIMIT/OFFSET pagination (page 2 of the recency feed)
  val oPagination: Q = (s, dir) =>
    silver(s, dir)
      .select(col("title").as("headline_title"), col("link").as("headline_link"),
        col("processed_at"))
      .orderBy(desc("processed_at"), desc("headline_link"))
      .offset(10).limit(10)

  // F-family: LIKE / ILIKE pattern filters
  val fLikeFilter: Q = (s, dir) =>
    silver(s, dir)
      .filter(col("title").like("%spark%") || col("title").ilike("%VECTOR%"))
      .groupBy(col("sentiment")).agg(count(lit(1)).as("n"))
      .orderBy(col("sentiment"))

  // Exact sample variance/stddev via integer-cents sums: both
  // engines fold the same exact integers, then apply one identical
  // double formula — order-independent unlike naive stddev()
  val aVarianceConfidence: Q = (s, dir) =>
    silver(s, dir).groupBy(col("sentiment"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("confidence_score"))).as("sx"),
        sum(cents(col("confidence_score")) * cents(col("confidence_score")))
          .as("sx2"))
      .withColumn("variance",
        (d(col("sx2")) - d(col("sx")) * d(col("sx")) / d(col("n"))) /
          d(col("n") - 1) / 10000.0)
      .withColumn("stddev", sqrt(col("variance")))
      .select(col("sentiment"), col("n"), col("variance"), col("stddev"))
      .orderBy(col("sentiment"))

  // W-family: day-over-day delta via lag over the gold series
  // (unpartitioned window over the DAILY gold aggregate — one row
  // per calendar day, bounded at any fact scale)
  val wDayOverDay: Q = (s, dir) => {
    val w = Grain.bounded(col("analysis_date"))
    GoldJob.dailySentiment(stg(s, dir))
      .select(col("analysis_date"), col("total_headlines"))
      .withColumn("prev", lag(col("total_headlines"), 1).over(w))
      .withColumn("delta", col("total_headlines") - col("prev"))
      .orderBy(col("analysis_date"))
  }

  // W-family: ntile quartiles of confidence per sentiment
  val wNtileConfidence: Q = (s, dir) => {
    val w = Window.partitionBy(col("sentiment"))
      .orderBy(col("confidence_score"), col("link"))
    silver(s, dir)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("sentiment"), col("quartile")).agg(count(lit(1)).as("n"))
      .orderBy(col("sentiment"), col("quartile"))
  }

  // W-family: first/last headline link per day (explicit full frame)
  val wFirstLastPerDay: Q = (s, dir) => {
    val w = Window.partitionBy(to_date(col("processed_at")))
      .orderBy(col("processed_at"), col("link"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    silver(s, dir)
      // one select, not chained withColumn: the intervening Project
      // defeats CollapseWindow and the plan pays a second
      // Exchange+Sort for the identical window spec
      .select(to_date(col("processed_at")).as("analysis_date"),
        first(col("link")).over(w).as("first_link"),
        last(col("link")).over(w).as("last_link"))
      .distinct()
      .orderBy(col("analysis_date"))
  }

  // CUBE: all grouping combinations incl. per-sentiment totals
  val aCubeSentiment: Q = (s, dir) =>
    silver(s, dir)
      .cube(to_date(col("processed_at")).as("analysis_date"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("analysis_date").asc_nulls_first,
        col("sentiment").asc_nulls_first)

  val queries: Map[String, Q] = Map(
    "a_cube_sentiment" -> aCubeSentiment,
    "o_pagination" -> oPagination,
    "f_like_filter" -> fLikeFilter,
    "a_variance_confidence" -> aVarianceConfidence,
    "w_day_over_day" -> wDayOverDay,
    "w_ntile_confidence" -> wNtileConfidence,
    "w_first_last_per_day" -> wFirstLastPerDay,
    "p1_staging_projection" -> p1StagingProjection,
    "j1_pending_anti_join" -> j1PendingAntiJoin,
    "a1_daily_sentiment" -> a1DailySentiment,
    "w1_daily_category_share" -> w1DailyCategoryShare,
    "a3_confidence_stats" -> a3ConfidenceStats,
    "f3_today_sentiment" -> f3TodaySentiment,
    "a5_avg_confidence_today" -> a5AvgConfidenceToday,
    "a7_sentiment_distribution" -> a7SentimentDistribution,
    "o3_recent_headlines" -> o3RecentHeadlines,
    "o4_top_categories_today" -> o4TopCategoriesToday,
    "d1_dedup_keep_first" -> d1DedupKeepFirst,
    "r1_melt_sentiment" -> r1MeltSentiment,
    "r2_pivot_category_matrix" -> r2PivotCategoryMatrix,
    "q2_error_rate_daily" -> q2ErrorRateDaily,
    "a10_trend_split" -> a10TrendSplit,
    "o7_argmax_positive_day" -> o7ArgmaxPositiveDay,
    "a12_daily_mean_headlines" -> a12DailyMeanHeadlines,
    "a9_kpi_date_range" -> a9KpiDateRange,
    "f6_category_membership" -> f6CategoryMembership,
    "c_scalar_suite" -> cScalarSuite,
    "a11_confidence_lists" -> a11ConfidenceLists,
    "r4_heatmap_matrix" -> r4HeatmapMatrix,
    "a_rollup_sentiment" -> aRollupSentiment,
    "c_string_suite" -> cStringSuite,
    "c_date_suite" -> cDateSuite,
    "a_percentile_confidence" -> aPercentileConfidence)

  /** DuckDB oracle for every query above, over the same CTE prefix. */
  val oracles: Map[String, String] = {
    val avgConfExpr =
      "CAST(SUM(CAST(round(confidence_score * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / COUNT(confidence_score)"
    val goldCte =
      """gold AS (
        |  SELECT CAST(processed_at AS DATE) AS analysis_date,
        |         count(CASE WHEN sentiment = 'Positiva' THEN 1 END) AS positive_headlines,
        |         count(CASE WHEN sentiment = 'Negativa' THEN 1 END) AS negative_headlines,
        |         count(CASE WHEN sentiment = 'Neutra' THEN 1 END) AS neutral_headlines,
        |         count(link) AS total_headlines
        |  FROM silver GROUP BY 1
        |)""".stripMargin
    Map(
      "p1_staging_projection" -> (H +
        """SELECT link AS headline_link, title AS headline_title, sentiment, category,
          |       processed_at AS processed_timestamp, scraped_at AS scraped_timestamp
          |FROM silver ORDER BY headline_link""".stripMargin),
      "j1_pending_anti_join" -> (H +
        """SELECT title, link FROM bronze b
          |WHERE NOT EXISTS (SELECT 1 FROM silver s
          |                  WHERE s.doc_id % 10 <> 3 AND s.raw_link = b.link)
          |ORDER BY link""".stripMargin),
      "a1_daily_sentiment" -> (H + s", $goldCte" +
        "\nSELECT * FROM gold ORDER BY analysis_date"),
      "w1_daily_category_share" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date, category,
          |       count(link) AS category_count,
          |       CAST(count(link) AS DOUBLE) /
          |         CAST(SUM(count(link)) OVER (PARTITION BY CAST(processed_at AS DATE)) AS DOUBLE)
          |         AS category_percentage
          |FROM silver WHERE category IS NOT NULL
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "a3_confidence_stats" -> (H +
        s"""SELECT CAST(processed_at AS DATE) AS analysis_date, sentiment,
           |       $avgConfExpr AS avg_confidence,
           |       min(confidence_score) AS min_confidence,
           |       max(confidence_score) AS max_confidence,
           |       count(*) AS n
           |FROM silver GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "f3_today_sentiment" -> (H +
        s"""SELECT sentiment, count(*) AS n FROM silver
           |WHERE CAST(processed_at AS DATE) = DATE '$Today'
           |GROUP BY 1 ORDER BY n DESC, sentiment""".stripMargin),
      "a5_avg_confidence_today" -> (H +
        s"""SELECT $avgConfExpr AS avg_confidence FROM silver
           |WHERE CAST(processed_at AS DATE) = DATE '$Today' AND sentiment <> 'Erro'""".stripMargin),
      "a7_sentiment_distribution" -> (H +
        """SELECT sentiment, count(*) AS n,
          |       CAST(count(*) * 100 AS DOUBLE) / CAST(SUM(count(*)) OVER () AS DOUBLE) AS pct
          |FROM silver GROUP BY 1 ORDER BY n DESC, sentiment""".stripMargin),
      "o3_recent_headlines" -> (H +
        """SELECT title AS headline_title, link AS headline_link, processed_at
          |FROM silver ORDER BY processed_at DESC, headline_link DESC LIMIT 10""".stripMargin),
      "o4_top_categories_today" -> (H +
        s"""SELECT category, count(*) AS n FROM silver
           |WHERE CAST(processed_at AS DATE) = DATE '$Today'
           |  AND category IS NOT NULL AND category <> 'Erro'
           |GROUP BY 1 ORDER BY n DESC, category LIMIT 5""".stripMargin),
      "d1_dedup_keep_first" ->
        """SELECT lang, source, doc_id AS first_doc_id, n_chars
          |FROM (SELECT lang, source, doc_id, n_chars,
          |             row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          |      FROM documents)
          |WHERE rn = 1 ORDER BY lang, source""".stripMargin,
      "r1_melt_sentiment" -> (H + s", $goldCte" +
        """
          |SELECT analysis_date, 'negative_headlines' AS sentiment_type, negative_headlines AS cnt FROM gold
          |UNION ALL
          |SELECT analysis_date, 'neutral_headlines', neutral_headlines FROM gold
          |UNION ALL
          |SELECT analysis_date, 'positive_headlines', positive_headlines FROM gold
          |ORDER BY analysis_date, sentiment_type""".stripMargin),
      "r2_pivot_category_matrix" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date,
          |       count(CASE WHEN category = 'Política' THEN 1 END) AS politica,
          |       count(CASE WHEN category = 'Economia' THEN 1 END) AS economia,
          |       count(CASE WHEN category = 'Esportes' THEN 1 END) AS esportes,
          |       count(CASE WHEN category = 'Tecnologia' THEN 1 END) AS tecnologia,
          |       count(CASE WHEN category = 'Cultura' THEN 1 END) AS cultura
          |FROM silver
          |WHERE category IN ('Política','Economia','Esportes','Tecnologia','Cultura')
          |GROUP BY 1 ORDER BY 1""".stripMargin),
      "q2_error_rate_daily" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date, count(*) AS total,
          |       count(CASE WHEN sentiment = 'Erro' THEN 1 END) AS errors,
          |       CAST(count(CASE WHEN sentiment = 'Erro' THEN 1 END) AS DOUBLE) /
          |         CAST(count(*) AS DOUBLE) AS error_rate
          |FROM silver GROUP BY 1 ORDER BY 1""".stripMargin),
      "a10_trend_split" -> (H +
        """SELECT first_pos, first_total, second_pos, second_total,
          |       CAST(first_pos AS DOUBLE) / CAST(first_total AS DOUBLE) AS first_share,
          |       CAST(second_pos AS DOUBLE) / CAST(second_total AS DOUBLE) AS second_share,
          |       CAST(second_pos AS DOUBLE) / CAST(second_total AS DOUBLE)
          |         - CAST(first_pos AS DOUBLE) / CAST(first_total AS DOUBLE) AS delta
          |FROM (SELECT
          |        count(CASE WHEN CAST(processed_at AS DATE) <= DATE '2024-01-04' AND sentiment = 'Positiva' THEN 1 END) AS first_pos,
          |        count(CASE WHEN CAST(processed_at AS DATE) <= DATE '2024-01-04' THEN 1 END) AS first_total,
          |        count(CASE WHEN CAST(processed_at AS DATE) >  DATE '2024-01-04' AND sentiment = 'Positiva' THEN 1 END) AS second_pos,
          |        count(CASE WHEN CAST(processed_at AS DATE) >  DATE '2024-01-04' THEN 1 END) AS second_total
          |      FROM silver)""".stripMargin),
      "o7_argmax_positive_day" -> (H + s", $goldCte" +
        """
          |SELECT analysis_date, positive_headlines FROM gold
          |ORDER BY positive_headlines DESC, analysis_date LIMIT 1""".stripMargin),
      "a12_daily_mean_headlines" -> (H +
        """SELECT CAST(count(*) AS DOUBLE) /
          |       CAST(count(DISTINCT CAST(processed_at AS DATE)) AS DOUBLE) AS avg_per_day
          |FROM silver""".stripMargin),
      "a9_kpi_date_range" -> (H + s", $goldCte" +
        """
          |SELECT CAST(SUM(positive_headlines) AS BIGINT) AS pos,
          |       CAST(SUM(negative_headlines) AS BIGINT) AS neg,
          |       CAST(SUM(neutral_headlines) AS BIGINT) AS neu,
          |       CAST(SUM(total_headlines) AS BIGINT) AS tot,
          |       CAST(CAST(SUM(positive_headlines) AS BIGINT) * 100 AS DOUBLE) /
          |         CAST(CAST(SUM(total_headlines) AS BIGINT) AS DOUBLE) AS pct_positive
          |FROM gold
          |WHERE analysis_date BETWEEN DATE '2024-01-02' AND DATE '2024-01-05'""".stripMargin),
      "f6_category_membership" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date, category, count(*) AS n
          |FROM silver WHERE category IN ('Política','Economia','Esportes')
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "c_scalar_suite" -> (H +
        """SELECT link,
          |       CAST(length(title) AS BIGINT) AS title_len,
          |       upper(substr(title, 1, 10)) AS title_prefix,
          |       strftime(scraped_at, '%Y-%m-%dT%H:%M:%S') AS scraped_iso,
          |       strftime(processed_at, '%d/%m/%Y %H:%M') AS display_ts,
          |       printf('%.1f%%', confidence_score * 100) AS conf_pct,
          |       CAST(date_diff('day', CAST(processed_at AS DATE), DATE '2024-01-08') AS INTEGER) AS days_ago,
          |       CASE sentiment WHEN 'Positiva' THEN 'positive'
          |                      WHEN 'Negativa' THEN 'negative'
          |                      WHEN 'Neutra' THEN 'neutral'
          |                      ELSE 'error' END AS sentiment_label
          |FROM silver ORDER BY link""".stripMargin),
      "r4_heatmap_matrix" -> (H +
        """SELECT *, politica + economia + esportes + tecnologia + cultura AS total
          |FROM (
          |  SELECT CAST(processed_at AS DATE) AS analysis_date,
          |         count(CASE WHEN category = 'Política' THEN 1 END) AS politica,
          |         count(CASE WHEN category = 'Economia' THEN 1 END) AS economia,
          |         count(CASE WHEN category = 'Esportes' THEN 1 END) AS esportes,
          |         count(CASE WHEN category = 'Tecnologia' THEN 1 END) AS tecnologia,
          |         count(CASE WHEN category = 'Cultura' THEN 1 END) AS cultura
          |  FROM silver
          |  WHERE category IN ('Política','Economia','Esportes','Tecnologia','Cultura')
          |  GROUP BY 1)
          |ORDER BY total DESC, analysis_date""".stripMargin),
      "a_percentile_confidence" -> (H +
        """SELECT sentiment, count(*) AS n,
          |       quantile_cont(confidence_score, 0.5) AS median_confidence,
          |       quantile_cont(confidence_score, 0.9) AS p90_confidence
          |FROM silver GROUP BY 1 ORDER BY 1""".stripMargin),
      "c_string_suite" -> (H +
        """SELECT link,
          |       lower(title) AS title_lower,
          |       replace(title, ' ', '_') AS snake,
          |       regexp_replace(title, '[aeiou]', '*', 'g') AS devoweled,
          |       CAST(strpos(title, 'a') AS BIGINT) AS first_a,
          |       reverse(title) AS reversed,
          |       split_part(title, ' ', 2) AS second_word,
          |       translate(title, 'abc', 'xyz') AS translated,
          |       repeat('-', 5) AS rule,
          |       coalesce(category, 'Desconhecida') AS category_or_default,
          |       nullif(sentiment, 'Erro') AS sentiment_or_null,
          |       least(confidence_score, 0.75) AS conf_capped
          |FROM silver ORDER BY link""".stripMargin),
      "c_date_suite" -> (H +
        """SELECT link,
          |       CAST(year(processed_at) AS BIGINT) AS y,
          |       CAST(month(processed_at) AS BIGINT) AS m,
          |       CAST(day(processed_at) AS BIGINT) AS d,
          |       CAST(dayofweek(processed_at) AS BIGINT) AS dow0,
          |       CAST(weekofyear(processed_at) AS BIGINT) AS iso_week,
          |       last_day(CAST(processed_at AS DATE)) AS month_end,
          |       date_trunc('month', processed_at) AS month_start,
          |       CAST(processed_at AS DATE) + INTERVAL 1 MONTH AS next_month
          |FROM silver ORDER BY link""".stripMargin),
      "o_pagination" -> (H +
        """SELECT title AS headline_title, link AS headline_link, processed_at
          |FROM silver ORDER BY processed_at DESC, headline_link DESC
          |LIMIT 10 OFFSET 10""".stripMargin),
      "f_like_filter" -> (H +
        """SELECT sentiment, count(*) AS n FROM silver
          |WHERE title LIKE '%spark%' OR title ILIKE '%VECTOR%'
          |GROUP BY 1 ORDER BY 1""".stripMargin),
      "a_variance_confidence" -> (H +
        """SELECT sentiment, n,
          |       (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          |         / CAST(n - 1 AS DOUBLE) / 10000.0 AS variance,
          |       sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          |         / CAST(n - 1 AS DOUBLE) / 10000.0) AS stddev
          |FROM (SELECT sentiment, count(*) AS n,
          |             SUM(CAST(round(confidence_score * 100, 0) AS BIGINT)) AS sx,
          |             SUM(CAST(round(confidence_score * 100, 0) AS BIGINT)
          |                 * CAST(round(confidence_score * 100, 0) AS BIGINT)) AS sx2
          |      FROM silver GROUP BY 1)
          |ORDER BY sentiment""".stripMargin),
      "w_day_over_day" -> (H + s", $goldCte" +
        """
          |SELECT analysis_date, total_headlines,
          |       lag(total_headlines, 1) OVER (ORDER BY analysis_date) AS prev,
          |       total_headlines - lag(total_headlines, 1) OVER (ORDER BY analysis_date) AS delta
          |FROM gold ORDER BY analysis_date""".stripMargin),
      "w_ntile_confidence" -> (H +
        """SELECT sentiment, CAST(quartile AS INTEGER) AS quartile, count(*) AS n
          |FROM (SELECT sentiment,
          |             ntile(4) OVER (PARTITION BY sentiment
          |                            ORDER BY confidence_score, link) AS quartile
          |      FROM silver)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "w_first_last_per_day" -> (H +
        """SELECT DISTINCT CAST(processed_at AS DATE) AS analysis_date,
          |       first_value(link) OVER w AS first_link,
          |       last_value(link) OVER w AS last_link
          |FROM silver
          |WINDOW w AS (PARTITION BY CAST(processed_at AS DATE)
          |             ORDER BY processed_at, link
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY analysis_date""".stripMargin),
      "a_cube_sentiment" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date, sentiment, count(*) AS n
          |FROM silver
          |GROUP BY CUBE (CAST(processed_at AS DATE), sentiment)
          |ORDER BY analysis_date ASC NULLS FIRST, sentiment ASC NULLS FIRST""".stripMargin),
      "a11_confidence_lists" -> (H +
        """SELECT sentiment, count(*) AS n,
          |       md5(array_to_string(
          |         list_sort(list(CAST(round(confidence_score * 100, 0) AS BIGINT))),
          |         ',')) AS conf_fingerprint
          |FROM silver GROUP BY 1 ORDER BY 1""".stripMargin),
      "a_rollup_sentiment" -> (H +
        """SELECT CAST(processed_at AS DATE) AS analysis_date, sentiment, count(*) AS n
          |FROM silver
          |GROUP BY ROLLUP (CAST(processed_at AS DATE), sentiment)
          |ORDER BY analysis_date ASC NULLS FIRST, sentiment ASC NULLS FIRST""".stripMargin)
    )
  }
}
