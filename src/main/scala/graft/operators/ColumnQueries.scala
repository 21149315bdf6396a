package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.functions.{TextFunctions => TF}
import ColumnIdioms._

/** Scalar function suites: datetime, string, regex, null, array,
  * map, higher-order, generator and interval functions.
  */
object ColumnQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("c_")

  // Datetime kitchen sink: truncations, field extraction, calendar
  // arithmetic — thinned to every 997th key so the per-row surface
  // stays oracle-comparable without bulk. ISO day-of-week is pinned
  // via weekday()+1 (Mon=1..Sun=7) — the only cross-engine-stable
  // convention.
  val cDatetimeSuite: Q = (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        to_date(date_trunc("week", col("o_orderdate"))).as("wk_start"),
        to_date(date_trunc("quarter", col("o_orderdate"))).as("qtr_start"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        (weekday(col("o_orderdate")) + 1).cast("long").as("iso_dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(to_date(col("o_orderdate")), 2).as("plus_2mo"),
        date_add(to_date(col("o_orderdate")), 10).as("plus_10d"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy(col("o_orderkey"))

  /** Array-function suite over token arrays (flat scalar outputs so
    * the oracle compares cleanly across engines). */
  val cArraySuite: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("toks", sort_array(array_distinct(TF.tokens(col("text")))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_distinct"),
        element_at(col("toks"), 1).as("first_token"),
        element_at(col("toks"), -1).as("last_token"),
        array_contains(col("toks"), "spark").as("has_spark"),
        concat_ws("|", slice(col("toks"), 1, 3)).as("first3"))
      .orderBy(col("doc_id"))

  /** Higher-order array functions (aggregate / filter / exists /
    * forall / zip_with) over token arrays — the lambda-expression
    * surface, flat scalar outputs for the oracle (which replays
    * zip_with(toks, reverse(toks)) via symmetric indexing).
    */
  val cHigherOrderSuite: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("toks", TF.tokens(col("text")))
      .select(col("doc_id"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("sum_tok_len"),
        expr("size(filter(toks, t -> length(t) > 4))").cast("long").as("n_long"),
        expr("exists(toks, t -> t = 'the')").as("has_the"),
        expr("forall(toks, t -> length(t) > 0)").as("all_nonempty"),
        expr("aggregate(zip_with(toks, reverse(toks), (a, b) -> IF(a = b, 1L, 0L)), 0L, (a, x) -> a + x)")
          .as("n_sym_pos"))
      .orderBy(col("doc_id"))

  /** Regex-extraction surface: capture groups, regex filters
    * (rlike), and regex splitting — the pattern-mining primitives
    * over raw text, all codegen'd.
    */
  val cRegexSuite: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      regexp_extract(col("text"), "^(\\w+) (\\w+)", 1).as("w1"),
      regexp_extract(col("text"), "^(\\w+) (\\w+)", 2).as("w2"),
      col("text").rlike("[0-9]").as("has_digit"),
      col("text").rlike("\\b(the|and)\\b").as("has_conjunction"),
      size(split(col("text"), "[aeiou]+")).cast("long").as("n_vowel_splits"))
      .orderBy(col("doc_id"))

  /** Extended string-function surface: translate / pads / repeat /
    * reverse / replace / position / left-right slices / ascii, over
    * the first token of each document.
    */
  val cStringSuite2: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("w", substring_index(col("text"), " ", 1))
      .select(col("doc_id"),
        translate(col("w"), "aeiou", "AEIOU").as("t_vowels"),
        lpad(col("w"), 12, "_").as("t_lpad"),
        rpad(substring(col("w"), 1, 4), 6, ".").as("t_rpad"),
        repeat(substring(col("w"), 1, 2), 3).as("t_repeat"),
        reverse(col("w")).as("t_rev"),
        regexp_replace(col("w"), "e", "3").as("t_leet"),
        instr(col("w"), "e").cast("long").as("t_pos_e"),
        substring(col("w"), 1, 2).as("t_left2"),
        ascii(col("w")).cast("long").as("t_ascii"))
      .orderBy(col("doc_id"))

  /** Null-handling surface: nullif / try-division / coalesce /
    * null-safe equality over a derived sparse column (every 3rd doc
    * NULL) — the null-semantics contract an engine must pin down.
    */
  val cNullSuite: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("sparse",
        when(col("doc_id") % 3 === 0, col("n_chars")))
      .select(col("doc_id"),
        coalesce(col("sparse"), lit(-1L)).as("filled"),
        nullif(col("sparse"), col("n_chars")).isNull.as("matches_nchars"),
        (col("n_chars").cast("double") /
          nullif(col("doc_id") % 5, lit(0)).cast("double")).as("try_div"),
        col("sparse") <=> col("n_chars") as "nullsafe_eq",
        isnull(col("sparse")).as("is_missing"))
      .orderBy(col("doc_id"))

  /** Map-typed column surface: per-doc token→length map built with
    * map_from_arrays, then cardinality / key lookup (null when
    * absent) / value-fold — flat scalar outputs for the oracle's
    * MAP replay.
    */
  val cMapSuite: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("ks", sort_array(array_distinct(TF.tokens(col("text")))))
      .withColumn("m", map_from_arrays(col("ks"),
        expr("transform(ks, k -> length(k))")))
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_keys"),
        element_at(col("m"), "the").cast("long").as("len_the"),
        expr("aggregate(map_values(m), 0L, (a, x) -> a + x)").as("sum_val_len"))
      .orderBy(col("doc_id"))

  /** Generator surface: posexplode over token arrays — leading-token
    * vocabulary (tokens appearing in the first 3 positions), with
    * 1-based positions to match the oracle's generate_subscripts.
    */
  val cGeneratorSuite: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
      .filter(col("pos") < 3)
      .select(col("col").as("token"), (col("pos") + 1).cast("long").as("pos1"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_lead"), min(col("pos1")).as("min_pos"))
      .orderBy(desc("n_lead"), col("token"))
      .limit(30)

  // ---------------------------------------------------------------
  // c_interval_suite — calendar-interval arithmetic with exact
  // cross-engine twins: add_months end-of-month clamping, last_day,
  // day offsets, quarter truncation, and next-Monday (replayed in
  // the oracle from ISO dow arithmetic). Scalar per-row — one
  // codegen pass, no shuffle before the ORDER BY.
  // ---------------------------------------------------------------
  val cIntervalSuite: Q = (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(col("o_orderkey"), col("d"),
        add_months(col("d"), 1).as("plus_1m"),
        add_months(col("d"), 13).as("plus_13m"),
        last_day(col("d")).as("month_end"),
        date_add(col("d"), 45).as("plus_45d"),
        date_sub(col("d"), 30).as("minus_30d"),
        date_trunc("quarter", col("d")).cast("date").as("quarter_start"),
        next_day(col("d"), "Mon").as("next_monday"))
      .orderBy(col("o_orderkey"))

  val queries: Map[String, Q] = Map(
    "c_datetime_suite" -> cDatetimeSuite,
    "c_array_suite" -> cArraySuite,
    "c_string_suite2" -> cStringSuite2,
    "c_regex_suite" -> cRegexSuite,
    "c_null_suite" -> cNullSuite,
    "c_higher_order_suite" -> cHigherOrderSuite,
    "c_map_suite" -> cMapSuite,
    "c_generator_suite" -> cGeneratorSuite,
    "c_interval_suite" -> cIntervalSuite)

  val oracles: Map[String, String] = Map(
    "c_datetime_suite" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) AS d,
        |       CAST(date_trunc('week', o_orderdate) AS DATE) AS wk_start,
        |       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo,
        |       CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
        |       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |       CAST(week(o_orderdate) AS BIGINT) AS iso_week,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
        |       CAST(o_orderdate AS DATE) + 10 AS plus_10d,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders WHERE o_orderkey % 997 = 0 ORDER BY o_orderkey""".stripMargin,
    "c_higher_order_suite" ->
      """SELECT doc_id,
        |       CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_tok_len,
        |       CAST(len(list_filter(toks, t -> length(t) > 4)) AS BIGINT) AS n_long,
        |       len(list_filter(toks, t -> t = 'the')) > 0 AS has_the,
        |       len(list_filter(toks, t -> NOT length(t) > 0)) = 0 AS all_nonempty,
        |       CAST(list_sum(list_transform(range(1, len(toks) + 1),
        |              i -> CASE WHEN toks[CAST(i AS INTEGER)] = toks[-CAST(i AS INTEGER)]
        |                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_sym_pos
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "c_string_suite2" ->
      """SELECT doc_id,
        |       translate(w, 'aeiou', 'AEIOU') AS t_vowels,
        |       lpad(w, 12, '_') AS t_lpad,
        |       rpad(substr(w, 1, 4), 6, '.') AS t_rpad,
        |       repeat(substr(w, 1, 2), 3) AS t_repeat,
        |       reverse(w) AS t_rev,
        |       regexp_replace(w, 'e', '3', 'g') AS t_leet,
        |       CAST(strpos(w, 'e') AS BIGINT) AS t_pos_e,
        |       substr(w, 1, 2) AS t_left2,
        |       CAST(ascii(w) AS BIGINT) AS t_ascii
        |FROM (SELECT doc_id, split_part(text, ' ', 1) AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "c_regex_suite" ->
      """SELECT doc_id,
        |       regexp_extract(text, '^(\w+) (\w+)', 1) AS w1,
        |       regexp_extract(text, '^(\w+) (\w+)', 2) AS w2,
        |       regexp_matches(text, '[0-9]') AS has_digit,
        |       regexp_matches(text, '\b(the|and)\b') AS has_conjunction,
        |       CAST(len(string_split_regex(text, '[aeiou]+')) AS BIGINT) AS n_vowel_splits
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c_null_suite" ->
      """SELECT doc_id,
        |       coalesce(sparse, -1) AS filled,
        |       nullif(sparse, n_chars) IS NULL AS matches_nchars,
        |       CAST(n_chars AS DOUBLE) / CAST(nullif(doc_id % 5, 0) AS DOUBLE) AS try_div,
        |       sparse IS NOT DISTINCT FROM n_chars AS nullsafe_eq,
        |       sparse IS NULL AS is_missing
        |FROM (SELECT doc_id, n_chars,
        |             CASE WHEN doc_id % 3 = 0 THEN n_chars END AS sparse
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "c_map_suite" ->
      """SELECT doc_id, CAST(cardinality(m) AS BIGINT) AS n_keys,
        |       CAST(m['the'][1] AS BIGINT) AS len_the,
        |       CAST(list_sum(map_values(m)) AS BIGINT) AS sum_val_len
        |FROM (SELECT doc_id, map(ks, list_transform(ks, k -> length(k))) AS m
        |      FROM (SELECT doc_id,
        |                   list_sort(list_distinct(string_split(text, ' '))) AS ks
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "c_generator_suite" ->
      """SELECT token, count(*) AS n_lead, CAST(min(pos) AS BIGINT) AS min_pos
        |FROM (SELECT unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
        |      FROM (SELECT string_split(text, ' ') AS toks FROM documents))
        |WHERE pos <= 3
        |GROUP BY 1 ORDER BY n_lead DESC, token LIMIT 30""".stripMargin,
    "c_array_suite" ->
      """SELECT doc_id,
        |       CAST(len(toks) AS BIGINT) AS n_distinct,
        |       toks[1] AS first_token,
        |       toks[-1] AS last_token,
        |       list_contains(toks, 'spark') AS has_spark,
        |       array_to_string(toks[1:3], '|') AS first3
        |FROM (SELECT doc_id,
        |             list_sort(list_distinct(string_split(text, ' '))) AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "c_interval_suite" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1m,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 13 MONTH AS DATE) AS plus_13m,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE) AS plus_45d,
        |       CAST(CAST(o_orderdate AS DATE) - INTERVAL 30 DAY AS DATE) AS minus_30d,
        |       CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
        |         AS quarter_start,
        |       CAST(CAST(o_orderdate AS DATE) + to_days(CAST(
        |         ((1 - isodow(CAST(o_orderdate AS DATE)) + 6) % 7) + 1 AS INTEGER))
        |         AS DATE) AS next_monday
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin)
}
