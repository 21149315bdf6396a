"""Independent checks of the program's outputs, computed in DuckDB from
the generated inputs. Each function returns a dict mapping the index
of every checked operation to None (output correct) or a message."""
import datetime as dt
import glob
import math

import duckdb
import pandas as pd

SENTIMENTS = "['Positiva', 'Negativa', 'Neutra']"
MOCK_CATEGORIES = "['Política', 'Economia', 'Esportes', 'Tecnologia', 'Cultura']"

# The pipeline's cleaning rules: titles of at least 15 characters,
# site-relative links made absolute, non-http links dropped, then one
# row per link (smallest title) and one per title (smallest link).
CLEAN_SQL = """
WITH raw AS (
  SELECT * FROM read_csv('{csv}', header = true, auto_detect = false,
    columns = {{'title': 'VARCHAR', 'link': 'VARCHAR', 'source': 'VARCHAR',
               'scraped_at': 'TIMESTAMP'}})),
norm AS (
  SELECT title,
         CASE WHEN starts_with(link, '/') THEN 'https://g1.globo.com' || link
              ELSE link END AS link,
         source, scraped_at
  FROM raw WHERE length(trim(title)) >= 15),
by_link AS (
  SELECT * FROM norm WHERE starts_with(link, 'http')
  QUALIFY row_number() OVER (PARTITION BY link ORDER BY title) = 1)
SELECT * FROM by_link
QUALIFY row_number() OVER (PARTITION BY title ORDER BY link) = 1
"""


def _diff(con, a, b):
    """Rows of query a missing from b and of b missing from a."""
    return con.execute(f"""SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))),
                                  (SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))""").fetchone()


def pipeline(in_dir, result):
    """Recompute bronze, silver and both gold tables of pass 1 from the
    CSV drops; check every day's counts and reports, and the last day's
    dashboard replies."""
    work = result["checks"]["work"]
    days = [l.split("\t") for l in open(f"{in_dir}/days.tsv").read().split("\n") if l]
    ops = {o["index"]: o for o in result["ops"] if o["pass"] == 1}
    con = duckdb.connect()
    con.execute("""CREATE TABLE silver_exp (raw_link VARCHAR, title VARCHAR,
        link VARCHAR, source VARCHAR, scraped_at TIMESTAMP, sentiment VARCHAR,
        category VARCHAR, confidence_score DOUBLE, processed_at TIMESTAMP)""")
    out = {}
    for i, (name, date) in enumerate(days):
        csv = glob.glob(f"{in_dir}/raw/{name}/*.csv")[0]
        con.execute(f"CREATE OR REPLACE TABLE bronze_exp AS {CLEAN_SQL.format(csv=csv)}")
        con.execute(f"""INSERT INTO silver_exp
            SELECT link, title, link, coalesce(source, 'g1'), scraped_at,
                   {SENTIMENTS}[i % 3 + 1], {MOCK_CATEGORIES}[i % 5 + 1],
                   0.5 + CAST(i % 50 AS DOUBLE) / 100.0, TIMESTAMP '{date} 12:00:00'
            FROM (SELECT *, row_number() OVER (ORDER BY link) - 1 AS i
                  FROM bronze_exp
                  WHERE link NOT IN (SELECT raw_link FROM silver_exp))""")
        bronze_n = con.execute("SELECT count(*) FROM bronze_exp").fetchone()[0]
        new_n = con.execute(f"""SELECT count(*) FROM silver_exp
            WHERE processed_at = TIMESTAMP '{date} 12:00:00'""").fetchone()[0]
        silver_n = con.execute("SELECT count(*) FROM silver_exp").fetchone()[0]
        errors = []
        op = ops.get(i)
        if op is None or not op.get("ok"):
            out[i] = "day did not run"
            continue
        if op["ingested"] != bronze_n:
            errors.append(f"ingested {op['ingested']} vs {bronze_n}")
        if op["appended"] != new_n:
            errors.append(f"appended {op['appended']} vs {new_n}")
        r = op["reports"]
        today = f"CAST(processed_at AS DATE) = DATE '{date}'"
        avg_conf, top = con.execute(f"""SELECT
            (SELECT avg(confidence_score) FROM silver_exp WHERE {today}
               AND sentiment <> 'Erro'),
            (SELECT list([category, CAST(n AS VARCHAR)] ORDER BY n DESC, category)
               FROM (SELECT category, count(*) n FROM silver_exp
                     WHERE {today} AND category <> 'Erro' GROUP BY 1
                     ORDER BY n DESC, category LIMIT 5))""").fetchone()
        expect = {"total_today": new_n, "errors_today": 0, "processed_today": new_n,
                  "pending": 0, "total_raw": bronze_n, "total_processed": silver_n}
        errors += [f"{k} {r[k]} vs {v}" for k, v in expect.items() if r[k] != v]
        if (r["avg_confidence"] is None) != (avg_conf is None) or (
                avg_conf is not None and abs(r["avg_confidence"] - avg_conf) > 5e-4 + 1e-9):
            errors.append(f"avg_confidence {r['avg_confidence']} vs {avg_conf}")
        if [[c, str(n)] for c, n in r["top_categories"]] != (top or []):
            errors.append(f"top_categories {r['top_categories']} vs {top}")
        out[i] = "; ".join(errors) or None

    # final state of pass 1: bronze of the last day, silver, gold
    last = len(days) - 1
    errors = []
    cols = "title, link, source, scraped_at"
    b = _diff(con, f"SELECT {cols} FROM read_parquet('{work}/bronze/*.parquet')",
              f"SELECT {cols} FROM bronze_exp")
    if b != (0, 0):
        errors.append(f"bronze differs {b}")
    cols = ("raw_link, title, link, source, scraped_at, sentiment, category, "
            "confidence_score, processed_at")
    s = _diff(con, f"SELECT {cols} FROM read_parquet('{work}/silver/*.parquet')",
              f"SELECT {cols} FROM silver_exp")
    if s != (0, 0):
        errors.append(f"silver differs {s}")
    g = _diff(con, f"""SELECT CAST(analysis_date AS VARCHAR), positive_headlines,
            negative_headlines, neutral_headlines, total_headlines
        FROM read_parquet('{work}/gold/daily_sentiment_analysis/*/*.parquet',
                          hive_partitioning = true)""",
              """SELECT CAST(CAST(processed_at AS DATE) AS VARCHAR),
            count(*) FILTER (sentiment = 'Positiva'), count(*) FILTER (sentiment = 'Negativa'),
            count(*) FILTER (sentiment = 'Neutra'), count(link)
        FROM silver_exp GROUP BY 1""")
    if g != (0, 0):
        errors.append(f"gold daily_sentiment_analysis differs {g}")
    got = con.execute(f"""SELECT CAST(analysis_date AS VARCHAR) d, category,
            category_count, category_percentage
        FROM read_parquet('{work}/gold/daily_category_analysis/*/*.parquet',
                          hive_partitioning = true) ORDER BY d, category""").fetchall()
    exp = con.execute("""SELECT d, category, n, n / sum(n) OVER (PARTITION BY d)
        FROM (SELECT CAST(CAST(processed_at AS DATE) AS VARCHAR) d, category,
                     count(link) n
              FROM silver_exp WHERE category IS NOT NULL GROUP BY 1, 2)
        ORDER BY d, category""").fetchall()
    if len(got) != len(exp) or any(
            a[:3] != b[:3] or abs(a[3] - b[3]) > 1e-12 for a, b in zip(got, exp)):
        errors.append("gold daily_category_analysis differs")
    if ops.get(last, {}).get("ok"):
        errors += _dashboard(con, f"{work}/silver/*.parquet", ops[last]["dashboard"])
    if result["checks"]["rerun_appended"] != 0:
        errors.append(f"re-running the last day appended {result['checks']['rerun_appended']}")
    if errors:
        out[last] = "; ".join(filter(None, [out.get(last)] + errors))
    return out


DASHBOARD_SQL = {
    "dailySentiment": """SELECT d, count(*) FILTER (sentiment = 'Positiva'),
        count(*) FILTER (sentiment = 'Negativa'), count(*) FILTER (sentiment = 'Neutra'),
        count(link) FROM s GROUP BY d ORDER BY d""",
    "categoryCounts": """SELECT d, category, count(*) n FROM s
        WHERE category IS NOT NULL GROUP BY d, category
        ORDER BY d DESC, n DESC, category""",
    "confidenceStats": """SELECT d, sentiment, avg(confidence_score),
        min(confidence_score), max(confidence_score) FROM s
        GROUP BY d, sentiment ORDER BY d DESC, sentiment""",
    "recentHeadlines": """SELECT title, link, sentiment, category, processed_at
        FROM silver ORDER BY processed_at DESC, link DESC LIMIT {n}""",
    "kpis": """SELECT count(*), count(*) FILTER (sentiment = 'Positiva'),
        count(*) FILTER (sentiment = 'Negativa'), count(*) FILTER (sentiment = 'Neutra'),
        count(*) FILTER (sentiment = 'Positiva') * 100.0 / count(*),
        count(*) / count(DISTINCT d) FROM s""",
    "topCategoryTimeSeries": """WITH c AS (SELECT d, category, count(*) n FROM s
            WHERE category IS NOT NULL GROUP BY d, category),
        top AS (SELECT category FROM c GROUP BY category
            ORDER BY sum(n) DESC, category LIMIT {k})
        SELECT c.category, d, n FROM c JOIN top USING (category)
        ORDER BY d, c.category""",
}


def _same(a, b, tol):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, (dt.date, dt.datetime)):
        a = dt.datetime.fromisoformat(a) if isinstance(b, dt.datetime) else dt.date.fromisoformat(a)
        if isinstance(b, dt.datetime):
            b = b.replace(tzinfo=dt.timezone.utc)
        return a == b
    if isinstance(b, float) or isinstance(a, float):
        return math.isclose(a, b, rel_tol=0, abs_tol=tol)
    return a == b


def _dashboard(con, silver, replies):
    """Replay the six dashboard calls as SQL over the program's silver."""
    con.execute(f"CREATE OR REPLACE VIEW silver AS SELECT * FROM read_parquet('{silver}')")
    con.execute(f"""CREATE OR REPLACE VIEW s AS
        SELECT *, CAST(processed_at AS DATE) AS d FROM silver
        WHERE CAST(processed_at AS DATE) BETWEEN DATE '{replies['start']}'
                                             AND DATE '{replies['end']}'""")
    errors = []
    for call, sql in DASHBOARD_SQL.items():
        exp = con.execute(sql.format(k=replies["k"], n=replies["n"])).fetchall()
        got = replies[call]
        # rounded averages are compared to the rounding step
        tol = 5e-4 + 1e-9 if call == "confidenceStats" else 1e-9
        if len(exp) != len(got) or not all(
                len(g) == len(x) and all(_same(a, b, tol) for a, b in zip(g, x))
                for g, x in zip(got, exp)):
            errors.append(f"dashboard {call}: {got[:2]} vs {exp[:2]}")
    return errors


def _coerce(v):
    if isinstance(v, (dt.date, dt.datetime)):
        return pd.Timestamp(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return str(list(v))
    return float(v) if type(v).__name__ == "Decimal" else v


def _normalize(df):
    """Columns by name, values coerced, rows sorted on every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: _coerce(v) if v is not None else None)
            if df[c].map(lambda v: isinstance(v, float) or v is None).all():
                df[c] = pd.to_numeric(df[c])
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def curation(in_dir, result):
    """Each query's registered DuckDB oracle over the generated corpus,
    compared with the program's output of pass 1."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/corpus/{t}.parquet')")
    outputs = result["checks"]["outputs"]
    out = {}
    for o in result["ops"]:
        if o["pass"] != 1:
            continue
        if not o.get("ok"):
            out[o["index"]] = "query threw"
            continue
        name = o["kind"]
        try:
            got = _normalize(pd.read_parquet(f"{outputs}/{name}"))
            exp = _normalize(con.execute(result["checks"]["oracle_sql"][name]).fetchdf())
        except Exception as e:  # an oracle or read error is a failed check
            out[o["index"]] = f"{name}: {e}"
            continue
        msg = None
        if list(got.columns) != list(exp.columns):
            msg = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            msg = f"rows {len(got)} vs {len(exp)}"
        else:
            for c in got.columns:
                a, b = got[c], exp[c]
                if a.dtype.kind != b.dtype.kind and {a.dtype.kind, b.dtype.kind} <= set("iuf"):
                    msg = f"{c}: dtype {a.dtype} vs {b.dtype}"
                    break
                try:
                    eq = (a.astype("float64") == b.astype("float64")) | (a.isna() & b.isna())
                except (ValueError, TypeError):
                    eq = (a == b) | (a.isna() & b.isna())
                if not eq.all():
                    i = int((~eq).idxmax())
                    msg = f"{c}[{i}]: {a[i]!r} vs {b[i]!r}"
                    break
        out[o["index"]] = f"{name}: {msg}" if msg else None
    return out


CHECKS = {"pipeline_daily": pipeline, "curation": curation}
