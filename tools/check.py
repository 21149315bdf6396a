#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify,
then execute each oracle_sql.json query in DuckDB over the same
parquet tables and compare (column names, row count, values with
rows+columns sorted). Usage: check.py [sfDir] [outDir] [--skip-verify]
"""
import json, subprocess, sys

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

import datetime, decimal

def coerce(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return pd.Timestamp(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return str(list(v))
    return v

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: coerce(v) if v is not None else None)
            df[c] = pd.to_numeric(df[c], errors="ignore") if df[c].map(
                lambda v: isinstance(v, float) or v is None).all() else df[c]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def mem_limit_mb():
    """Half of this host's MemTotal, in MB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 2048
    raise RuntimeError("no MemTotal in /proc/meminfo")

def main():
    if "--skip-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
            capture_output=True, text=True, cwd="/root/repo")
        if r.returncode != 0:
            print(r.stdout[-4000:]); print(r.stderr[-4000:])
            sys.exit(1)
        for line in r.stderr.splitlines():
            if "[verify]" in line:
                print(line)
    con = duckdb.connect()
    # large-SF probes (the 10x ScaleGen corpus) push pair-emitting
    # oracles (sim_knn_graph's windowed n²/cells scoring) past RAM;
    # cap memory and let DuckDB spill instead of dying
    # half of MemTotal: high enough that every feasible oracle runs in
    # RAM, low enough to leave the rest of the host (and the Spark
    # JVM) room and to spill instead of dying if one grows
    # pathological
    try:
        con.execute(f"SET memory_limit='{mem_limit_mb()}MB'")
        con.execute("SET temp_directory='/tmp/duckdb_spill'")
    except Exception:
        pass
    for t in TABLES:
        # testdata tables are single files; Spark-written corpora
        # (e.g. the ScaleGen 10x probe) are directories of part files
        # — recursive glob handles partitioned/nested layouts, and an
        # empty match fails HERE with a clear error instead of every
        # oracle on the table failing with a confusing mismatch
        import os, glob as _glob
        if os.path.isdir(f"{SF}/{t}.parquet"):
            pat = f"{SF}/{t}.parquet/**/*.parquet"
            assert _glob.glob(pat, recursive=True), \
                f"no parquet part files under {SF}/{t}.parquet"
        else:
            pat = f"{SF}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # Verify writes errors.json: one entry per query whose Spark run
    # threw (parquet output absent). Surface them FIRST and count them
    # as failures — a broken query must never vanish from the gate.
    try:
        errors = json.load(open(f"{OUT}/errors.json"))
    except Exception:
        errors = {}
    for name, msg in sorted(errors.items()):
        print(f"FAIL {name}: spark query threw: {msg}")
    ok = fail = 0
    fail += len(errors)
    for name, sql in sorted(oracle.items()):
        if name in errors:
            continue  # already counted above; no parquet to read
        try:
            got = pd.read_parquet(f"{OUT}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing ({e})"); fail += 1; continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); fail += 1; continue
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(x.columns)}"); fail += 1; continue
        if len(g) != len(x):
            print(f"FAIL {name}: rows {len(g)} vs {len(x)}"); fail += 1; continue
        diffs = []
        for c in g.columns:
            a, b = g[c], x[c]
            # driver-gate parity: its value hash is dtype-sensitive, so
            # int64 on one side vs float64 on the other (e.g. DuckDB
            # HUGEINT sums fetched as float) must FAIL here too
            ka, kb = a.dtype.kind, b.dtype.kind
            if ka != kb and {ka, kb} <= set("iuf"):
                diffs.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
                continue
            try:
                eq = (a.astype("float64") == b.astype("float64")) | (a.isna() & b.isna())
            except (ValueError, TypeError):
                eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = int((~eq).idxmax())
                diffs.append(f"{c}[{i}]: {a[i]!r} vs {b[i]!r}")
        if diffs:
            print(f"FAIL {name}: {'; '.join(diffs[:3])}"); fail += 1
        else:
            ok += 1
    declared = set(json.load(open(f"{OUT}/oracle_sql.json")))
    print(f"\n{ok} ok, {fail} fail, {len(declared)} oracles")
    sys.exit(1 if fail else 0)

if __name__ == "__main__":
    main()
