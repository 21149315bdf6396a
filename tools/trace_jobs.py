#!/usr/bin/env python3
"""Per-query or per-layer Spark jobs, wall time and task time from a perfbench trace.

  python3 tools/trace_jobs.py <run dir | trace.json> [queries.txt]

A traced perfbench run (`--trace 1`) writes
`.bench_build/runs/<workload>-seed<n>-trace1/trace.json`. Spark work is
counted in the innermost span open when it ran.

`curation` runs: each operator span (`operators.dedup` /
`operators.sim`, field `op`, numbered across passes) has an
`operators.build` and an `operators.exec` child; the query of op n is
line `(n - 1) % len(queries)` of the run's `in/queries.txt`, found
beside `trace.json` unless given. Prints one line per query: Spark jobs
per pass (build + exec), the median wall ms of the op span, the median
task `run_ms` and the summed `accum_dropped` / `blocks_restored` health
counters over all passes.

`pipeline_daily` runs (found by their `pipeline.day` spans): prints one
line per simulated day (op n is day `(n - 1) % len(days)` of the run's
`in/days.tsv`) with wall ms / Spark jobs / task `run_ms` for each layer
span: ingest, enrich, gold, reports, and serve (the six dashboard call
spans, summed), then the same for the op's time outside any layer span
(the dashboard's `defaultRange` runs there). A last line per day gives
the medians over every op of that day.
"""
import json
import os
import statistics
import sys

LAYERS = ("ingest", "enrich", "gold", "reports", "serve", "outside")


def load(path, queries_path=None):
    """(spans, queries, days): queries for a curation run, days
    (`in/days.tsv` dates, when present) for a pipeline run."""
    trace = os.path.join(path, "trace.json") if os.path.isdir(path) else path
    run_dir = os.path.dirname(os.path.abspath(trace))
    with open(trace) as f:
        spans = json.load(f)["spans"]
    if any(s["name"] == "pipeline.day" for s in spans):
        days_tsv = os.path.join(run_dir, "in", "days.tsv")
        if not os.path.exists(days_tsv):
            return spans, None, None
        with open(days_tsv) as f:
            return spans, None, [l.split("\t")[1].strip() for l in f if l.strip()]
    queries_path = queries_path or os.path.join(run_dir, "in", "queries.txt")
    with open(queries_path) as f:
        queries = [q.strip() for q in f if q.strip()]
    return spans, queries, None


def children_of(spans):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return children


def wall_ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def per_query(spans, queries):
    """{query: [per-pass dict(jobs, wall_ms, run_ms, dropped, restored)]}"""
    children = children_of(spans)
    out = {q: [] for q in queries}
    ops = sorted((s for s in spans if s["parent"] == 0 and "op" in s),
                 key=lambda s: s["op"])
    for op in ops:
        kids = [c for c in children.get(op["id"], [])
                if c["name"] in ("operators.build", "operators.exec")]
        counters = [c.get("counters", {}) for c in kids]
        own = op.get("counters", {})
        out[queries[(op["op"] - 1) % len(queries)]].append({
            "jobs": int(sum(c.get("jobs", 0) for c in counters)),
            "wall_ms": wall_ms(op),
            "run_ms": sum(c.get("run_ms", 0) for c in counters),
            "dropped": own.get("accum_dropped", 0),
            "restored": own.get("blocks_restored", 0),
        })
    return out


def per_day(spans):
    """[(op, {layer: dict(wall_ms, jobs, run_ms)})] for each pipeline.day op."""
    children = children_of(spans)

    def subtree(span, key):
        return span.get("counters", {}).get(key, 0) + sum(
            subtree(c, key) for c in children.get(span["id"], []))

    out = []
    ops = sorted((s for s in spans if s["name"] == "pipeline.day"),
                 key=lambda s: s["op"])
    for op in ops:
        row = {}
        for kid in children.get(op["id"], []):
            layer = kid["name"].removeprefix("jobs.").split(".")[0]
            acc = row.setdefault(layer, {"wall_ms": 0.0, "jobs": 0, "run_ms": 0.0})
            acc["wall_ms"] += wall_ms(kid)
            acc["jobs"] += int(subtree(kid, "jobs"))
            acc["run_ms"] += subtree(kid, "run_ms")
        own = op.get("counters", {})
        row["outside"] = {
            "wall_ms": wall_ms(op) - sum(r["wall_ms"] for r in row.values()),
            "jobs": int(own.get("jobs", 0)), "run_ms": own.get("run_ms", 0)}
        out.append((op["op"], row))
    return out


def print_days(rows, days):
    def cell(r):
        return f"{r['wall_ms']:.0f}/{r['jobs']:g}/{r['run_ms']:.0f}" if r else "-"

    def line(op, day, cells):
        print(f"{op:<5}{day:<12}" + "".join(f"{c:<16}" for c in cells))

    def day_of(op):
        return (op - 1) % len(days) if days else 0

    print("wall ms / Spark jobs / task run_ms per layer")
    line("op", "day", LAYERS)
    for op, row in rows:
        line(op, days[day_of(op)] if days else "", (cell(row.get(l)) for l in LAYERS))
    for i, day in enumerate(days or [""]):
        same = [row for op, row in rows if day_of(op) == i]
        med = {l: {k: statistics.median(row[l][k] for row in same if l in row)
                   for k in ("wall_ms", "jobs", "run_ms")}
               for l in LAYERS if any(l in row for row in same)}
        line("med", day, (cell(med.get(l)) for l in LAYERS))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spans, queries, days = load(*argv[1:])
    if queries is None:
        print_days(per_day(spans), days)
        return
    rows = per_query(spans, queries)
    print(f"{'query':<24}{'jobs/pass':<16}{'wall_ms':>9}{'run_ms':>9}"
          f"{'dropped':>9}{'restored':>9}")
    for q, passes in rows.items():
        if not passes:
            continue
        jobs = ",".join(str(p["jobs"]) for p in passes)
        print(f"{q:<24}{jobs:<16}"
              f"{statistics.median(p['wall_ms'] for p in passes):>9.0f}"
              f"{statistics.median(p['run_ms'] for p in passes):>9.0f}"
              f"{sum(p['dropped'] for p in passes):>9.0f}"
              f"{sum(p['restored'] for p in passes):>9.0f}")
    total = [p["jobs"] for passes in rows.values() for p in passes]
    if total:
        print(f"jobs per query: {sum(total) / len(total):.2f}")


if __name__ == "__main__":
    main(sys.argv)
