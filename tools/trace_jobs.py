#!/usr/bin/env python3
"""Per-query Spark jobs, wall time and task time from a perfbench trace.

  python3 tools/trace_jobs.py <run dir | trace.json> [queries.txt]

A traced perfbench run (`--trace 1`) writes
`.bench_build/runs/<workload>-seed<n>-trace1/trace.json`. Each operator
span (`operators.dedup` / `operators.sim`, field `op`, numbered across
passes) has an `operators.build` and an `operators.exec` child; the
query of op n is line `(n - 1) % len(queries)` of the run's
`in/queries.txt`, found beside `trace.json` unless given.

Prints one line per query: Spark jobs per pass (build + exec), the
median wall ms of the op span, the median task `run_ms` and the summed
`accum_dropped` / `blocks_restored` health counters over all passes.
"""
import json
import os
import statistics
import sys


def load(path, queries_path=None):
    trace = os.path.join(path, "trace.json") if os.path.isdir(path) else path
    run_dir = os.path.dirname(os.path.abspath(trace))
    queries_path = queries_path or os.path.join(run_dir, "in", "queries.txt")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    with open(queries_path) as f:
        queries = [q.strip() for q in f if q.strip()]
    return spans, queries


def per_query(spans, queries):
    """{query: [per-pass dict(jobs, wall_ms, run_ms, dropped, restored)]}"""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
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
            "wall_ms": (op["end_ns"] - op["start_ns"]) / 1e6,
            "run_ms": sum(c.get("run_ms", 0) for c in counters),
            "dropped": own.get("accum_dropped", 0),
            "restored": own.get("blocks_restored", 0),
        })
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spans, queries = load(*argv[1:])
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
