"""Metrics from the driver's result: end to end (untraced run), the
workload's own named metrics, and per layer (traced run). The first
passes warm up (pass 1 is also the checked one); every metric is read
off the later, measured passes.
Times in the end-to-end metrics are at nominal host speed (see probe.py);
the per-layer ones are as measured.
"""
import collections

from probe import slowdown
from stats import median, percentile, self_time_ns

MB = 1 << 20
DASHBOARD_CALLS = ("dailySentiment", "categoryCounts", "confidenceStats",
                   "recentHeadlines", "kpis", "topCategoryTimeSeries")
SERVE_SPANS = {f"serve.{c}" for c in DASHBOARD_CALLS}
JOBS = ("ingest", "enrich", "gold", "reports")


def measured(res):
    """The operations of the measured passes that succeeded: the later
    half of the passes, as the JVM keeps compiling hot code through the
    first ones (every run makes at least three passes)."""
    warmup = max(o["pass"] for o in res["ops"]) // 2
    return [o for o in res["ops"] if o["pass"] > warmup and o["ok"]]


def normalize(res, samples):
    """Add each set-up's and operation's time at nominal host speed,
    from the host probe's samples over the same interval."""
    res["setup_norm_s"] = [s / slowdown(samples, *ns)
                           for s, ns in zip(res["setup_s"], res["setup_ns"])]
    for o in res["ops"]:
        if "t0_ns" in o:
            o["norm_ms"] = o["ms"] / slowdown(samples, o["t0_ns"], o["t1_ns"])


def op_medians(res, kind=None, key="norm_ms"):
    """Each operation's median time in seconds over the measured passes."""
    by = collections.defaultdict(list)
    for o in measured(res):
        if kind is None or o["kind"] == kind:
            by[o["index"]].append(o[key] / 1e3)
    return {i: median(v) for i, v in sorted(by.items())}


def end_to_end(res):
    """The gated metrics, with units."""
    return {
        "setup_s": (median(res["setup_norm_s"]), "s"),
        "pass_s": (sum(op_medians(res).values()), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }


def workload_metrics(workload, res, failed):
    """The workload's own metrics by name, with units and sample counts."""
    ops = measured(res)
    per_op = list(op_medians(res).values())
    pass_s = sum(per_op)
    m = {"setup_s": [median(res["setup_norm_s"]), "s"],
         "setup_wall_s": [median(res["setup_s"]), "s"],
         "pass_wall_s": [sum(op_medians(res, key="ms").values()), "s"],
         "host_slowdown": [median([o["ms"] / o["norm_ms"] for o in ops]), "x"],
         "failed_frac": [failed / max(1, len(res["ops"])), "frac"],
         "peak_rss_mb": [res["peak_rss_mb"], "MB"],
         "op_p50_ms": [median(per_op) * 1e3, "ms"],
         "pass_cpu_s": [res["pass_cpu_s"], "s"],
         "passes": [max(o["pass"] for o in res["ops"]), "count"],
         "samples": [len(ops), "count"]}
    if workload == "pipeline_daily":
        rows = sum(o["ingested"] for o in res["ops"] if o["pass"] == 1 and o["ok"])
        serve = [o[k] for o in ops for c in DASHBOARD_CALLS
                 if (k := f"serve_{c}_ms") in o]
        m.update(first_day_s=[median(list(op_medians(res, "first_day").values())), "s"],
                 incremental_day_s=[median(list(op_medians(res, "incremental_day").values())), "s"],
                 pipeline_rows_per_s=[rows / pass_s, "1/s"],
                 dashboard_p50_ms=[median(serve), "ms"],
                 dashboard_p95_ms=[percentile(serve, 95), "ms"],
                 dashboard_samples=[len(serve), "count"])
    else:
        m.update(curation_s=[pass_s, "s"],
                 curation_query_p50_s=[median(per_op), "s"],
                 curation_query_p80_s=[percentile(per_op, 80), "s"])
    return m


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs):
    return median(xs) if xs else 0.0


def per_layer(res, overhead_frac):
    """Per-layer metrics from the spans of a traced run. A layer the
    workload does not call reads 0."""
    spans = res["spans"]
    ops = {o["id"]: o for o in measured(res)}
    spans = [s for s in spans if s["op"] in ops]
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    roots = [s for s in spans if s["parent"] == 0]

    def c(s, key):
        return s["counters"].get(key, 0.0)

    def total(op_id, key):  # listener counts sit on the innermost span
        return sum(c(s, key) for s in spans if s["op"] == op_id)

    def subtree(s, key):
        return c(s, key) + sum(subtree(k, key) for k in children[s["id"]])

    def dur_s(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def named(name, kind=None):
        return [s for s in spans if s["name"] == name
                and (kind is None or ops[s["op"]]["kind"] == kind)]

    m = {}
    ids = list(ops)
    m["sources.first_read_ms"] = (median(res["first_read_ms"]), "ms")
    m["sources.scan_mb"] = (_mean([total(i, "input_b") / MB for i in ids]), "MB")
    m["sources.write_mb"] = (_mean([total(i, "output_b") / MB for i in ids]), "MB")

    days = [o for o in ops.values() if o["kind"] in ("first_day", "incremental_day")]
    for kind, tag in (("first_day", "first"), ("incremental_day", "incr")):
        m[f"jobs.{kind}_s"] = (_med([o["ms"] / 1e3 for o in days if o["kind"] == kind]), "s")
        for j in JOBS:
            ss = named(f"jobs.{j}", kind)
            m[f"jobs.{j}.{tag}_s"] = (_med([dur_s(s) for s in ss]), "s")
            m[f"jobs.{j}.{tag}_spark_jobs"] = (_med([c(s, "jobs") for s in ss]), "count")
    m["jobs.gold.scan_mb"] = (_med([c(s, "input_b") / MB for s in named("jobs.gold")]), "MB")
    probed = sum(o["ingested"] for o in days)
    appended = sum(o["appended"] for o in days)
    m["jobs.enrich.useful_frac"] = (appended / probed if probed else 0.0, "frac")
    calls = sum(o.get("classify_calls", 0) for o in days)
    m["enrich.classify_calls_per_row"] = (calls / appended if appended else 0.0, "count")
    m["enrich.classify_s"] = (_mean([o.get("classify_s", 0.0) for o in days]), "s")

    reqs = [s for s in spans if s["name"] in SERVE_SPANS]
    for call in DASHBOARD_CALLS:
        m[f"serve.{call}.p50_ms"] = (_med([dur_s(s) * 1e3 for s in named(f"serve.{call}")]), "ms")
    m["serve.build_ms"] = (_med([dur_s(s) * 1e3 for s in named("serve.build")]), "ms")
    m["serve.exec_ms"] = (_med([dur_s(s) * 1e3 for s in named("serve.exec")]), "ms")
    for key, name in (("jobs", "spark_jobs"), ("tasks", "tasks")):
        m[f"serve.{name}_per_request"] = (_mean([subtree(s, key) for s in reqs]), "count")
    m["serve.scan_mb_per_request"] = (_mean([subtree(s, "input_b") / MB for s in reqs]), "MB")

    queries = [s for s in roots if s["name"].startswith("operators.")]
    qids = [s["op"] for s in queries]
    m["operators.build_s"] = (_mean([dur_s(s) for s in named("operators.build")]), "s")
    m["operators.exec_s"] = (_mean([dur_s(s) for s in named("operators.exec")]), "s")
    for fam in ("dedup", "sim"):
        m[f"operators.{fam}_s"] = (_mean([dur_s(s) for s in queries
                                         if s["name"] == f"operators.{fam}"]), "s")
    for key, name in (("jobs", "spark_jobs"), ("stages", "stages"), ("tasks", "tasks")):
        m[f"operators.{name}"] = (_mean([total(i, key) for i in qids]), "count")
    m["operators.shuffle_mb"] = (_mean([total(i, "shuffle_write_b") / MB for i in qids]), "MB")
    m["operators.spill_mb"] = (_mean([total(i, "spill_b") / MB for i in qids]), "MB")
    skews = [x for s in spans if s["op"] in qids for x in s["stage_skews"]]
    m["operators.task_skew_max"] = (max(skews, default=0.0), "ratio")
    m["operators.blocks_restored"] = (_mean([c(s, "blocks_restored") for s in queries]), "count")
    m["operators.accum_dropped"] = (_mean([c(s, "accum_dropped") for s in queries]), "count")

    wall = sum(o["ms"] for o in ops.values()) / 1e3
    cores = int(res["stamp"]["master"][len("local["):-1])  # Spark's task slots
    run_s = sum(total(i, "run_ms") for i in ids) / 1e3
    m["spark.busy_frac"] = (run_s / (wall * cores) if wall else 0.0, "frac")
    m["spark.sched_wait_s"] = (_mean([total(i, "sched_ms") / 1e3 for i in ids]), "s")
    m["spark.gc_s"] = (_mean([total(i, "gc_ms") / 1e3 for i in ids]), "s")
    m["spark.failed_tasks"] = (sum(total(i, "failed_tasks") for i in ids), "count")
    m["ops.self_s"] = (_mean([self_time_ns(s, children[s["id"]]) / 1e9
                                       for s in roots]), "s")
    m["trace.overhead_frac"] = (overhead_frac, "frac")
    return m
