#!/usr/bin/env python3
"""Medallion benchmark: one seeded workload against the program's public
entry points, outputs checked against DuckDB, metrics as one JSON line.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the program and the driver with sbt into the checkout; later runs reuse
the build while the sources are unchanged. Everything a run writes goes
under `.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HISTORY = os.path.join(BUILD, "history.jsonl")
WORKLOADS = ("pipeline_daily", "curation")
SETUP_REPS = 3
# passes every run makes, whatever `--seconds`: the first half of the
# passes warm up and the rest are measured
MIN_PASSES = 3
HEAP = "2g"
RUN_LIMIT_S = 170      # the whole run, build excluded
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit needs these (as the program's
# own build passes them to its forked runs)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# what the build reads: build definitions and main sources of the
# program and of the driver (tests and build outputs excluded)
BUILD_INPUTS = ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else []
        for d, dirs, fs in os.walk(path):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver; return the classpath."""
    stamp = os.path.join(BUILD, "build.json")
    digest = source_digest()
    try:
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"], digest
    except (OSError, ValueError, KeyError):
        pass
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and not any("sbt.repository.config" in o for o in opts):
        # the resolvers the local artifact cache was filled from
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # offline, and sbt's scratch files (sockets, file watchers, JNA)
    # kept inside the checkout
    env["SBT_OPTS"] = " ".join(opts + [
        "-Dsbt.offline=true", "-Dsbt.boot.lock=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(p) for p in classpath):
        fail(f"could not read the classpath from {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def run_driver(classpath, workload, in_dir, out_dir, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: a heap that grows as the run goes slows the early
    # passes by a different amount from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           f"workload={workload}", f"in={in_dir}", f"out={out_dir}",
           f"seconds={seconds}", f"trace={trace}", f"cpus={spark_cpus()}",
           f"setup_reps={SETUP_REPS}", f"min_passes={MIN_PASSES}"]
    log = os.path.join(out_dir, "driver.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"driver exceeded the time limit, see {log}")
    if rc != 0:
        fail(f"driver exited with {rc}, see {log}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def trace_overhead(workload, pass_s):
    """The traced pass time against the median untraced pass time of
    earlier runs of the workload in this checkout on as many cores;
    0 when there are none yet."""
    try:
        with open(HISTORY) as f:
            past = [json.loads(l) for l in f if l.strip()]
    except OSError:
        past = []
    untraced = [h["pass_s"] for h in past if h["workload"] == workload
                and h["trace"] == 0 and h["nproc"] == nproc()]
    if not untraced:
        return 0.0
    untraced.sort()
    return pass_s / untraced[len(untraced) // 2] - 1


def nproc():
    return len(os.sched_getaffinity(0))


def spark_cpus():
    """Spark's task slots: half the cores, so the driver thread, the JIT
    compiler and the garbage collector run beside the tasks instead of
    queueing behind them on a shared host."""
    return max(1, nproc() // 2)


def git_commit():
    """HEAD when the checkout is itself a git work tree, else None."""
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10, check=True).stdout.split()
    except (OSError, ValueError, subprocess.SubprocessError):
        return None
    return head if os.path.realpath(top) == os.path.realpath(ROOT) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout: the program's sources are missing")
    sys.path.insert(0, HERE)
    import checks
    import gen
    import metrics
    import probe

    os.makedirs(BUILD, exist_ok=True)
    classpath, digest = build()
    started = time.monotonic()
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # keep only this run's files
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(in_dir)
    gen.GENERATORS[args.workload](in_dir, args.seed)
    host = probe.HostProbe()
    host.start()
    try:
        res = run_driver(classpath, args.workload, in_dir, out_dir, args.seconds,
                         args.trace, started + RUN_LIMIT_S)
    finally:
        host.stop()
    metrics.normalize(res, host.samples)

    verdicts = checks.CHECKS[args.workload](in_dir, res)
    bad = {o["id"] for o in res["ops"] if not o["ok"]}
    bad |= {o["id"] for o in res["ops"]
            if o["pass"] == 1 and verdicts.get(o["index"], "not checked")}
    for o in res["ops"]:
        if o["id"] in bad:
            print(f"FAILED {o['kind']} (pass {o['pass']}, #{o['index']}): "
                  f"{o.get('error') or verdicts.get(o['index'], 'not checked')}")
    stamp = dict(res["stamp"], workload=args.workload, seed=args.seed,
                 seconds=args.seconds, trace=args.trace, commit=git_commit(),
                 source_sha256=digest)
    summary = {"stamp": stamp,
               "workload_metrics": metrics.workload_metrics(args.workload, res, len(bad))}
    pass_s = metrics.end_to_end(res)["pass_s"][0]
    if args.trace:
        layer = metrics.per_layer(res, trace_overhead(args.workload, pass_s))
        summary["per_layer"] = layer
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump({"stamp": stamp, "per_layer": layer, "spans": res["spans"]}, f)
        chosen = layer
    else:
        chosen = metrics.end_to_end(res)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": args.workload, "trace": args.trace,
                            "nproc": stamp["nproc"], "pass_s": pass_s}) + "\n")
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"workload_metrics": summary["workload_metrics"]}))
    print(json.dumps({
        "correct": not bad, "attempted": len(res["ops"]), "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
