#!/usr/bin/env python3
"""Layered benchmark of the graft query engine.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 12 --trace 0

Run from the repository root.  Builds the engine from src/main/scala with
the Scala compiler that ships with Spark (into .bench_build/, reused while
the sources are unchanged), then launches one driver JVM directly -- no sbt --
with build.sbt's JVM options and a fixed 2 GB heap.  The driver
is a closed loop with one client: the workload's queries (workloads.py) run
back to back at local[k], k = the cores the JVM may use, over the sf0.1
tables in data/.

  warm-up pass   fills the artifact registry and the JIT; oracle-backed
                 queries write their result for the check (part of setup_s)
  timed passes   round(--seconds / the list's usual pass time) passes, two
                 at least, each in a fresh seeded order and each result
                 into the `noop` sink
  check          after the JVM exits, every dumped result is compared with
                 the answer DuckDB computes from the query's registered
                 oracle SQL (oracle.py)

--trace 1 alternates untraced and traced passes (Spark, QueryExecution and
streaming listeners attached) and prints the per-layer metrics instead of
the end-to-end ones.  The last line of stdout is the result JSON; the line
before it carries the details (seed, sample counts, failed_frac, cores,
heap, Spark version, effective SparkConf).  Each run's events (the spans)
and summary are kept under .bench_out/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import workloads  # noqa: E402

DATA_DIR = os.path.join(BENCH, "data", "sf0.1")
RUN_TIMEOUT_S = 170
MARKERS = ("_SUCCESS", "current")

# build.sbt's javaOptions: the JDK 17 module opens Spark needs outside
# spark-submit, the UI off, the session time zone pinned.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Keeps the JVM from writing its hsperfdata counters file outside the checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
# The heap's size is fixed, so the collector makes no run-to-run resizing
# decisions that would move the timings (with only -Xmx set, run_s spread
# 0.10-0.15 over five seeds).  It is not pre-touched, so peak_rss_mb counts
# the heap pages the collector actually used; that follows its young-
# generation sizing more than the program (2.0-2.4 GB on heavy), so what the
# program keeps is reported apart as live_heap_mb, the live objects on the
# heap after the timed passes.
HEAP = "2g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the engine compiles against: build.sbt's unmanagedBase,
    or $SPARK_HOME/jars when that is set."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if m is None:
            fail("build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    return os.path.join(jars, "*")


def _sources(root, sub):
    out = []
    for d, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(root):
    """Compile the engine and the driver; skip when the source digest is
    unchanged.  Returns the run classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources under {main_src}; run from the repository root")
    out = os.path.join(root, ".bench_build")
    engine = _sources(root, "src/main/scala")
    resources = _sources(root, "src/main/resources")
    driver = _sources(root, os.path.relpath(os.path.join(BENCH, "src"), root))
    h = hashlib.sha256()
    for f in engine + resources + driver:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(out, "stamp")
    classes, bench_classes = os.path.join(out, "classes"), os.path.join(out, "bench-classes")
    cp = [bench_classes, classes, spark_jars()]
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(bench_classes)
    log = os.path.join(out, "build.log")

    def scalac(dest, classpath, files):
        with open(log, "a") as lf:
            r = subprocess.run(
                ["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
                 "-nowarn", "-d", dest, "-classpath", os.pathsep.join(classpath)]
                + [f for f in files if f.endswith(".scala")],
                stdout=lf, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            fail(f"compile failed, see {log}", 4)

    scalac(classes, [spark_jars()], engine)
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, os.path.join(root, "src", "main", "resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    scalac(bench_classes, [classes, spark_jars()], driver)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def java_cmd(cp, main, args, tmp):
    return (["java", NO_PERF_DATA] + JVM_OPTS + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                                                 "-cp", os.pathsep.join(cp), main] + args)


def run_driver(cp, run_dir, queries, seed, passes, trace, deadline):
    """Launch the driver JVM; returns (launch epoch ms, events)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    args = ["--data", DATA_DIR, "--run", run_dir, "--queries", ",".join(queries),
            "--seed", str(seed), "--passes", str(passes), "--trace", str(trace)]
    with open(os.path.join(run_dir, "driver.log"), "w") as log:
        t_launch = time.time_ns() / 1e6
        p = subprocess.Popen(java_cmd(cp, "perfbench.Driver", args, tmp), stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("driver JVM did not finish in time, see its log under .bench_out/", 3)
    if rc != 0:
        fail(f"driver JVM exited with {rc}, see its log under .bench_out/", 3)
    with open(os.path.join(run_dir, "events.jsonl")) as f:
        return t_launch, [json.loads(line) for line in f if line.strip()]


def count_markers(root, lo, hi):
    """Artifact markers (build-completion files) written within [lo, hi] ms."""
    n = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f in MARKERS or f.endswith(".done"):
                if lo <= os.stat(os.path.join(d, f)).st_mtime_ns / 1e6 <= hi:
                    n += 1
    return n


def streams_of(events):
    out = {}
    for e in events:
        if e["type"] == "stream_start":
            out[e["run_id"]] = {"start": e["t"], "qid": e.get("qid"), "end": None, "progress": []}
    for e in events:
        s = out.get(e.get("run_id"))
        if s is None:
            continue
        if e["type"] == "stream_progress":
            s["progress"].append(e)
        elif e["type"] == "stream_end":
            s["end"] = e["t"]
    return out


def analyze(events, t_launch, run_dir, oracle):
    """Everything the run reports, from its events.  Returns (result, details,
    per_query)."""
    by = {}
    for e in events:
        by.setdefault(e["type"], []).append(e)
    timed_q = [q for q in by.get("query", []) if q["phase"] in ("timed", "traced")]
    passes = {ph: [p for p in by.get("pass", []) if p["phase"] == ph] for ph in ("timed", "traced")}
    t_timed = by["timed"][0]["t"]
    t_timed_end = by["timed_end"][0]["t"]
    env = by["env"][0]

    # Failures are per query execution: it threw, its query's answer differs
    # from the oracle, or its trace broke an invariant.
    bad = {}  # qid -> reason
    for q in timed_q:
        if not q["ok"]:
            bad[q["qid"]] = f"threw: {q['err']}"
    sql = {e["name"]: e["sql"] for e in by.get("oracle", [])}
    checked, mismatched = 0, {}
    for c in by.get("check", []):
        why = (f"result dump threw: {c['err']}" if not c["ok"]
               else oracle.check(sql[c["name"]], c["dir"]))
        checked += 1
        if why:
            mismatched[c["name"]] = why
    for q in timed_q:
        if q["name"] in mismatched:
            bad.setdefault(q["qid"], f"oracle: {mismatched[q['name']]}")

    lat = [q["t1"] - q["t0"] for q in timed_q if q["ok"]]
    pct = {50: metrics.percentile(lat, 50), 90: metrics.percentile(lat, 90)}
    for m in metrics.check_percentiles(lat, pct):
        for q in timed_q:
            bad.setdefault(q["qid"], f"latency: {m}")

    run_ms = [p["t1"] - p["t0"] for p in passes["timed"]]
    e2e = {
        "setup_s": (t_timed - t_launch) / 1000.0,
        "run_s": statistics.median(run_ms) / 1000.0,
        "latency_p50_ms": pct[50][0],
        "latency_p90_ms": pct[90][0],
        "peak_rss_mb": by["rss"][0]["vm_hwm_kb"] / 1024.0,
        "live_heap_mb": by["heap"][0]["live_bytes"] / 2**20,
    }

    layers, per_query = {}, []
    if passes["traced"]:
        jobs, tasks, qes = by.get("job", []), by.get("task", []), by.get("qe", [])
        streams = streams_of(events)
        per_pass = []
        for p in passes["traced"]:
            qs = [q for q in timed_q if q["phase"] == "traced" and q["pass"] == p["pass"]]
            m, pq, v = metrics.layer_pass((p["t0"], p["t1"]), qs, jobs, tasks, qes, streams,
                                          env["cores"])
            per_pass.append(m)
            per_query += pq
            for qid, msg in v:
                bad.setdefault(qid, f"trace: {msg}")
        layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        tables = {t["name"]: statistics.median(t["ms"]) for t in by.get("table", [])}
        layers["tables.read_ms"] = statistics.median(tables.values())
        for name, ms in sorted(tables.items()):
            layers[f"tables.read_ms.{name}"] = ms
        traced_ms = [p["t1"] - p["t0"] for p in passes["traced"]]
        layers["trace.overhead_frac"] = statistics.median(traced_ms) / statistics.median(run_ms) - 1
    # The warm-up fills the registry (part of setup_s), so the timed passes
    # should build nothing.
    artifacts = os.path.join(run_dir, "artifacts")
    layers["artifacts.warmup_builds"] = count_markers(artifacts, t_launch, t_timed)
    layers["artifacts.builds"] = count_markers(artifacts, t_timed, t_timed_end)

    attempted = len(timed_q)
    failed = sum(1 for q in timed_q if q["qid"] in bad)
    details = {
        "failed_frac": failed / attempted,
        "session_ready_s": (by["ready"][0]["t"] - t_launch) / 1000.0,
        "passes": len(run_ms), "traced_passes": len(passes["traced"]),
        "latency_samples": len(lat),
        "latency_p50_samples_beyond": pct[50][2], "latency_p90_samples_beyond": pct[90][2],
        "latency_p50_meets_sample_rule": pct[50][2] >= 10,
        "latency_p90_meets_sample_rule": pct[90][2] >= 10,
        "checked_queries": checked, "unchecked_queries": sum(1 for s in sql.values() if s is None),
        "failures": sorted(set(bad.values()))[:10],
        "cores": env["cores"], "heap_max_bytes": env["heap_max_bytes"],
        "spark_version": env["spark_version"], "java_version": env["java_version"],
        "spark_conf": env["conf"],
    }
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers}, details, per_query


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(DATA_DIR):
        fail(f"no benchmark tables under {DATA_DIR}")
    cp = build(root)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    queries = workloads.WORKLOADS[a.workload]
    run_dir = os.path.join(root, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keep = os.path.join(root, ".bench_out")
    os.makedirs(keep, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        t_launch, events = run_driver(cp, run_dir, queries, a.seed,
                                     workloads.passes(a.workload, a.seconds), a.trace, deadline)
        import oracle
        res, details, per_query = analyze(events, t_launch, run_dir, oracle.Oracle(DATA_DIR))
        with open(os.path.join(keep, tag + ".json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "queries": queries, "end_to_end": res["e2e"], "per_layer": res["layers"],
                       "details": details, "per_query": per_query}, f, indent=1, sort_keys=True)
        shutil.copyfile(os.path.join(run_dir, "events.jsonl"), os.path.join(keep, tag + ".events.jsonl"))
    finally:
        log = os.path.join(run_dir, "driver.log")
        if os.path.exists(log):
            shutil.copyfile(log, os.path.join(keep, tag + ".driver.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]}
    source = res["e2e"] if a.trace == 0 else res["layers"]
    out = {k: {"value": source[k], "unit": u} for k, u in units.items()}
    for k, v in out.items():
        if v["value"] is None or (isinstance(v["value"], float) and not math.isfinite(v["value"])):
            fail(f"metric {k} was not measured", 5)
    print(json.dumps(dict(details, workload=a.workload, seed=a.seed, queries=len(queries))))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
