"""Arithmetic over the driver's raw observations.

The JVM driver (src/perfbench/Driver.scala) records windows and listener
events; everything derived from them -- interval unions, self times,
percentiles, per-layer totals -- is computed here so it can be unit-tested
(tests/test_metrics.py).  Times are epoch milliseconds.

Each derivation also checks the invariant it relies on.  A broken
invariant is returned as a violation naming the query it belongs to, and
run.py counts every such query execution as failed.
"""
import math
import statistics

# Spark stamps job start/end with System.currentTimeMillis, so a job interval
# can stick out of the sub-millisecond query window by up to a millisecond at
# each end.
CLOCK_TOL_MS = 2.0
# Task run time is measured inside the task, job time by the scheduler; the
# ratio may exceed 1 by scheduling granularity, never by much.
CORE_UTIL_MAX = 1.05


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gaps_ms(intervals, lo, hi):
    """Length of [lo, hi) that no interval covers: the gaps before, between
    and after the sorted intervals.  Computed apart from union_ms, so that
    covered + gaps = hi - lo is a check and not an identity."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if a > cursor:
            total += a - cursor
        cursor = max(cursor, b)
    return total + (hi - cursor)


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_ms(children, a, b)


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100), with the number of samples
    strictly above it.  The guide's rule: a percentile is meaningful only when
    at least ten samples lie beyond it.  Returns (value, n, n_beyond)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0, 0
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return v, n, sum(1 for x in xs if x > v)


def check_percentiles(samples, stats):
    """stats: {q: (value, n, n_beyond)} from percentile().  Violations when a
    value falls outside the samples, the order of percentiles breaks, or the
    counts disagree with the samples."""
    bad = []
    if not samples:
        return bad
    lo, hi = min(samples), max(samples)
    prev = -math.inf
    for q in sorted(stats):
        v, n, beyond = stats[q]
        if not (lo <= v <= hi):
            bad.append(f"p{q} {v} outside [{lo}, {hi}]")
        if v < prev:
            bad.append(f"p{q} below a lower percentile")
        if n != len(samples) or beyond != sum(1 for x in samples if x > v):
            bad.append(f"p{q} sample counts disagree")
        prev = v
    return bad


def core_util(task_run_ms, cores, job_ms):
    """Task run time over the core time the jobs held: useful / available."""
    return task_run_ms / (cores * job_ms) if job_ms > 0 else 0.0


def task_skew(stage_runs):
    """Max over stages (2+ tasks) of max/median task run time; 1.0 if none."""
    worst = 1.0
    for runs in stage_runs.values():
        if len(runs) >= 2:
            med = statistics.median(runs)
            if med > 0:
                worst = max(worst, max(runs) / med)
    return worst


def _owner(qs, t):
    for q in qs:
        if q["t0"] <= t <= q["t1"]:
            return q
    return None


def query_layers(q, jobs, streams):
    """Per-query split.  q: query window {t0, tb, t1}; jobs: [(t0, t1)] run for
    it; streams: [(t0, t1)] streaming queries it drained.  Returns the layer
    record and the invariant violations."""
    t0, tb, t1 = q["t0"], q["tb"], q["t1"]
    wall = t1 - t0
    ivs = list(jobs)
    covered = union_ms(ivs, t0, t1)
    rec = {
        "wall_ms": wall,
        "job_ms": covered,
        "out_of_job_ms": gaps_ms(ivs, t0, t1),
        "builder_ms": tb - t0,
        "action_ms": t1 - tb,
        "builder_jobs": sum(1 for a, _ in ivs if a < tb),
        "action_jobs": sum(1 for a, _ in ivs if a >= tb),
        "builder_job_ms": union_ms(ivs, t0, tb),
        "self_builder_ms": self_ms((t0, tb), ivs + list(streams)),
        "self_action_ms": self_ms((tb, t1), ivs),
        "self_streaming_ms": sum(self_ms(s, ivs) for s in streams),
        "jobs": len(ivs),
    }
    bad = []
    for a, b in ivs:
        if a < t0 - CLOCK_TOL_MS or b > t1 + CLOCK_TOL_MS:
            bad.append(f"job [{a}, {b}] outside its query [{t0}, {t1}]")
    for a, b in streams:
        if a < t0 - CLOCK_TOL_MS or b > tb + CLOCK_TOL_MS:
            bad.append(f"stream [{a}, {b}] outside its builder [{t0}, {tb}]")
    if abs(rec["job_ms"] + rec["out_of_job_ms"] - wall) > 1e-6:
        bad.append("job-covered plus out-of-job time is not the wall time")
    for k in ("self_builder_ms", "self_action_ms", "self_streaming_ms"):
        if rec[k] < -1e-6:
            bad.append(f"{k} negative")
    return rec, bad


def layer_pass(pass_win, queries, jobs, tasks, qes, streams, cores):
    """Per-layer totals for one traced pass.

    pass_win: (t0, t1); queries: query records of this pass; jobs: job events
    (qid, t0, t1, stages, stream_id); tasks: task events; qes: QueryExecution
    phase events; streams: {run_id: {start, end, qid, progress: [...]}}.
    Returns (metrics, per_query, violations) where violations is
    [(qid, message)].  A job that starts inside the pass but belongs to no
    query of it is a violation of every query in the pass."""
    p0, p1 = pass_win
    by_qid = {q["qid"]: q for q in queries}
    qjobs = {qid: [] for qid in by_qid}
    pass_jobs, bad = [], []
    for j in jobs:
        q = by_qid.get(j.get("qid")) or _owner(queries, j["t0"])
        if q is None:
            if p0 <= j["t0"] <= p1:
                bad.extend((x["qid"], f"job {j.get('id')} owned by no query") for x in queries)
            continue
        qjobs[q["qid"]].append(j)
        pass_jobs.append(j)
    qstreams = {qid: [] for qid in by_qid}
    pass_streams = []
    for s in streams.values():
        q = by_qid.get(s.get("qid")) or _owner(queries, s["start"])
        if q is None:
            continue
        end = min(s["end"] if s.get("end") is not None else q["tb"], q["tb"])
        span = dict(s, end=end)
        qstreams[q["qid"]].append(span)
        pass_streams.append(span)

    per_query = []
    for q in queries:
        rec, v = query_layers(q, [(j["t0"], j["t1"]) for j in qjobs[q["qid"]]],
                              [(s["start"], s["end"]) for s in qstreams[q["qid"]]])
        rec.update(qid=q["qid"], name=q["name"])
        per_query.append(rec)
        bad.extend((q["qid"], m) for m in v)

    stage_ids = {s for j in pass_jobs for s in j["stages"]}
    ptasks = [t for t in tasks if t["stage"] in stage_ids]
    stage_runs = {}
    for t in ptasks:
        stage_runs.setdefault((t["stage"], t.get("attempt", 0)), []).append(t.get("run_ms", 0))
    job_ivs = [(j["t0"], j["t1"]) for j in pass_jobs]
    job_ms, out_of_job = union_ms(job_ivs, p0, p1), gaps_ms(job_ivs, p0, p1)
    if abs(job_ms + out_of_job - (p1 - p0)) > 1e-6:
        bad.extend((q["qid"], "pass job-covered plus out-of-job time is not its wall time")
                   for q in queries)
    task_run = float(sum(t.get("run_ms", 0) for t in ptasks))
    util = core_util(task_run, cores, job_ms)
    if not (0.0 <= util <= CORE_UTIL_MAX):
        bad.extend((q["qid"], f"core_util {util:.3f} outside [0, {CORE_UTIL_MAX}]") for q in queries)

    def phase(name):
        return float(sum(e["phases"].get(name, 0) for e in qes if p0 <= e["t0"] <= p1))

    def dur(key):
        return float(sum(p["durations"].get(key, 0) for s in pass_streams for p in s["progress"]))

    stream_ms = sum(s["end"] - s["start"] for s in pass_streams)
    m = {
        "queries.builder_ms": sum(r["builder_ms"] for r in per_query),
        "queries.builder_jobs": sum(r["builder_jobs"] for r in per_query),
        "queries.builder_job_ms": sum(r["builder_job_ms"] for r in per_query),
        "engine.analysis_ms": phase("analysis"),
        "engine.optimization_ms": phase("optimization"),
        "engine.planning_ms": phase("planning"),
        "driver.out_of_job_ms": out_of_job,
        "driver.jobs": len(pass_jobs),
        "driver.stages": len(stage_runs),
        "driver.tasks_per_job": len(ptasks) / len(pass_jobs) if pass_jobs else 0.0,
        "exec.job_ms": job_ms,
        "exec.task_run_ms": task_run,
        "exec.task_cpu_ms": sum(t.get("cpu_ns", 0) for t in ptasks) / 1e6,
        "exec.gc_ms": float(sum(t.get("gc_ms", 0) for t in ptasks)),
        "exec.core_util": util,
        "exec.shuffle_read_bytes": sum(t.get("shuffle_read", 0) for t in ptasks),
        "exec.shuffle_write_bytes": sum(t.get("shuffle_write", 0) for t in ptasks),
        "exec.spill_bytes": sum(t.get("spill", 0) for t in ptasks),
        "exec.output_bytes": sum(t.get("output", 0) for t in ptasks),
        "exec.task_skew": task_skew(stage_runs),
        "exec.failed_tasks": sum(1 for t in ptasks if t.get("failed")),
        "streaming.batches": sum(len(s["progress"]) for s in pass_streams),
        "streaming.input_rows": sum(p["input_rows"] for s in pass_streams for p in s["progress"]),
        "streaming.query_ms": stream_ms,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.outside_trigger_ms": stream_ms - dur("triggerExecution"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_commit_ms": float(sum(p["state_commit_ms"] for s in pass_streams
                                               for p in s["progress"])),
        "streaming.state_memory_bytes": max([p["state_memory_bytes"] for s in pass_streams
                                             for p in s["progress"]] or [0]),
        "self.builder_ms": sum(r["self_builder_ms"] for r in per_query),
        "self.action_ms": sum(r["self_action_ms"] for r in per_query),
        "self.streaming_ms": sum(r["self_streaming_ms"] for r in per_query),
        "self.job_ms": job_ms,
    }
    return m, per_query, bad
