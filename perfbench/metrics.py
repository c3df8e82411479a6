"""Metric arithmetic of the benchmark, kept free of I/O so it can be tested.

The JVM side writes raw records: one per op (wall, timestamps, storage
deltas) and, in a traced run, one per Spark job, task and QueryExecution.
Everything here turns those records into the metrics named in
BENCHMARK.json.
"""

import bisect
import math
import statistics

FORMATS = ("versioned", "delta", "iceberg")
# op types per format: write side (commit_churn), read side (table_scan)
COMMIT_OPS = ("append", "upsert", "delete", "sql_dml", "maintain")
READ_OPS = ("scan", "filter", "lookup", "timetravel", "changes", "snapshot", "tail")
SCAN_OPS = ("scan", "filter", "lookup", "timetravel", "changes", "tail")
FAMILIES = ("a", "j", "w", "f", "sub", "sql", "u", "r", "p", "o", "t", "l")
MIN_BEYOND = 10


def unit(name):
    """Unit of a metric that BENCHMARK.json does not list (table_scan's)."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_n"):
        return "count"
    return "B" if name.startswith("storage.meta_bytes") else "ratio"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(latencies, min_beyond=MIN_BEYOND):
    """The highest percentile that still has ``min_beyond`` samples above it.

    ``latencies`` may hold ``math.inf`` for failed ops, which rank above any
    limit. Returns ``(percentile, value)``; with ``min_beyond`` or fewer
    samples there is no such percentile and the result is ``(0.0, min)``.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= min_beyond:
        return 0.0, xs[0]
    i = n - min_beyond - 1
    return 100.0 * (i + 1) / n, xs[i]


def interval_union(intervals, lo=None, hi=None):
    """Length of the union of ``(start, end)`` intervals, optionally clipped
    to ``[lo, hi]``. Overlapping and nested intervals count once."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ratio(num, den):
    """``num / den``, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


JIFFIES = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def steal_share(cpu):
    """Share of the machine's CPU time the hypervisor gave to other guests
    over an interval (``cpu`` is the harness's /proc/stat delta). A
    diagnostic of the run record: it only builds up on vCPUs that are
    trying to run, so it is no correction for a single op's wall time."""
    total = sum((cpu or {}).get(k, 0) for k in JIFFIES)
    return cpu.get("steal", 0) / total if total else 0.0


def end_to_end(run, ops):
    """The untraced metrics of one run, from its untraced op records, as
    measured on the wall clock. Returns ``(metrics, tail_percentile)``."""
    lat = [o["wall_ms"] if o["ok"] else math.inf for o in ops]
    pct, tail = tail_percentile(lat)
    if math.isinf(tail):
        tail = run["timed_s"] * 1e3  # a failure bounds the tail by the whole region
    return {
        "setup_s": run["setup_s"],
        "ops_per_s": ratio(sum(1 for o in ops if o["ok"]), run["timed_s"]),
        "op_p50_ms": median([o["wall_ms"] for o in ops if o["ok"]]),
        "op_tail_ms": tail,
        "retained_heap_mb": run["retained_heap_mb"],
    }, pct


def attribute(ops, events):
    """Per-op Spark layer fields: each job, task and QueryExecution goes to
    the op whose [start, end] millisecond interval holds its start (jobs,
    QueryExecutions) or its end (tasks)."""
    ops = sorted(ops, key=lambda o: o["start_ms"])
    starts = [o["start_ms"] for o in ops]
    out = [{"jobs": [], "task_ms": 0, "plan_ms": 0, "qe": 0} for _ in ops]

    def find(t):
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ops[i]["end_ms"]:
            return i
        return None

    for ev in events:
        kind = ev["ev"]
        i = find(ev["end_ms"] if kind == "task" else ev["start_ms"])
        if i is None:
            continue
        if kind == "job":
            out[i]["jobs"].append((ev["start_ms"], ev["end_ms"]))
        elif kind == "task":
            out[i]["task_ms"] += ev["ms"]
        else:
            out[i]["plan_ms"] += ev["plan_ms"]
            out[i]["qe"] += 1
    for o, a in zip(ops, out):
        a["job_ms"] = interval_union(a["jobs"], o["start_ms"], o["end_ms"])
        a["outside_ms"] = max(0.0, o["wall_ms"] - a["job_ms"])
    return ops, out


def per_layer(run, plain_ops, traced_ops, events, cores):
    """The traced metrics of one run. Metrics that do not apply to the
    workload are reported as 0 beside a count of 0."""
    m = {}
    ops, att = attribute(traced_ops, events)
    wall = sum(o["wall_ms"] for o in ops)
    job = sum(a["job_ms"] for a in att)
    task = sum(a["task_ms"] for a in att)
    n = len(ops)
    m["catalyst.plan_ms"] = median([a["plan_ms"] for a in att])
    m["catalyst.qe_per_op"] = ratio(sum(a["qe"] for a in att), n)
    m["spark.jobs_per_op"] = ratio(sum(len(a["jobs"]) for a in att), n)
    m["spark.job_ms"] = median([a["job_ms"] for a in att])
    m["spark.task_ms"] = median([a["task_ms"] for a in att])
    m["spark.task_util"] = ratio(task, job * cores)
    m["driver.outside_ms"] = median([a["outside_ms"] for a in att])
    m["driver.outside_share"] = ratio(wall - job, wall)

    reads = any(o["op"] in READ_OPS for o in ops)
    for f in FORMATS:
        for op in COMMIT_OPS + (READ_OPS if reads else ()):
            xs = [o["wall_ms"] for o in ops if o["fmt"] == f and o["op"] == op and o["ok"]]
            m[f"{f}.{op}_ms"] = median(xs)
            m[f"{f}.{op}_n"] = len(xs)

    commits = [(o, a) for o, a in zip(ops, att) if o["op"] in COMMIT_OPS]
    walked = [o for o, _ in commits if o["data_files"] >= 0]
    m["storage.bytes_written_per_op"] = ratio(sum(o["bytes_written"] for o, _ in commits), len(commits))
    m["storage.data_files_per_commit"] = ratio(sum(o["data_files"] for o in walked), len(walked))
    m["storage.meta_files_per_commit"] = ratio(sum(o["meta_files"] for o in walked), len(walked))
    m["storage.meta_bytes_per_commit"] = ratio(sum(o["meta_bytes"] for o in walked), len(walked))
    if reads:
        scans = [o for o in ops if o["op"] in SCAN_OPS]
        m["storage.meta_bytes_read_per_scan"] = ratio(sum(o["bytes_read"] for o in scans), len(scans))
    ingest = [o for o in plain_ops if o["user_bytes"] > 0]
    m["storage.write_bytes_per_user_byte"] = ratio(
        sum(o["bytes_written"] for o in plain_ops if o["op"] in COMMIT_OPS),
        sum(o["user_bytes"] for o in ingest))
    extra = run.get("extra", {})
    m["storage.stored_bytes_per_live_byte"] = ratio(
        extra.get("stored_bytes", 0), extra.get("live_bytes", 0))

    for fam in FAMILIES:
        xs = [o["wall_ms"] for o in ops if o["op"] == "query" and o["family"] == fam and o["ok"]]
        m[f"operators.{fam}_ms"] = median(xs)

    plain_rate = ratio(sum(1 for o in plain_ops if o["ok"]), run["timed_s"])
    traced_rate = ratio(sum(1 for o in ops if o["ok"]), run["traced_timed_s"])
    m["trace.overhead_share"] = 1.0 - ratio(traced_rate, plain_rate) if plain_rate else 0.0
    m["trace.op_time_share"] = ratio(wall / 1e3, run["traced_timed_s"])
    return m
