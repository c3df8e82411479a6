"""graft benchmark: one workload, one seeded run, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds graft and the harness from the checkout's sources (see build.py),
runs the workload in one driver JVM at local[<cores>], checks its outputs,
and prints as the last stdout line
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the run record
(diagnostics: host calibration, versions, sizes, setup steps).

``--record`` rewrites expected/query_mix.json from this run's results
instead of checking against it.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("query_mix", "commit_churn", "table_scan")
SPEC = HERE.parent / "BENCHMARK.json"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(cp, work, main, args):
    """The driver JVM's command line; its temp files go under ``work``."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-XX:ActiveProcessorCount={cores}",
             f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + list(args))


def git_commit():
    try:
        return subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def read_jsonl(path):
    if not path.is_file():
        return []
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def check_query_results(results, expected_file, record):
    """query_mix: every execution's rows and digest must equal the recorded
    value; an entry whose digest is recorded as null is checked on rows."""
    seen = {}
    for entry, rows, digest in results:
        seen.setdefault(entry, set()).add((int(rows), digest))
    if record:
        exp = {e: {"rows": sorted(v)[0][0], "digest": sorted(v)[0][1] if len(v) == 1 else None}
               for e, v in sorted(seen.items())}
        expected_file.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
        return []
    exp = json.loads(expected_file.read_text())
    bad = []
    for entry, vals in seen.items():
        want = exp.get(entry)
        for rows, digest in vals:
            if want is None or rows != want["rows"] or (
                    want["digest"] is not None and digest != want["digest"]):
                bad.append(f"{entry}: got rows={rows} digest={digest}, want {want}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2

    sf = str(Path.home() / "testdata" / "sf0.1")
    if not Path(sf, "lineitem.parquet").exists():
        sys.stderr.write(f"perfbench: input tables not found under {sf}\n")
        return 2
    work = build.build_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(cp, work, "perfbench.Main",
                   [a.workload, str(a.seed), str(a.seconds), str(a.trace), sf, str(work)])
    left = TIMEOUT_S - (time.monotonic() - t_start)
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(30.0, left))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("perfbench: the run timed out\n")
        return 4
    finally:
        log.close()
    if rc not in (0, 3) or not (work / "run.json").is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.stderr.write(f"perfbench: the driver JVM exited with {rc}\n")
        return 5

    run = json.loads((work / "run.json").read_text())
    recs = read_jsonl(work / "ops.jsonl")
    plain = [r["rec"] for r in recs if not r["traced"]]
    traced = [r["rec"] for r in recs if r["traced"]]
    events = read_jsonl(work / "events.jsonl")

    problems = [c["name"] + ": " + c["detail"] for c in run["checks"] if not c["ok"]]
    if a.workload == "query_mix":
        problems += check_query_results(run["extra"].pop("results", []),
                                        HERE / "expected" / "query_mix.json", a.record)
    e2e, tail_pct = metrics.end_to_end(run, plain)
    values = metrics.per_layer(run, plain, traced, events, run["cpus_effective"]) if a.trace else e2e
    spec = json.loads(SPEC.read_text()) if SPEC.is_file() else {}
    unit_of = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in spec.get(k, [])}
    if a.workload in {w["name"] for w in spec.get("workloads", [])}:
        # a workload BENCHMARK.json lists prints exactly the metrics it names
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        missing = [n for n in names if n not in values]
        if missing:
            sys.stderr.write(f"perfbench: metrics not computed: {missing}\n")
            return 6
        values = {n: values[n] for n in names}

    record = {
        "run_record": True, "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "git_commit": git_commit(), "cpus_effective": run["cpus_effective"],
        "spark_version": run["spark_version"], "java_version": run["java_version"],
        "cal_cpu_s": run["cal_cpu_s"], "cal_scan_s": run["cal_scan_s"],
        "steal_share_setup": metrics.steal_share(run["setup_cpu"]),
        "steal_share_loop": metrics.steal_share(run["loop_cpu"]),
        "op_tail_percentile": tail_pct, "samples": len(plain),
        "op_time_share": metrics.ratio(sum(o["wall_ms"] for o in plain) / 1e3, run["timed_s"]),
        "failed_ratio": metrics.ratio(sum(1 for o in plain if not o["ok"]), len(plain)),
        "failed_classes": sorted({o["err"] for o in plain + traced if not o["ok"]}),
        "timed_s": run["timed_s"], "cycle_shorter_than_seconds": run["timed_s"] < a.seconds,
        "session_s": run["session_s"],
        "setup_steps": run["setup_steps"], "sizes": run["sizes"], "extra": run["extra"],
        "problems": problems[:20],
    }
    print(json.dumps(record, sort_keys=True))
    attempted = len(plain) + len(traced)
    failed = sum(1 for o in plain + traced if not o["ok"])
    out = {
        "correct": not problems and rc == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of.get(k) or metrics.unit(k)} for k, v in values.items()},
    }
    print(json.dumps(out))
    sys.stdout.flush()
    for p in problems[:20]:
        sys.stderr.write(f"perfbench: CHECK FAILED {p}\n")
    if not out["correct"]:
        sys.stderr.write(f"perfbench: work directory kept in {work}\n")
        return 1
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
