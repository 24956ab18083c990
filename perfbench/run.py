#!/usr/bin/env python3
"""Benchmark of the engine: CDM's jobs (migrate, resume, validate,
guardrail) and the data-curation keys.

    python3 perfbench/run.py --workload cdm --seed 1 --seconds 5 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
(untimed, cached under ``perfbench/.work/inputs``). A fresh client process
sets up a Spark session, runs one cold job-run, then warm job-runs back to
back for ``--seconds``; every job-run's output is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``. The line before it is the full report: raw
samples, failed checks, input shape and provenance.

``--trace 1`` runs an untraced session first, then a second session with
the Spark event log on, and reports the traced session's layers plus the
tracing overhead (traced job_s over untraced job_s).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = os.path.join(REPO, "cassandra_data_migrator_spark")
CLIENT_TIMEOUT_S = 150
TRACE_TOLERANCE = 0.05  # job span + driver gap must cover the wall within 5%

sys.path.insert(0, HERE)


def cpu_probe_s() -> float:
    """Wall time of a fixed single-core Python loop: a busy host reads high."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i
    return time.perf_counter() - t0


def source_digest() -> str:
    """sha256 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(ENGINE):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest of p50..p99.9 with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            ordered = sorted(samples)
            return p, ordered[min(n - 1, int(p / 100.0 * n))]
    return None, None


def client_env(cpus: int, event_dir: str | None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        CDM_DRIVER_MEMORY="1g",
        # keep the JVM's scratch files (and its perf-data file) out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    submit = [f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def run_client(args: dict, env: dict) -> dict:
    """Start a fresh client process; ``setup_s`` counts from just before."""
    out = os.path.join(WORK, "client-out.json")
    if os.path.exists(out):
        os.remove(out)
    args = dict(args, out=out, repo=REPO, t0=time.time())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"), json.dumps(args)],
        env=env,
        cwd=WORK,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=CLIENT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"client exceeded {CLIENT_TIMEOUT_S} s")
    finally:
        # the JVM shares the client's process group; make sure none outlives it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"client failed with exit code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(session: dict) -> dict:
    runs = session["runs"]
    warm = [r["seconds"] for r in runs[1:]]
    job_s = statistics.median(warm)
    p, p_value = tail_percentile(warm)
    return {
        "setup_s": session["setup_s"],
        "first_job_s": runs[0]["seconds"],
        "job_s": job_s,
        "job_s_tail": {"percentile": p, "value": p_value},
        "rows_per_s": session["input_rows"] / job_s,
        "peak_rss_mb": sum(session["peak_rss_mb"].values()),
        "peak_rss_parts_mb": session["peak_rss_mb"],
        "samples": {"first_job_s": [runs[0]["seconds"]], "job_s": warm},
        "sample_count": {"first_job_s": 1, "job_s": len(warm)},
    }


def layers(session: dict, event_log: str, workload: str, untraced_job_s: float) -> tuple[dict, list]:
    """Per-layer metrics of the traced session: medians over warm job-runs.

    A job-run whose jobs do not account for its wall time (job span plus
    driver gap off by more than TRACE_TOLERANCE) is marked failed."""
    from eventlog import COUNTERS, EventLog

    runs = session["runs"]
    folded = EventLog.read(event_log).fold(
        {f"{workload}.{r['i']}": r["segments"] for r in runs}
    )
    per_run = []
    for r in runs:
        f = folded[f"{workload}.{r['i']}"]
        m = dict(r["layers"])
        for k in (*COUNTERS, "job_span_s", "driver_gap_s", "busy_cores"):
            layer = "sources" if k.startswith("input_") else "exec"
            m[f"{layer}.{k}"] = f[k]
        for key, join_rows in f["max_join_rows"].items():
            if f"rows.{key}" in m:  # curate keys: result rows per candidate row
                m[f"exec.join_yield.{key}"] = m[f"rows.{key}"] / join_rows
        m["trace.coverage"] = (f["job_span_s"] + f["driver_gap_s"]) / f["wall_s"]
        if abs(m["trace.coverage"] - 1.0) > TRACE_TOLERANCE:
            r["failed"].append(
                f"job span + driver gap cover {m['trace.coverage']:.3f} of the wall time"
            )
        per_run.append(m)
    warm = per_run[1:]
    names = sorted({k for m in warm for k in m})
    out = {k: statistics.median(m.get(k, 0.0) for m in warm) for k in names}
    out.update(session["layers"])
    traced_job_s = statistics.median(r["seconds"] for r in runs[1:])
    out["trace.overhead"] = traced_job_s / untraced_job_s
    return out, per_run


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", help="input size label (gen.SIZES)")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    import gen

    input_dir, shape = gen.cached(a.workload, a.seed, a.size, os.path.join(WORK, "inputs"))
    cpus = min(4, os.cpu_count() or 1)
    probe = cpu_probe_s()
    client = {
        "workload": a.workload,
        "input": input_dir,
        "work": os.path.join(WORK, "jobs", a.workload),
        "cpus": cpus,
        "seconds": a.seconds,
        "trace": 0,
    }
    session = run_client(client, client_env(cpus, None))
    e2e = end_to_end(session)
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "end_to_end": e2e,
        "job_runs": [
            {"i": r["i"], "seconds": r["seconds"], "failed": r["failed"], "layers": r["layers"]}
            for r in session["runs"]
        ],
        "provenance": {
            "master": f"local[{cpus}]",
            "nproc": os.cpu_count(),
            "cpu_probe_s": probe,
            "spark_version": session["spark_version"],
            "git_commit": git_commit(),
            "source_digest": source_digest(),
            "load": "closed loop, one client, one job-run at a time",
            "input": shape,
        },
    }
    runs = session["runs"]
    if a.trace:
        event_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(event_dir, ignore_errors=True)
        traced = run_client(dict(client, trace=1), client_env(cpus, event_dir))
        (log_file,) = os.listdir(event_dir)
        per_layer, per_run = layers(
            traced, os.path.join(event_dir, log_file), a.workload, e2e["job_s"]
        )
        report["traced"] = {
            "end_to_end": end_to_end(traced),
            "layers": per_layer,
            "per_job_run": per_run,
            "failed": [r["failed"] for r in traced["runs"]],
        }
        runs = runs + traced["runs"]
        metrics = {
            m["name"]: {"value": float(per_layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    attempted = len(runs)
    failed = sum(1 for r in runs if r["failed"])
    report["failed_frac"] = failed / attempted
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w"
    ) as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
