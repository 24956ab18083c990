"""One Spark session of the benchmark: set up, one cold job-run, then warm
job-runs back to back (a closed loop with one client) for the measuring
window. Run as a fresh process by ``run.py``; writes its samples as JSON.

    python3 perfbench/client.py '<json args>'
"""

from __future__ import annotations

import json
import os
import sys
import time


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(c) for c in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def driver_peak_rss_mb() -> dict:
    """Peak RSS of this Python driver and of the driver JVM it launched."""
    me = os.getpid()
    jvms = [p for p in _descendants(me) if _comm(p) == "java"]
    return {"python": _peak_rss_mb(me), "jvm": sum(_peak_rss_mb(p) for p in jvms)}


def main(args: dict) -> dict:
    repo = args["repo"]
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WARM_RUNS, WORKLOADS, Clock, Spans

    spans = Spans()
    with spans.timed("session.get_spark_s"):
        from cassandra_data_migrator_spark.session import get_spark

        spark = get_spark("perfbench", cpus=args["cpus"])
    with spans.timed("queries.import_s"):
        from cassandra_data_migrator_spark import queries

        queries.queries()
        queries.oracle_sql()
    setup_s = time.time() - args["t0"]
    out = {"setup_s": setup_s, "layers": spans.values, "spark_version": spark.version}
    work = WORKLOADS[args["workload"]](
        spark, args["input"], args["work"], bool(args["trace"])
    )
    runs = []

    def job_run(i: int) -> None:
        clock, run_spans = Clock(), Spans()
        try:
            failed = work.run(i, clock, run_spans)
        except Exception as exc:  # a job-run that raises counts as failed
            failed = [f"raised {type(exc).__name__}: {exc}"]
        runs.append(
            {
                "i": i,
                "seconds": clock.seconds,
                "segments": clock.segments,
                "failed": failed,
                "layers": run_spans.values,
            }
        )

    job_run(0)
    warm_start = time.time()
    i = 1
    while i <= WARM_RUNS or time.time() - warm_start < args["seconds"]:
        job_run(i)
        i += 1
    out.update(
        runs=runs,
        input_rows=work.input_rows(),
        peak_rss_mb=driver_peak_rss_mb(),
    )
    spark.stop()
    return out


if __name__ == "__main__":
    a = json.loads(sys.argv[1])
    result = main(a)
    with open(a["out"], "w") as fh:
        json.dump(result, fh)
