"""Regenerate ``data/small_eventlog.jsonl`` and ``data/small_windows.json``.

    python3 perfbench/tests/make_eventlog.py

Runs two tiny job-runs on a local[2] session with the event log on: job-run
``w.0`` joins 100 rows against 10 keys (phase ``join``) and runs a pandas
UDF (phase ``py``); job-run ``w.1`` runs a grouped count (phase ``agg``).
The log is cut down to the events and fields the folder reads, so it holds
no host paths or environment.
"""

import json
import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageSubmitted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task End Reason", "Task Info", "Task Metrics"),
}
PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": node.get("metrics", []),
        "children": [_plan(c) for c in node.get("children", [])],
    }


def scrub(e: dict) -> dict | None:
    kind = e["Event"]
    if kind in KEEP:
        out = {"Event": kind, **{k: e[k] for k in KEEP[kind] if k in e}}
        if "Properties" in out:
            out["Properties"] = {k: v for k, v in out["Properties"].items() if k in PROPS}
        if "Stage Info" in out:
            out["Stage Info"] = {
                k: out["Stage Info"][k] for k in ("Stage ID", "Stage Attempt ID")
            }
        if "Task Info" in out:
            out["Task Info"] = {"Accumulables": out["Task Info"].get("Accumulables", [])}
        return out
    if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
        out = {"Event": kind, "executionId": e["executionId"], "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
        if "jobGroupId" in e:
            out["jobGroupId"] = e["jobGroupId"]
        return out
    if kind.endswith("DriverAccumUpdates"):
        return e
    return None


def main() -> None:
    import pandas as pd  # noqa: F401 - the UDF's type hints resolve here
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logs = os.path.join(os.path.dirname(HERE), ".work", "fixture-eventlog")
    shutil.rmtree(logs, ignore_errors=True)
    os.makedirs(logs)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{logs}")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    windows = {}
    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobGroup("w.0.join", "join")
    left = spark.range(100).withColumn("k", F.col("id") % 10)
    right = spark.range(10).withColumnRenamed("id", "k")
    assert len(left.join(right, "k").collect()) == 100
    sc.setJobGroup("w.0.py", "py")
    spark.range(50).select(plus_one("id")).collect()
    windows["w.0"] = [(t0, time.time())]
    time.sleep(0.5)  # a gap between job-runs that no window covers
    t1 = time.time()
    sc.setJobGroup("w.1.agg", "agg")
    spark.range(1000).groupBy((F.col("id") % 7).alias("m")).count().collect()
    windows["w.1"] = [(t1, time.time())]
    spark.stop()

    (name,) = os.listdir(logs)
    os.makedirs(DATA, exist_ok=True)
    with open(os.path.join(logs, name)) as src, open(
        os.path.join(DATA, "small_eventlog.jsonl"), "w"
    ) as dst:
        for line in src:
            e = scrub(json.loads(line))
            if e is not None:
                dst.write(json.dumps(e) + "\n")
    with open(os.path.join(DATA, "small_windows.json"), "w") as fh:
        json.dump(windows, fh)
    shutil.rmtree(logs)


if __name__ == "__main__":
    main()
