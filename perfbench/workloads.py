"""The three benchmark workloads: one job-run each, plus its correctness check.

A workload object is created once per Spark session. ``run(i, clock, spans)``
performs job-run ``i``, checks its outputs and returns the failed checks;
everything the benchmark does that a user would not (clearing a target,
copying a corpus to a fresh path, hashing outputs) runs while ``clock`` is
paused. ``spans`` collects the time spent in each engine call. Every
Spark job of a job-run carries the job group ``<workload>.<i>.<phase>``,
so the event log can be folded per job-run and per phase.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import duckdb

# the repository root is on sys.path (client.py puts it there)
from tools.parity_check import _norm as norm_rows

# warm job-runs per session at least, whatever the measuring window: warm
# job-runs still speed up as the JIT warms, so a fixed count keeps the
# median comparable between runs
WARM_RUNS = 2

# curate: registry keys in job-run order. dedup_clusters reuses the n-gram
# pair artifact dedup_ngram builds; kmeans_clusters trains the IVF centroids
# (Lloyd, driver-side) and assigns through an Arrow kernel.
CURATE_KEYS = [
    "dedup_exact",
    "dedup_ngram",
    "dedup_clusters",
    "kmeans_clusters",
]

PK = ["event_id", "user_id"]
WHERE = "event_type <> 'error'"
INCREMENT_BY = 7
NUM_PARTS = 64
FAILED_SLICES = [5, 21, 38, 60]
GUARDRAIL_KB = 1

# the migrate target schema, with the types both row-set hashes cast to
_TARGET_COLS = [
    ("event_id", "BIGINT"),
    ("ts", "TIMESTAMP"),
    ("user_id", "BIGINT"),
    ("event_type", "VARCHAR"),
    ("value", "DOUBLE"),
    ("props", "VARCHAR"),
    ("__writetime_value", "BIGINT"),
    ("__writetime_props", "BIGINT"),
    ("__writetime", "BIGINT"),
    ("prop_k", "VARCHAR"),
]


class Clock:
    """Wall clock of one job-run that can be paused for benchmark-only work.

    ``segments`` are the (start, end) epoch-second intervals it ran, which
    the event-log fold uses as the job-run's window."""

    def __init__(self) -> None:
        self.segments: list[tuple[float, float]] = []
        self._start: float | None = None

    def start(self) -> None:
        self._start = time.time()

    def pause(self) -> None:
        self.segments.append((self._start, time.time()))
        self._start = None

    @property
    def seconds(self) -> float:
        return sum(b - a for a, b in self.segments)


class Spans:
    """Named durations and counts recorded around calls into the engine."""

    def __init__(self) -> None:
        self.values: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + value

    @contextmanager
    def timed(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t)


def catalyst_phases(df, spans: Spans) -> None:
    """Force ``executedPlan`` and add the plan's phase durations to spans."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            spans.add(f"catalyst.{phase}_s", opt.get().durationMs() / 1000.0)


def _rowset_hash(con, relation: str) -> list:
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in _TARGET_COLS)
    return list(
        con.execute(
            f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}"
        ).fetchone()
    )


class Workload:
    name = ""

    def __init__(self, spark, input_dir: str, work_dir: str, traced: bool):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.traced = traced
        os.makedirs(work_dir, exist_ok=True)

    def group(self, i: int, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.name}.{i}.{phase}", phase)

    def input_rows(self) -> int:
        raise NotImplementedError

    def run(self, i: int, clock: Clock, spans: Spans) -> list[str]:
        """One job-run; returns the list of failed checks (empty = correct)."""
        raise NotImplementedError


class Cdm(Workload):
    """CDM's jobs on one events table: a tracked migrate into an empty
    target, a resume of 4 failed slices through the upsert sink, then
    DiffData (tier full) against a damaged target and GuardrailCheck."""

    name = "cdm"

    def __init__(self, spark, input_dir, work_dir, traced):
        super().__init__(spark, input_dir, work_dir, traced)
        src = os.path.join(input_dir, "events.parquet")
        self.origin = spark.read.parquet(src)
        self.target = spark.read.parquet(os.path.join(input_dir, "target.parquet"))
        with open(os.path.join(input_dir, "planted.json")) as fh:
            planted = json.load(fh)
        self.missing = {tuple(r) for r in planted["missing"]}
        self.mismatch = {tuple(r) for r in planted["mismatch"]}
        self.con = duckdb.connect()
        self.con.execute(
            f"""CREATE VIEW expected AS SELECT *,
                greatest(__writetime_value, __writetime_props) + {INCREMENT_BY}
                    AS __writetime,
                json_extract_string(props, '$.k') AS prop_k
            FROM read_parquet('{src}') WHERE {WHERE}"""
        )
        self.expected = _rowset_hash(self.con, "expected")
        self.oversized = {
            tuple(r)
            for r in self.con.execute(
                f"""SELECT event_id, user_id, 'props', strlen(props)
                FROM read_parquet('{src}')
                WHERE strlen(props) > {GUARDRAIL_KB * 1024}"""
            ).fetchall()
        }
        # migrate reads the origin; validate reads the origin and the target
        self.n_rows = self.con.execute(
            f"SELECT 2 * (SELECT count(*) FROM read_parquet('{src}')) + "
            f"(SELECT count(*) FROM read_parquet('{input_dir}/target.parquet'))"
        ).fetchone()[0]

    def input_rows(self) -> int:
        return self.n_rows

    def _target_hash(self, path: str) -> list:
        return _rowset_hash(self.con, f"read_parquet('{path}/*.parquet')")

    def run(self, i, clock, spans):
        return self._migrate(i, clock, spans) + self._validate(i, clock, spans)

    def _migrate(self, i, clock, spans):
        from cassandra_data_migrator_spark.config import MigrationConfig
        from cassandra_data_migrator_spark.plans.migrate import run_migrate_tracked
        from cassandra_data_migrator_spark.plans.tracking import STATUS_FAILED, RunTracker

        run_dir = os.path.join(self.work_dir, f"run{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        target = os.path.join(run_dir, "target")
        cfg = MigrationConfig(
            {
                "spark.cdm.schema.pk": ",".join(PK),
                "spark.cdm.filter.cassandra.whereCondition": WHERE,
                "spark.cdm.feature.extractJson.originColumn": "props",
                "spark.cdm.feature.extractJson.propertyName": "k",
                "spark.cdm.feature.extractJson.targetColumn": "prop_k",
                "spark.cdm.transform.custom.writetime.incrementBy": INCREMENT_BY,
                "spark.cdm.perfops.numParts": NUM_PARTS,
                "spark.cdm.connect.target.path": target,
            }
        )
        failed = []
        clock.start()
        tracker = RunTracker(self.spark, os.path.join(run_dir, "runs"))
        self.group(i, "first")
        with spans.timed("plans.migrate.first_s"):
            first, run_id = run_migrate_tracked(self.spark, self.origin, cfg, tracker)
        with spans.timed("plans.tracking.s"):
            tracker.record_slices(run_id, FAILED_SLICES, STATUS_FAILED)
        clock.pause()
        spans.add("plans.migrate.rows_written", first.counters["written_cnt"])
        if self.traced:
            catalyst_phases(first.output, spans)
        if self._target_hash(target) != self.expected:
            failed.append("first pass target differs from the DuckDB pipeline")
        clock.start()
        self.group(i, "resume")
        with spans.timed("plans.migrate.resume_s"):
            resumed, _ = run_migrate_tracked(
                self.spark, self.origin, cfg, tracker, previous_run_id=run_id
            )
        with spans.timed("plans.tracking.s"):
            pending = tracker.pending_slices(run_id)
        clock.pause()
        spans.add("plans.migrate.resume_rows", resumed.counters["read_cnt"])
        if self.traced:
            catalyst_phases(resumed.output, spans)
        if pending:
            failed.append(f"slices still pending after resume: {pending}")
        if self._target_hash(target) != self.expected:
            failed.append("resumed target differs from a clean run's target")
        shutil.rmtree(run_dir, ignore_errors=True)
        return failed

    def _validate(self, i, clock, spans):
        from cassandra_data_migrator_spark.config import MigrationConfig
        from cassandra_data_migrator_spark.operators.validation import (
            STATUS_MISMATCH,
            STATUS_MISSING,
        )
        from cassandra_data_migrator_spark.plans.migrate import run_guardrail, run_validate

        cfg = MigrationConfig(
            {
                "spark.cdm.schema.pk": ",".join(PK),
                "spark.cdm.validate.tier": "full",
                "spark.cdm.feature.guardrail.colSizeInKB": GUARDRAIL_KB,
            }
        )
        clock.start()
        self.group(i, "validate")
        with spans.timed("plans.validate.s"):
            report = run_validate(self.spark, self.origin, self.target, cfg).output
            if self.traced:
                catalyst_phases(report, spans)
            diff = report.collect()
        self.group(i, "guardrail")
        with spans.timed("plans.guardrail.s"):
            guard = run_guardrail(self.spark, self.origin, cfg).output
            if self.traced:
                catalyst_phases(guard, spans)
            flagged = guard.collect()
        clock.pause()
        failed = []
        missing = {(r.event_id, r.user_id) for r in diff if r.status == STATUS_MISSING}
        mismatch = {
            (r.event_id, r.user_id)
            for r in diff
            if r.status == STATUS_MISMATCH and r.mismatch_cols == "value"
        }
        if len(diff) != len(missing) + len(mismatch):
            failed.append("diff reported rows outside the planted damage")
        if missing != self.missing:
            failed.append("missing PK set differs from the planted deletes")
        if mismatch != self.mismatch:
            failed.append("mismatch PK set differs from the planted mutations")
        if {tuple(r) for r in flagged} != self.oversized:
            failed.append("guardrail rows differ from the oversized cells")
        return failed


class Curate(Workload):
    """The curation keys, in order, over a fresh copy of the corpus."""

    name = "curate"

    def __init__(self, spark, input_dir, work_dir, traced):
        super().__init__(spark, input_dir, work_dir, traced)
        from cassandra_data_migrator_spark import queries

        self.builders = queries.queries()
        oracles = queries.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
            )
        self.expected = {}
        for key in CURATE_KEYS:
            if key in oracles:
                df = con.execute(oracles[key]).fetchdf()
                cols = sorted(df.columns)
                self.expected[key] = (cols, norm_rows(df.to_dict("records"), cols))
        self.n_rows = sum(
            con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("documents", "embeddings")
        )

    def input_rows(self) -> int:
        return self.n_rows

    def run(self, i, clock, spans):
        corpus = os.path.join(self.work_dir, f"corpus{i}")
        shutil.rmtree(corpus, ignore_errors=True)
        os.makedirs(corpus)
        for t in ("documents", "embeddings"):
            shutil.copy(os.path.join(self.input_dir, f"{t}.parquet"), corpus)
        results = {}
        for key in CURATE_KEYS:
            clock.start()
            self.group(i, key)
            t0 = time.perf_counter()
            df = self.builders[key](self.spark, corpus)
            t1 = time.perf_counter()
            if self.traced:
                catalyst_phases(df, spans)
            rows = df.collect()
            t2 = time.perf_counter()
            clock.pause()
            spans.add("queries.build_s", t1 - t0)
            spans.add(f"queries.key_s.{key}", t2 - t0)
            spans.add(f"rows.{key}", len(rows))
            results[key] = (sorted(df.columns), [r.asDict() for r in rows])
        failed = []
        for key, (cols, rows) in results.items():
            if key in self.expected:
                if (cols, norm_rows(rows, cols)) != self.expected[key]:
                    failed.append(f"{key} differs from its DuckDB oracle")
            elif not rows:
                failed.append(f"{key} returned no rows")
        return failed


WORKLOADS = {w.name: w for w in (Cdm, Curate)}
