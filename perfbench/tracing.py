"""Spans around the program's layer boundaries, and Spark's own counters.

The tracer wraps public functions of the program at run time, from the
benchmark's side: nothing in the program changes. Spans are kept in memory
as (id, name, start, end, parent, op) and written out as JSON lines when
the benchmark ends. A layer's self time is its span's duration minus the
time its child spans cover.

Spark counters are read from outside the program: each timed operation
runs under its own job group, and afterwards the status tracker lists the
group's jobs and stages, and the status store gives each stage's metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Program functions wrapped in a traced run: (module, attribute, span name).
LAYER_FUNCTIONS = (
    ("delfos_etl_pipeline_spark.session", "get_spark", "session.get_spark"),
    ("delfos_etl_pipeline_spark.sources.parquet", "load_table", "parquet.load_table"),
    ("delfos_etl_pipeline_spark.sources.parquet", "load_table_range", "parquet.load_table_range"),
    ("delfos_etl_pipeline_spark.plans.pipeline", "run_day", "pipeline.run_day"),
    ("delfos_etl_pipeline_spark.plans.pipeline", "extract_range", "pipeline.extract_range"),
    ("delfos_etl_pipeline_spark.plans.pipeline", "sensor_pipeline", "pipeline.sensor_pipeline"),
    ("delfos_etl_pipeline_spark.sources.sinks", "write_partitioned", "sinks.write_partitioned"),
    ("delfos_etl_pipeline_spark.plans.reports", "per_signal_summary", "reports.per_signal_summary"),
    ("delfos_etl_pipeline_spark.plans.reports", "daily_counts", "reports.daily_counts"),
    ("delfos_etl_pipeline_spark.plans.reports", "latest_sample", "reports.latest_sample"),
)
#: Spark actions wrapped in a traced run: (module, class, method, span name).
SPARK_ACTIONS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "spark.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toArrow", "spark.toArrow"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save", "spark.save"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "spark.parquet"),
)


class Tracer:
    """Records spans while ``enabled``; the wrappers cost one attribute test
    when it is off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.perf_counter(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
            "op": self.op, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrapped(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every layer function, also where a module of the program
        imported it by name, and the Spark actions."""
        for mod_name, _, _ in LAYER_FUNCTIONS:
            importlib.import_module(mod_name)
        program = [m for n, m in sys.modules.items() if n.startswith("delfos_etl_pipeline_spark") and m]
        for mod_name, attr, name in LAYER_FUNCTIONS:
            original = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrapped(original, name)
            for mod in program:
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
        for mod_name, cls_name, attr, name in SPARK_ACTIONS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            setattr(cls, attr, self._wrapped(getattr(cls, attr), name))

    # -- reading spans back -------------------------------------------------

    def durations_ms(self, name: str, op_prefix: str = "", parent: str | None = None) -> list[float]:
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None or not (s["op"] or "").startswith(op_prefix):
                continue
            if parent is not None and (s["parent"] is None or self.spans[s["parent"]]["name"] != parent):
                continue
            out.append((s["end"] - s["start"]) * 1e3)
        return out

    def self_ms(self, name: str, op_prefix: str = "") -> list[float]:
        """Self time of each ``name`` span: its duration minus its
        children's (children of one span never overlap: one thread)."""
        child_total: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            (s["end"] - s["start"] - child_total.get(s["id"], 0.0)) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (s["op"] or "").startswith(op_prefix)
        ]

    def write(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rec = dict(s, start=round(s["start"] - t0, 6), end=round((s["end"] or s["start"]) - t0, 6))
                fh.write(json.dumps(rec, default=str) + "\n")


def spark_counters(sc, group: str) -> dict:
    """Work Spark did for one job group: jobs, stages run (skipped stages
    left out), tasks, and the stage metrics summed over those stages."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stage_ids = sorted({s for job in jobs if job for s in job.stageIds})
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "input_records": 0, "input_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "run_ms": 0, "gc_ms": 0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["input_records"] += st.inputRecords()
        out["input_bytes"] += st.inputBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["run_ms"] += st.executorRunTime()
        out["gc_ms"] += st.jvmGcTime()
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
