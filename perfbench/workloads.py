"""The two workloads. Each is one closed-loop client: the next call starts
only when the previous one has returned, as with the reference's CLI and
Dagster callers, which wait for a reply.

A workload times its calls, checks every output against DuckDB outside the
timed region, and in a traced run alternates traced and untraced units of
work, so the same run gives the per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import checks
import inputs
from tracing import Tracer, median, spark_counters

#: The registered queries the read workload serves: a TPC-H control and the
#: queries ROADMAP's open performance items are about.
BATCH = ("tpch_q1_pricing_summary", "text_quality_classifier", "emb_kmeans_step")
MEASURES = ("wind_speed", "power")
REPORTS = ("per_signal_summary", "daily_counts", "latest_sample")
#: Seconds one unit of work takes on a 4-core host (a ``run_day`` call, a
#: rebuild, a pass of the read schedule), and the fewest
#: units a run does: enough for a median, and for traced and untraced units
#: in a traced run. A run does a fixed number of units sized from
#: ``--seconds``, not as many as fit: on a slower host a time limit would
#: cut a pass short or drop one, and the medians would move with the
#: host's speed twice over.
UNIT_S = {"run_day": 1.7, "rebuild": 1.7, "read_pass": 7.0}
LEAST = {"run_day": 4, "rebuild": 3, "read_pass": 3}
#: Untimed calls of each kind before the etl_daily loop.
ETL_WARMUP = {"run_day": 6, "rebuild": 3}


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    data: str  # directory of the generated inputs
    work: str  # scratch directory for the program's outputs
    size: dict
    tracer: Tracer
    trace: bool = False
    broken: bool = False  # corrupt outputs before checking them
    calls: list = field(default_factory=list)  # (kind, ms, traced)
    ops: list = field(default_factory=list)  # traced ops: kind, ms, counters, rows
    failures: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    started: float = 0.0  # perf_counter() when set-up began
    phases: dict = field(default_factory=dict)  # seconds spent in set-up, warm-up, timed loop, checks
    pass_mix: dict = field(default_factory=dict)  # request kind -> calls of it in one pass

    @property
    def sc(self):
        return self.spark.sparkContext

    def call(self, kind: str, fn, traced: bool):
        """Time one call under its own job group; None when it raised."""
        group = f"{kind}-{len(self.calls)}"
        self.sc.setJobGroup(group, kind)
        self.tracer.op, self.tracer.enabled = group, traced
        t0 = time.perf_counter()
        try:
            with self.tracer.span("call", kind=kind):
                result = fn()
        except Exception as exc:  # noqa: BLE001 -- a failed call is counted, not fatal
            result = None
            self.failures.append(f"{kind}: raised {type(exc).__name__}: {str(exc)[:200]}")
        ms = (time.perf_counter() - t0) * 1e3
        self.tracer.enabled = False
        self.calls.append((kind, ms, traced))
        if traced:
            self.ops.append({"kind": kind, "group": group, "ms": ms,
                             "counters": spark_counters(self.sc, group)})
        return result

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    @contextmanager
    def timed(self):
        """The timed loop. Set-up ends where it begins, so ``setup_s``
        holds the warm-up calls and any work the program defers to them."""
        self.phases.setdefault("setup_s", time.perf_counter() - self.started)
        with self.phase("timed_s"):
            yield

    def untimed(self, fn):
        self.sc.setJobGroup("untimed", "untimed")
        return fn()


def _units(kind: str, seconds: float) -> int:
    return max(LEAST[kind], int(seconds / UNIT_S[kind]))


def _interleave(n_days: int, n_rebuilds: int) -> list[tuple[str, int]]:
    """``n_days`` run_day calls and ``n_rebuilds`` rebuilds, each kind spread
    evenly through the sequence: (kind, index within the kind)."""
    at = [((k + 0.5) / n_days, "run_day", k) for k in range(n_days)]
    at += [((k + 0.5) / n_rebuilds, "rebuild", k) for k in range(n_rebuilds)]
    return [(kind, k) for _, kind, k in sorted(at)]


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# -- etl_daily --------------------------------------------------------------


def etl_daily(run: Run) -> None:
    from delfos_etl_pipeline_spark.plans import pipeline
    from delfos_etl_pipeline_spark.sources import parquet, sinks

    spark, source = run.spark, os.path.join(run.data, "sensor.parquet")
    sink, rebuilt = os.path.join(run.work, "sink"), os.path.join(run.work, "rebuild")
    history = run.size["history_days"]
    days = [(inputs.SENSOR_START + dt.timedelta(days=k)).date().isoformat() for k in range(history)]

    def partition(day: str):
        src = parquet.load_table(spark, run.data, "sensor")
        dim = pipeline.default_signal_dim(spark, MEASURES)
        res = pipeline.run_day(
            src, dim, day, sink=lambda out: sinks.write_partitioned(out, sink, ts_col="timestamp"),
        )
        if res.status != "success":
            raise RuntimeError(f"run_day {day}: {res.status} {res.error}")
        return res

    def rebuild():
        src = parquet.load_table(spark, run.data, "sensor")
        dim = pipeline.default_signal_dim(spark, MEASURES)
        end = inputs.SENSOR_START + dt.timedelta(days=history)
        day_df = pipeline.extract_range(
            src, "timestamp", inputs.SENSOR_START, end, columns=["timestamp", *MEASURES], inclusive_end=False,
        )
        sinks.write_partitioned(pipeline.sensor_pipeline(day_df, dim), rebuilt, ts_col="timestamp")

    # The first call of each kind is far slower, and the JVM keeps
    # compiling for a minute after it: over 35 calls in one run, JIT time
    # per call fell from 3.7 s to 0.5 s and run_day latency from 1.9 s to
    # 1.2 s. A warm-up of nine calls, laid out like the timed loop, takes
    # the loop past the steepest part of that curve. It writes the last days
    # of the history, which the timed loop does not reach.
    with run.phase("warmup_s"):
        for kind, n in _interleave(ETL_WARMUP["run_day"], ETL_WARMUP["rebuild"]):
            run.untimed(rebuild if kind == "rebuild" else lambda: partition(days[-1 - n]))
    # Half the time in run_day calls, half in rebuilds, spread evenly
    # through the loop, so a drift in the host's speed within a run moves
    # both alike.
    with run.timed():
        for kind, n in _interleave(_units("run_day", 0.5 * run.seconds), _units("rebuild", 0.5 * run.seconds)):
            if kind == "rebuild":
                run.call("rebuild", rebuild, False)
                continue
            traced = run.trace and n % 2 == 0
            res = run.call("run_day", lambda: partition(days[(n + 1) % history]), traced)
            if traced and res is not None:
                run.ops[-1]["rows"] = res.rows_extracted

    with run.phase("checks_s"):
        con = duckdb.connect()
        written = sorted(d.split("=", 1)[1] for d in os.listdir(sink) if d.startswith("event_date="))
        for day in written:
            start = dt.datetime.fromisoformat(day)
            want = checks.etl_reference(con, source, start, start + dt.timedelta(days=1))
            if err := checks.check(f"partition {day}", checks.read_partition(sink, day), want, run.broken):
                run.failures.append(err)
        got = pq.read_table(rebuilt).to_pandas().drop(columns=["event_date"])
        end = inputs.SENSOR_START + dt.timedelta(days=history)
        if err := checks.check("rebuild", got, checks.etl_reference(con, source, inputs.SENSOR_START, end), run.broken):
            run.failures.append(err)

    if run.trace:
        files = [len(glob.glob(os.path.join(sink, f"event_date={d}", "*.parquet"))) for d in written]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(sink, "*", "*.parquet")))
        size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(sink, "*", "*.parquet")))
        run.layer["sinks.files_per_partition"] = median(files)
        run.layer["sinks.bytes_per_row_loaded"] = size / max(rows, 1)


# -- reads ------------------------------------------------------------------


def reads(run: Run) -> None:
    from delfos_etl_pipeline_spark import queries as registry
    from delfos_etl_pipeline_spark.plans import reports
    from delfos_etl_pipeline_spark.sources import parquet

    spark, source = run.spark, os.path.join(run.data, "sensor.parquet")
    fns, oracles = registry.queries(), registry.oracle_sql()
    schedule = inputs.read_schedule(run.seed, run.size["source_days"], BATCH)
    run.pass_mix = dict(Counter(req["kind"] for req in schedule))
    rng = np.random.default_rng([run.seed, 5])

    def split(name):
        """tools/profile_split.py's split: construction, executedPlan, noop write."""
        t0 = time.perf_counter()
        df = fns[name](spark, run.data)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return [(t1 - t0) * 1e3, (t2 - t1) * 1e3, (t3 - t2) * 1e3]

    def request(req: dict, traced: bool = False):
        kind = req["kind"]
        if kind == "scan":
            df = parquet.load_table_range(
                spark, run.data, "sensor", "timestamp", req["start"], req["end"], inclusive_end=False,
            ).select("timestamp", *req["columns"])
            return df.toArrow()
        if kind in BATCH:  # a registered query, forced with a noop write
            if traced:
                return split(kind)
            fns[kind](spark, run.data).write.format("noop").mode("overwrite").save()
            return None
        fact = parquet.load_table(spark, run.data, "fact")
        if kind == "daily_counts":
            return reports.daily_counts(fact).toArrow()
        dim = parquet.load_table(spark, run.data, "signal_dim")
        return getattr(reports, kind)(fact, dim).toArrow()

    fetched = {}  # query name -> its output, checked after the timed loop
    # Two untimed passes of the schedule; in the first, each query fetches
    # its rows. After one pass, the reports and queries of the first timed
    # pass ran up to 45% slower than in the second, and scans sped up by a
    # fifth through the loop.
    with run.phase("warmup_s"):
        for req in schedule:
            name = req["kind"]
            if name not in BATCH:
                run.untimed(lambda: request(req))
                continue
            try:
                fetched[name] = run.untimed(lambda: fns[name](spark, run.data).toPandas())
            except Exception as exc:  # noqa: BLE001 -- a failed query is counted, not fatal
                run.failures.append(f"{name}: raised {type(exc).__name__}: {str(exc)[:200]}")
        for req in schedule:
            if req["kind"] not in BATCH or req["kind"] in fetched:
                run.untimed(lambda: request(req))

    results = []  # (request, rows, sampled rows of a scan or the whole report)
    with run.timed():
        for p in range(_units("read_pass", run.seconds)):
            traced = run.trace and p % 2 == 0
            for req in schedule:
                out = run.call(req["kind"], lambda: request(req, traced), traced)
                if req["kind"] in BATCH:
                    if traced and out:
                        run.ops[-1].update(phases=out, rows=len(fetched.get(req["kind"], ())))
                    continue
                if out is None:
                    continue
                rows = out.num_rows
                if traced:
                    run.ops[-1]["rows"] = rows
                if req["kind"] == "scan":
                    out = out.take(checks.sample_rows(rows, 3, rng))
                results.append((req, rows, out))

    with run.phase("checks_s"):
        con = checks.duck_con(run.data)
        for name, got in fetched.items():
            if err := checks.check(name, got, con.execute(oracles[name]).df(), run.broken):
                run.failures.append(err)
        refs = checks.report_references(
            con, os.path.join(run.data, "fact.parquet"), os.path.join(run.data, "signal_dim.parquet"),
        )
        for req, rows, table in results:
            got = table.to_pandas()
            if req["kind"] != "scan":
                err = checks.check(req["kind"], got, refs[req["kind"]], run.broken)
            else:
                got = checks.naive(got)
                want_rows, want = checks.scan_reference(con, source, req, list(got["timestamp"]))
                label = f"scan {req['start']}..{req['end']}"
                rows += run.broken  # a corrupted run miscounts every scan
                err = (f"{label}: rows {rows} != {want_rows}" if rows != want_rows
                       else checks.check(label, got, want, False))
            if err:
                run.failures.append(err)


WORKLOADS = {"etl_daily": etl_daily, "reads": reads}


# -- metrics ----------------------------------------------------------------


def end_to_end(run: Run, workload: str) -> dict[str, float]:
    """etl_daily: median and geometric mean of the ``run_day`` latencies, and
    the median full-history rebuild. reads: median scan latency, geometric
    mean of the request kinds' median latencies, and one pass of the
    schedule rebuilt from those medians (each kind's median times its
    count in a pass). The mix holds kinds with latencies far apart, so a
    median over all its calls would jump between two kinds' levels, and a
    run holds too few passes for a steady median of whole passes."""
    if workload == "reads":
        per_kind = {k: median(ms for kk, ms, _ in run.calls if kk == k) for k in run.pass_mix}
        return {
            "call_p50_ms": per_kind["scan"],
            "call_geomean_ms": _geomean(list(per_kind.values())),
            "pass_s": sum(n * per_kind[k] for k, n in run.pass_mix.items()) / 1e3,
        }
    calls = [ms for k, ms, _ in run.calls if k == "run_day"]
    return {
        "call_p50_ms": median(calls),
        "call_geomean_ms": _geomean(calls),
        "pass_s": median(ms for k, ms, _ in run.calls if k == "rebuild") / 1e3,
    }


def per_layer(run: Run, cores: int) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    t = run.tracer
    ops = run.ops
    m: dict[str, float] = {"session.get_spark_s": median(t.durations_ms("session.get_spark")) / 1e3}
    m["parquet.load_table_ms"] = median(t.durations_ms("parquet.load_table"))
    m["parquet.load_table_range_ms"] = median(t.durations_ms("parquet.load_table_range"))
    m["parquet.input_records_per_op"] = median(o["counters"]["input_records"] for o in ops)
    m["parquet.input_bytes_per_op"] = median(o["counters"]["input_bytes"] for o in ops)
    scanned = [o for o in ops if o["kind"] in ("run_day", "scan", *BATCH) and o.get("rows")]
    m["parquet.records_scanned_per_row_returned"] = (
        sum(o["counters"]["input_records"] for o in scanned) / sum(o["rows"] for o in scanned)
        if scanned else 0.0
    )
    m["pipeline.run_day_self_ms"] = median(t.self_ms("pipeline.run_day"))
    m["pipeline.extract_range_ms"] = median(t.durations_ms("pipeline.extract_range", "run_day"))
    m["pipeline.sensor_pipeline_ms"] = median(t.durations_ms("pipeline.sensor_pipeline", "run_day"))
    m["pipeline.extract_count_ms"] = median(t.durations_ms("spark.count", "run_day", parent="pipeline.run_day"))
    m["sinks.write_partitioned_ms"] = median(t.durations_ms("sinks.write_partitioned", "run_day"))
    m["sinks.files_per_partition"] = run.layer.get("sinks.files_per_partition", 0.0)
    m["sinks.bytes_per_row_loaded"] = run.layer.get("sinks.bytes_per_row_loaded", 0.0)
    for kind in REPORTS:
        m[f"reports.{kind}_ms"] = median(o["ms"] for o in ops if o["kind"] == kind)
    m["api.scan_ms"] = median(o["ms"] for o in ops if o["kind"] == "scan")
    for q in BATCH:
        mine = [o for o in ops if o["kind"] == q and "phases" in o]
        for i, phase in enumerate(("construct", "analyze", "execute")):
            m[f"queries.{q}.{phase}_ms"] = median(o["phases"][i] for o in mine)
    groups = {"spark": ops}
    groups.update({f"spark.{q}": [o for o in ops if o["kind"] == q] for q in BATCH})
    for prefix, mine in groups.items():
        c = [o["counters"] for o in mine]
        m[f"{prefix}.jobs_per_op"] = median(x["jobs"] for x in c)
        m[f"{prefix}.stages_per_op"] = median(x["stages"] for x in c)
        m[f"{prefix}.tasks_per_op"] = median(x["tasks"] for x in c)
        m[f"{prefix}.shuffle_write_bytes_per_op"] = median(x["shuffle_write_bytes"] for x in c)
        m[f"{prefix}.spill_bytes_per_op"] = median(x["spill_bytes"] for x in c)
        m[f"{prefix}.gc_ms_per_op"] = median(x["gc_ms"] for x in c)
        wall = sum(o["ms"] for o in mine)
        m[f"{prefix}.core_busy_frac"] = sum(x["run_ms"] for x in c) / (wall * cores) if wall else 0.0
    traced = [ms for _, ms, tr in run.calls if tr]
    plain = [ms for k, ms, tr in run.calls if not tr and k != "rebuild"]
    m["trace.overhead_frac"] = median(traced) / median(plain) - 1.0 if traced and plain else 0.0
    return m
