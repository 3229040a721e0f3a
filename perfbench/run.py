"""Benchmark of the engine: the daily-partition ETL, and the read side (API
range scans, summary reports and registered queries), at ``local[nproc]``,
one fresh Python and JVM process per run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 24 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). Lines before it give the run's context and every metric
with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402

#: What each workload imports from the program during set-up.
SETUP_IMPORTS = {
    "etl_daily": ("plans.pipeline", "sources.parquet", "sources.sinks"),
    "reads": ("plans.reports", "sources.parquet", "queries"),
}


def host_anchor() -> float:
    """Seconds for a fixed single-core md5 chain: a CPU-speed reference
    measured beside the numbers, with no JVM and no other process."""
    import hashlib

    h = b"x" * 4096
    t0 = time.perf_counter()
    for _ in range(50_000):
        h = hashlib.md5(h).digest() + h[:4080]
    return time.perf_counter() - t0


def git_state() -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30)
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return {"head": None, "dirty": None}
    if head.returncode != 0:
        return {"head": None, "dirty": None}
    return {"head": head.stdout.strip(), "dirty": bool(dirty.stdout.strip())}


def retained_mb(spark) -> dict:
    """Memory the driver JVM still holds after full collections: live heap
    plus metaspace and code. Caches, broadcasts and state the program keeps
    between calls show here; garbage and heap sizing do not. Python drops
    its py4j proxies before each collection, and objects freed by one
    collection (proxies released, finalizers run) let the next free more,
    so collections repeat until the live heap stops falling: after one, it
    read 90 to 122 MB between runs of the same code; after three, 70 to 73."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(8):
        gc.collect()
        jvm.System.gc()
        last, heap = heap, mem.getHeapMemoryUsage().getUsed() / 2**20
        if last - heap < 1.0:
            break
    other = mem.getNonHeapMemoryUsage().getUsed() / 2**20
    return {"retained_mb": heap + other, "heap_mb": heap, "nonheap_mb": other}


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM: the most memory it held at once."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited; also
    when ``spark`` is None because the run ended while the JVM started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def make_inputs(workload: str, data: str, seed: int, size: dict) -> dict:
    out = {"sensor": inputs.sensor_source(os.path.join(data, "sensor.parquet"), seed, size["source_days"])}
    if workload == "reads":
        out["fact"] = inputs.signal_long(data, seed, size["source_days"])
        out.update(inputs.analytics_tables(data, seed, size))
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=tuple(SETUP_IMPORTS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="how long the timed loop runs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(inputs.SIZES), default="full")
    p.add_argument("--corrupt", action="store_true", help="corrupt outputs before checking them")
    args = p.parse_args(argv)

    if importlib.util.find_spec("delfos_etl_pipeline_spark") is None:
        print(f"delfos_etl_pipeline_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    import workloads

    cpus = len(os.sched_getaffinity(0))
    size = inputs.SIZES[args.size]
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    data, work = os.path.join(tmp, "data"), os.path.join(tmp, "work")
    os.makedirs(data)
    os.makedirs(work)
    old_cwd = os.getcwd()
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark writes spark-warehouse and friends relative to the working
    # directory; keep them all in the temp directory.
    os.chdir(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # pyspark's gateway files, and any temp file of the JVM or a worker.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "tmp")
    os.makedirs(tempfile.tempdir)
    # Python workers that unpickle the program's functions import it too.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "cpus": cpus,
            "host_anchor_md5_s": host_anchor(),
            "python": platform.python_version(), **git_state(),
            "note": "never compare with bench.py's 32c/8c records: other inputs, other cores",
        }
        t = time.perf_counter()
        context["inputs"] = make_inputs(args.workload, data, args.seed, size)
        context["input_generation_s"] = time.perf_counter() - t

        tracer = Tracer()
        tracer.op = "setup"
        t0 = time.perf_counter()
        import delfos_etl_pipeline_spark as pkg

        for mod in SETUP_IMPORTS[args.workload]:
            importlib.import_module(f"delfos_etl_pipeline_spark.{mod}")
        if args.trace:
            tracer.install()
            tracer.enabled = True
        spark = pkg.get_spark(
            "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                # No hsperfdata file in /tmp.
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.enabled = False
        context["spark"] = spark.version
        context["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        print("context " + json.dumps(context, default=str), flush=True)

        run = workloads.Run(
            spark=spark, seed=args.seed, seconds=args.seconds, data=data, work=work, size=size,
            tracer=tracer, trace=bool(args.trace), broken=args.corrupt, started=t0,
        )
        workloads.WORKLOADS[args.workload](run)
        rss, kept = peak_rss_mb(spark), retained_mb(spark)
        print("memory " + json.dumps({**kept, "peak_rss_mb": rss}), flush=True)
        print("phases " + json.dumps({"session_s": session_s, **run.phases}), flush=True)
        if args.trace:
            metrics = {**workloads.per_layer(run, cpus), "jvm.peak_rss_mb": rss}
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans, t0)
            print(f"spans {spans}", flush=True)
        else:
            metrics = {"setup_s": run.phases["setup_s"], **workloads.end_to_end(run, args.workload),
                       "retained_mb": kept["retained_mb"]}
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in listed}
        failed = len(run.failures)
        attempted = len(run.calls)
        for f in run.failures:
            print(f"FAILED {f}", flush=True)
        print(f"calls {attempted} failed {failed} failed_frac {failed / max(attempted, 1):.4f}")
        for kind in dict.fromkeys(k for k, _, _ in run.calls):
            ms = [round(v, 1) for k, v, _ in run.calls if k == kind]
            print(f"samples {kind} n={len(ms)} ms={ms}")
        for name, value in metrics.items():
            print(f"metric {name} {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        # A second SIGTERM must not cut the clean-up short, and the temp
        # directory goes even when stopping the JVM raised (Spark's own
        # shutdown hooks empty only its local dirs).
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            stop_spark(spark)
        finally:
            os.chdir(old_cwd)
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
