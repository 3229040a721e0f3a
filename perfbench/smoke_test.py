"""Smoke test of the benchmark at tiny input sizes.

Every workload runs untraced and traced and prints exactly the metric
names and units BENCHMARK.json lists; a corrupted output is caught; the
working tree is the same before and after; and without the program beside
it the benchmark fails without printing a result.

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _git_status() -> str | None:
    try:
        out = subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
                             capture_output=True, text=True, timeout=60)
    except OSError:
        return None
    return out.stdout if out.returncode == 0 else None


def test_every_workload_prints_the_listed_metrics():
    spec = _spec()
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = _result(_run(workload, trace))
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (workload, res)
            got = {name: m["unit"] for name, m in res["metrics"].items()}
            assert got == {m["name"]: m["unit"] for m in listed}, (workload, trace)
            if trace == 0:
                assert all(m["value"] > 0 for m in res["metrics"].values()), (workload, res)


def test_a_corrupted_output_is_counted_as_failed():
    for workload in (w["name"] for w in _spec()["workloads"]):
        res = _result(_run(workload, 0, "--corrupt"))
        assert res["failed"] > 0 and not res["correct"], (workload, res)


def test_a_run_leaves_the_tree_as_it_found_it():
    before = _git_status()
    if before is None:  # not a git checkout
        return
    _result(_run("etl_daily", 0))
    after = _git_status()
    # Bytecode caches aside, the spans of a traced run (in .perfbench/) are
    # the one output a run keeps.
    strip = lambda s: [l for l in s.splitlines() if ".perfbench/" not in l and "__pycache__" not in l]  # noqa: E731
    assert strip(after) == strip(before)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("etl_daily", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip().endswith("}")


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q"]))
