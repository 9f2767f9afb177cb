"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` in a fresh process from the checkout
root and checks the contract of its last output line.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, RESULTS_DIR, UNITS, source_shas  # noqa: E402
from tracing import STAGE_FIELDS, STAGES  # noqa: E402
from workloads import PER_LAYER  # noqa: E402

TINY = {"er_batch": "0.1", "driver_suite": "0.001"}


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int, force_failure: bool = False,
         cwd: str = ROOT, seed: int = 3) -> tuple[int, list[str]]:
    env = dict(os.environ)
    env.pop("PERFBENCH_FORCE_CHECK_FAILURE", None)
    if force_failure:
        env["PERFBENCH_FORCE_CHECK_FAILURE"] = "1"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", TINY[workload]],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


def _result(workload: str, trace: int, force_failure: bool = False,
            seed: int = 3) -> dict:
    code, lines = _run(workload, trace, force_failure, seed=seed)
    assert code == 0, lines[-5:]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    return res


def test_benchmark_json_matches_the_metric_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(TINY)


@pytest.mark.parametrize("workload", list(TINY))
def test_end_to_end_metrics_present_and_checked(workload):
    res = _result(workload, 0)
    assert res["correct"] and res["failed"] == 0
    assert list(res["metrics"]) == END_TO_END
    for name, m in res["metrics"].items():
        assert m["unit"] == UNITS[name]
        assert m["value"] > 0, name


def test_traced_er_batch_reports_every_stage_and_query_field():
    m = _result("er_batch", 1)["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == PER_LAYER
    for s in STAGES:
        for f in ("wall_s", "rows_out", "bytes_written", "jobs", "tasks",
                  "task_run_s"):
            assert m[f"{s}.{f}"]["value"] > 0, f"{s}.{f}"
        assert all(f"{s}.{f}" in m for f in STAGE_FIELDS)
    assert m["mentions.python_s"]["value"] > 0
    assert m["trace.untagged_cpu_share"]["value"] < 0.1
    assert m["trace.overhead_frac"]["value"] != 0
    assert m["query.prepare_s"]["value"] > 0
    assert m["query.match_s"]["value"] > 0


def test_traced_driver_suite_times_every_query():
    m = _result("driver_suite", 1)["metrics"]
    assert all(v["value"] > 0 for k, v in m.items()
               if k.startswith("queries."))


def test_forced_check_failure_raises_failed():
    clean = _result("er_batch", 0)
    forced = _result("er_batch", 0, force_failure=True)
    assert clean["failed"] == 0
    assert forced["failed"] == forced["attempted"] > 0
    assert not forced["correct"]


def test_cluster_digest_differing_from_an_earlier_run_fails():
    """An earlier er_batch result of the same seed, scale and sources with
    other clusters makes every pipeline run of this invocation fail its
    check."""
    planted = os.path.join(RESULTS_DIR, "er_batch-seed4-trace0-planted.json")
    os.makedirs(RESULTS_DIR, exist_ok=True)
    with open(planted, "w") as f:
        json.dump({"scale": float(TINY["er_batch"]),
                   "provenance": source_shas(),
                   "detail": {"cluster_digests": ["0" * 16]}}, f)
    try:
        res = _result("er_batch", 0, seed=4)
    finally:
        os.remove(planted)
    assert res["failed"] >= 1
    assert not res["correct"]


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run("er_batch", 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(ln.startswith("{") for ln in lines)
