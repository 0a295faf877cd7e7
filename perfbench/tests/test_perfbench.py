"""The benchmark's own tests: smoke runs at sf0.001 and injected faults.

Each test runs the benchmark in a subprocess (one JVM each), so the suite
takes a few minutes. Run from the repo root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def run_bench(workload: str, trace: int = 0, patch: str = "", cwd: str = ROOT) -> dict | None:
    """Run one workload at sf0.001 for one window of 0 s, after ``patch``."""
    argv = ["--workload", workload, "--seed", "7", "--seconds", "0",
            "--trace", str(trace), "--sf", "0.001"]
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import run\n"
        f"{patch}\n"
        f"sys.exit(run.main({argv!r}))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        assert not lines or not lines[-1].startswith("{"), proc.stdout
        return None
    return json.loads(lines[-1])


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {d["name"]: d["unit"] for d in declared}
    assert set(result["metrics"]) == set(want)
    for name, unit in want.items():
        m = result["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_smoke_prints_every_end_to_end_metric(workload):
    result = run_bench(workload)
    assert result is not None
    assert_metrics(result, DECLARED["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    for d in DECLARED["end_to_end"]:
        assert result["metrics"][d["name"]]["value"] > 0


def test_traced_run_prints_every_per_layer_metric_and_writes_trace():
    result = run_bench("interactive", trace=1)
    assert result is not None
    assert_metrics(result, DECLARED["per_layer"])
    assert result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["operators.relational.jobs"] > 0
    assert m["sources.txlog.jobs_per_write"] > 0
    assert m["operators.curation.exec_s"] == 0
    runs = os.path.join(ROOT, ".perfbench", "runs")
    latest = max(
        (os.path.join(runs, d) for d in os.listdir(runs) if d.startswith("interactive-s7-t1-")),
        key=os.path.getmtime,
    )
    with open(os.path.join(latest, "spans.json")) as fh:
        spans = json.load(fh)
    names = {s["name"] for s in spans["spans"]}
    assert {"setup", "get_session", "load_all", "load_table", "build", "plan", "exec",
            "append", "upsert_mor", "delete_mor", "read_snapshot_pruned"} <= names
    assert os.listdir(os.path.join(latest, "eventlog"))


def test_corrupted_expected_hash_counts_as_failure():
    patch = (
        "import check\n"
        "_orig = check.oracle_digests\n"
        "def _bad(*a, **k):\n"
        "    d = _orig(*a, **k)\n"
        "    name = sorted(d)[0]\n"
        "    d[name] = d[name][:2] + ['0']\n"
        "    return d\n"
        "check.oracle_digests = _bad"
    )
    result = run_bench("interactive", patch=patch)
    assert result is not None
    assert result["failed"] > 0 and not result["correct"]


def test_skipped_upsert_in_model_counts_as_failure():
    patch = (
        "import lakehouse\n"
        "_orig = lakehouse.Model.upsert\n"
        "_calls = []\n"
        "def _skip_first(self, *a):\n"
        "    _calls.append(a)\n"
        "    if len(_calls) > 1:\n"
        "        _orig(self, *a)\n"
        "lakehouse.Model.upsert = _skip_first"
    )
    result = run_bench("interactive", patch=patch)
    assert result is not None
    assert result["failed"] > 0 and not result["correct"]


def test_exception_in_executed_plan_counts_as_failure():
    patch = (
        "import lightcurator_spark.plans as plans\n"
        "_orig = plans.load_all\n"
        "class _Broken:\n"
        "    def queryExecution(self):\n"
        "        return self\n"
        "    def executedPlan(self):\n"
        "        raise RuntimeError('injected planner failure')\n"
        "class _Df:\n"
        "    _jdf = _Broken()\n"
        "def _load_all():\n"
        "    specs = _orig()\n"
        "    specs['a1_groupby_basic'].fn = lambda spark, sf: _Df()\n"
        "    return specs\n"
        "plans.load_all = _load_all"
    )
    result = run_bench("interactive", patch=patch)
    assert result is not None
    assert result["failed"] > 0 and not result["correct"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    assert run_bench("interactive", cwd=str(tmp_path)) is None
