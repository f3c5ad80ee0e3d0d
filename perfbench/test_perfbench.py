"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout.  The smoke-mode runs start Spark, so the
file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, rows_digest  # noqa: E402


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--seed", "7", "--seconds", "1",
         "--smoke", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                          text=True, check=True).stdout


def test_benchmark_json_matches_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_covered_time_is_union_of_clipped_intervals():
    assert tracing._covered([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == 5
    assert tracing._covered([], 0, 10) == 0


def test_self_time_subtracts_children():
    spans = [{"id": "a", "parent": None, "start_ms": 0, "end_ms": 10},
             {"id": "b", "parent": "a", "start_ms": 2, "end_ms": 4},
             {"id": "c", "parent": "a", "start_ms": 3, "end_ms": 6}]
    tracing._self_times(spans)
    assert [s["self_ms"] for s in spans] == [6, 2, 3]


def test_digest_ignores_row_and_column_order():
    a = rows_digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = rows_digest(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b
    assert a != rows_digest(["x", "y"], [(1, 0.31), (2, None)])


def test_end_to_end_run_prints_every_metric_and_leaves_tree_clean():
    before = _git_status()
    res = _result(_bench(ROOT, "--workload", "relational", "--trace", "0"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert _git_status() == before


def test_traced_run_prints_every_layer_metric_and_attributes_every_job():
    res = _result(_bench(ROOT, "--workload", "vector", "--trace", "1"))
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.unattributed_jobs"] == 0
    # The setup barrier boots every Python worker; the cold pass boots none.
    assert m["trace.setup_python_boot_s"] > 0
    assert m["trace.cold_python_boot_s"] == 0
    assert m["python.run_s"] > 0


def test_corrupted_expected_digest_counts_as_failed(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache"))
    (tmp_path / "auron_spark").symlink_to(ROOT / "auron_spark")
    exp_path = tmp_path / "perfbench" / "expected.json"
    expected = json.loads(exp_path.read_text())
    expected["smoke"]["write_partitioned"]["digest"] = "0" * 16
    exp_path.write_text(json.dumps(expected))
    res = _result(_bench(tmp_path, "--workload", "relational", "--trace", "0"))
    assert not res["correct"]
    assert res["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero without a result line."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache"))
    proc = _bench(tmp_path, "--workload", "relational", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
