"""Self-test of the benchmark: ``python3 -m pytest perfbench/ -q``.

Runs every workload at ``--size tiny``, untraced and traced, end to end
through ``run.py`` (about 5 minutes on 4 cores), and checks the result
contract. The remaining tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import assets as A  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_lists_match_benchmark_json():
    spec = _bench_json()
    assert [m["name"] for m in spec["end_to_end"]] == [m["name"] for m in END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [m["unit"] for m in END_TO_END]
    assert spec["per_layer"] == [{**m, "better": spec["per_layer"][i]["better"]}
                                 for i, m in enumerate(PER_LAYER)]
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_generator_is_deterministic():
    spec = A.ExperimentSpec(n_locations=2, n_stations=3, n_features=2, n_images=1)
    one = [(a.uri, A.digest(a.obj)) for a in A.experiment_assets(5, "p", "e", spec)]
    two = [(a.uri, A.digest(a.obj)) for a in A.experiment_assets(5, "p", "e", spec)]
    other = [(a.uri, A.digest(a.obj)) for a in A.experiment_assets(6, "p", "e", spec)]
    assert one == two
    assert one != other


def test_reference_slicers():
    doc = {"v": {"n": {"l": {"m": {"v": {"R": {"t": {"s": 1.0}, "u": {"s": 2.0}}}}}}}}
    assert A.slice_heatmap(doc, "R", "t") == {
        "v": {"n": {"l": {"m": {"v": {"R": {"t": {"s": 1.0}}}}}}}}
    assert A.slice_heatmap(doc, "X", "t") == {"v": {"n": {"l": {"m": {"v": {}}}}}}
    assert A.slice_regional(doc, "v", "n", "l") == doc["v"]["n"]["l"]
    stations = [{"station_name": "a", "junk": 1, "monthly": {"all": 1, "DJF": 2}, "yearly": {}}]
    assert A.slice_map(stations, "monthly", "DJF") == [
        {"station_name": "a", "monthly": {"DJF": 2}}]


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_zipf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_end_to_end(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert report["nproc"] >= 1 and report["spark_conf"]["spark.master"].startswith("local[")
    expected = END_TO_END if trace == 0 else PER_LAYER
    assert list(result["metrics"]) == [m["name"] for m in expected]
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["session.get_spark.ms"]["value"] > 0
    assert not os.path.exists(os.path.join(REPO, ".perfbench_tmp"))
