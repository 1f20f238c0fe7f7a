"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q            # fast checks only
    PERFBENCH_E2E=1 python3 -m pytest perfbench -q   # plus one traced run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import run  # noqa: E402
import selfcheck  # noqa: E402
import workloads  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_reported_metric():
    spec = _benchmark_json()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == ["etl_train", "analytics"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in spec["end_to_end"])


def test_selfcheck_passes_on_the_benchmark():
    assert selfcheck.violations(HERE) == []


@pytest.mark.parametrize("src", [
    "from rel_db_to_graph_spark.operators.graph_build import _GRAPH_CACHE\n",
    "import rel_db_to_graph_spark.queries as Q\nQ._COPURCHASE_CACHE.clear()\n",
    "from rel_db_to_graph_spark import queries\n"
    "getattr(queries, '_cap_examples')\n",
    "def f(spark):\n    return spark.sparkContext._jsc\n",
])
def test_selfcheck_catches_private_names(tmp_path, src):
    (tmp_path / "bad.py").write_text(src)
    assert selfcheck.violations(str(tmp_path))


def test_inputs_hold_every_table_the_engine_reads():
    from rel_db_to_graph_spark.sources.catalog import TABLES

    assert sorted(f"{t}.parquet" for t in TABLES) == sorted(os.listdir(run.DATA))


def test_covered_is_the_union_of_clipped_spans():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 20.0)]
    assert eventlog.covered(spans, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
    assert eventlog.covered([], 0.0, 1.0) == 0.0


def test_refuses_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1",
                    reason="one traced run takes about a minute")
def test_traced_run_reports_every_per_layer_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == set(run.per_layer_names())
    calls = sum(metrics[f"{c}.jobs"] for c in workloads.Analytics.calls)
    assert calls == metrics["trace.spark_jobs"] > 0
