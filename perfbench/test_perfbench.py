"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload at the benchmark's scale factor,
untraced and traced, and take a few minutes because each run starts
Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("read_mix", "lake_dml")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_what_the_runs_emit():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.metric_units()


def test_layer_map_names_real_metrics_and_workloads():
    with open(os.path.join(HERE, "layer_map.json")) as fh:
        m = json.load(fh)
    known = set(run.E2E_UNITS) | set(layers.metric_units())
    entries = list(m["metrics"].values()) + [
        v for k, v in m["operator_metrics"].items() if k != "operators"]
    for entry in entries:
        for metric, workload in entry["moves"]:
            assert metric in known and workload in WORKLOADS
        assert set(entry["no_change"]) <= set(WORKLOADS)


def test_generated_data_is_deterministic():
    a, b = datagen.generate(0.001), datagen.generate(0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


def test_matches_compares_multisets_with_float_tolerance():
    got = pa.table({"k": ["b", "a"], "v": [2.0, 1.0 + 1e-12]})
    assert workloads.matches(got, [("a", 1.0), ("b", 2.0)])
    assert not workloads.matches(got, [("a", 1.0), ("b", 2.5)])
    assert not workloads.matches(got, [("a", 1.0)])


def _rec(result, oracle):
    op = workloads.Op("probe", "query", lambda: result, oracle)
    return run.Rec(0, op, "timed", 0.1, result)


def test_wrong_oracle_answer_counts_as_failure():
    result = pa.table({"n": [3]})
    right, wrong = _rec(result, lambda con: [(3,)]), _rec(result, lambda con: [(4,)])
    run.check_log([right, wrong], con=None)
    assert (right.wrong, wrong.wrong) == (False, True)
    assert run.failures([right, wrong]) == 1


def test_failed_commit_is_not_replayed():
    replayed = []
    op = workloads.Op("delta.update", "commit", None, lambda con: replayed.append(1) or 1)
    rec = run.Rec(0, op, "timed", 0.1, None, error="EngineError: boom")
    run.check_log([rec], con=None)
    assert replayed == [] and run.failures([rec]) == 1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record, result = json.loads(lines[-2])["run_record"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in _bench()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert record["master"] == f"local[{record['SPARK_GRAFT_CPUS']}]"
    if trace:
        assert result["metrics"]["trace.lost_stages"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
