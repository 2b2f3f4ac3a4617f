"""Tests for the benchmark itself (run with ``python -m pytest perfbench``).

The smoke test drives every workload once on tiny inputs through the
same command the benchmark exposes, and checks the output contract:
a compact summary line, then one JSON result line as the last line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, run  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_units_match_benchmark_json():
    spec = _bench_json()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert run.unit_of(m["name"]) == m["unit"], m["name"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_inputs_follow_the_seed():
    a, b = datagen.flat_documents(200, 7), datagen.flat_documents(200, 7)
    assert a.equals(b)
    assert not a.equals(datagen.flat_documents(200, 8))
    assert (a["n_chars"] == a["text"].str.len()).all()


def test_missing_program_exits_nonzero(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_unique",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_smoke_runs_every_workload():
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert len(lines[-2]) < 500 and summary["cpus_used"] >= 1
    with open(os.path.join(ROOT, summary["detail"])) as f:
        detail = json.load(f)
    spec = _bench_json()
    for name in run.WORKLOAD_NAMES:
        assert f"{name}.setup_s" in result["metrics"]
        assert detail[name]["passes"]
    for name in ("flagship_replicated", "corpus_unique", "extraction_job"):
        assert set(detail[name]["ladder"]["median_s"]) == {"scan", "L0", "L1", "L2", "L3", "L4"}
        assert set(detail[name]["layer_metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert detail["contract_suite"]["query_walls_s"]
    assert detail["spans"] and {"name", "start", "end", "parent", "run_id"} <= set(detail["spans"][0])
