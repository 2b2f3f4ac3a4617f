"""Launch entry points. End-to-end launch via ``tools/submit.sh`` —
the north rule's "run via spark-submit --py-files" mode: the package is
zipped, shipped with --py-files, and the extraction job runs in a fresh
spark-submit JVM (no shared test session). Output is read back with
DuckDB so this test never touches the suite's SparkSession. Plus
``bench.py``'s default mode, which forwards to perfbench.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_launch(tmp_path):
    src = str(tmp_path / "docs.parquet")
    duckdb.sql(
        "COPY (SELECT * FROM read_parquet('/root/testdata/sf0.001/documents.parquet') "
        f"LIMIT 40) TO '{src}' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    metrics = str(tmp_path / "metrics")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        ["bash", "tools/submit.sh", src, out, ckpt, metrics, "run-submit-1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=280,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["processed"] and result["skipped"] == []
    assert result["n_docs"] == 40

    rows = duckdb.sql(
        f"SELECT count(*) AS n, count(DISTINCT doc_id) AS d "
        f"FROM read_parquet('{out}/*/*.parquet')"
    ).fetchone()
    assert rows == (40, 40)
    # lineage tables written by the job
    ck = duckdb.sql(
        f"SELECT sum(n_docs) FROM read_parquet('{ckpt}/*.parquet') "
        "WHERE status = 'complete'"
    ).fetchone()[0]
    assert ck == 40
    m = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{metrics}/*.parquet') "
        "WHERE docs_per_sec > 0 AND run_seq = 1"
    ).fetchone()[0]
    assert m == len(result["processed"])


def test_bench_default_runs_perfbench_contract_suite(monkeypatch):
    """``python bench.py`` with no flags is ``perfbench/run.py
    --workload contract_suite``: the same arguments and its exit code."""
    import bench
    import perfbench.run

    calls = []

    def fake_main(argv=None):
        calls.append(argv)
        return 7

    monkeypatch.setattr(perfbench.run, "main", fake_main)
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    assert bench.main() == 7
    assert calls == [["--workload", "contract_suite"]]
