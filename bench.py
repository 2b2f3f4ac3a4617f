#!/usr/bin/env python
"""Benchmark harness: the contract suite plus scaling evidence.

Default (no flags): exactly ``python3 perfbench/run.py --workload
contract_suite`` — every ``queries()`` entry plus the two approximate
twins over perfbench's generated sf0.01 tables (seed 1, 2g driver
heap), row counts checked against the DuckDB oracles. The last stdout
line is perfbench's result JSON (``setup_s``, ``peak_rss_mb``,
``suite_wall_s``); per-query walls go to
``.perfbench_work/detail-contract_suite-s1-t0.json`` under
``query_walls_s``.

``--scaling`` runs the flagship extraction job at two parallelism
levels (N and 4N cores, same input, same seed) and reports
throughput@N, throughput@4N and the efficiency
``tput_4N / (4 * tput_N)`` — the sandbox evidence for BASELINE.json's
two-cluster-size criterion (no real cluster here; see BENCH/BASELINE.md).
Its flagship executes to a ``noop`` sink (full materialization, no
driver collect). ``--sf-dir``, ``--cpus`` and ``--factor`` apply to
``--scaling`` (and its ``--cluster-once`` levels) only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))


def _replicated_docs(spark, sf_dir: str, factor: int):
    """Deterministically replicate the flat documents table so the
    flagship job is not startup-dominated at small SF: new doc_id =
    doc_id * factor + r (disjoint, stable)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if factor <= 1:
        return docs
    reps = spark.range(factor).select(F.col("id").alias("r"))
    return docs.crossJoin(reps).select(
        (F.col("doc_id") * factor + F.col("r")).alias("doc_id"), "text"
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def flagship(spark, sf_dir: str, factor: int):
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import run_pipeline_fused

    # ONE exchange total: hash-repartition the compact flat rows by
    # doc_id (inside span_rows_from_flat, before the explode) — the
    # reassembly groupBy reuses that partitioning, and the fused doc
    # stage runs every Python rule after the shuffle in a single
    # Arrow crossing
    n_parts = spark.sparkContext.defaultParallelism * 2
    docs = _replicated_docs(spark, sf_dir, factor)
    return run_pipeline_fused(
        span_rows_from_flat(docs, spans_per_doc=12, partitions=n_parts)
    )


SCALING_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALING_FACTOR", "150"))


def _cluster_throughput(
    sf_dir: str, n_workers: int, cores_per_worker: int, factor: int,
    executor_mem_mb: int = 12288,
) -> tuple[float, float]:
    """(docs/sec, wall) for the flagship on a ``local-cluster`` — real
    multi-executor Spark: one JVM per executor, netty shuffle between
    them, python workers per executor. This is the honest
    two-cluster-size emulation: a single local[32] JVM under-reports
    scaling (one DAG scheduler + shuffle tracker + heap serving 32
    task threads — four independent 8-core instances aggregate ~45%
    more throughput than one local[32] on this box), while a real
    cluster runs separate executor JVMs exactly like local-cluster."""
    from pyspark.sql import SparkSession

    from smartglass_ocr_spark.session import DAEMON_CONF

    total_cores = n_workers * cores_per_worker
    spark = (
        SparkSession.builder
        .master(f"local-cluster[{n_workers},{cores_per_worker},{executor_mem_mb}]")
        .appName(f"bench-{n_workers}x{cores_per_worker}")
        .config("spark.sql.shuffle.partitions", str(2 * total_cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", "8g")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.abspath(__file__)))
        # the executors' PYTHONPATH above makes the daemon importable
        .config(*DAEMON_CONF)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:
        _noop(flagship(spark, sf_dir, factor=1))  # warm-up
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count() * factor
        job = flagship(spark, sf_dir, factor=factor)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(job)
            best = min(best, time.perf_counter() - t0)
        return n_docs / best, best
    finally:
        spark.stop()


def _cluster_level(
    sf_dir: str, n_workers: int, cores_per_worker: int, factor: int
) -> tuple[float, float]:
    """One scaling level = a local-cluster session taskset-pinned to
    its fair share of the machine (executor cores + 2 driver cores).
    Without pinning, the small level's JVM/python threads spread over
    the idle box and inflate its throughput, understating efficiency."""
    import shutil
    import subprocess

    spec = f"{n_workers}x{cores_per_worker}"
    if shutil.which("taskset") is None:
        return _cluster_throughput(sf_dir, n_workers, cores_per_worker, factor)
    total = os.cpu_count() or 32
    # exact budget: the driver shares the level's cores (its load
    # during a run is a few percent of one core; keeping budgets at
    # exactly 4x avoids handing the small level a relative bonus)
    budget = min(total, n_workers * cores_per_worker)
    cmd = [
        "taskset", "-c", f"0-{budget - 1}", sys.executable,
        os.path.abspath(__file__), "--cluster-once", spec,
        "--factor", str(factor), "--sf-dir", sf_dir,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    return payload["docs_per_sec"], payload["wall"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--cluster-once", type=str, default=None,
                    help="internal: 'NxC' local-cluster measurement")
    ap.add_argument("--factor", type=int, default=SCALING_FACTOR)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--cpus", type=int, default=CPUS)
    args = ap.parse_args()

    if args.cluster_once:
        n_workers, cores = (int(x) for x in args.cluster_once.split("x"))
        tput, wall = _cluster_throughput(args.sf_dir, n_workers, cores, args.factor)
        print(json.dumps({"docs_per_sec": round(tput, 1), "wall": round(wall, 3)}))
        return 0

    if args.scaling:
        cores_per_worker = max(2, args.cpus // 4)
        tput_n, wall_n = _cluster_level(args.sf_dir, 1, cores_per_worker, args.factor)
        tput_4n, wall_4n = _cluster_level(args.sf_dir, 4, cores_per_worker, args.factor)
        eff = tput_4n / (4 * tput_n)
        print(json.dumps(
            {
                "sf": args.sf_dir,
                "unit": "ratio",
                # value IS the efficiency (a reader pairing metric
                # with value must not get 4N wall seconds instead);
                # the walls stay available under "queries"
                "metric": "scaling_efficiency",
                "value": round(eff, 3),
                "queries": {"flagship@N": round(wall_n, 3), "flagship@4N": round(wall_4n, 3)},
                "executors_n": f"1x{cores_per_worker}",
                "executors_4n": f"4x{cores_per_worker}",
                "docs_per_sec_n": round(tput_n, 1),
                "docs_per_sec_4n": round(tput_4n, 1),
                "scaling_efficiency": round(eff, 3),
            }
        ))
        return 0

    import perfbench.run

    return perfbench.run.main(["--workload", "contract_suite"])


if __name__ == "__main__":
    sys.exit(main())
