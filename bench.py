#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling evidence).

Default: run the headline suite once at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default: the host's core count) and print ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

``--scaling`` additionally runs the flagship extraction job at two
parallelism levels (N and 4N cores, same input, same seed) and
reports throughput@N, throughput@4N and the efficiency
``tput_4N / (4 * tput_N)`` — the sandbox evidence for BASELINE.json's
two-cluster-size criterion (no real cluster here; see BENCH/BASELINE.md).

Every query executes to a ``noop`` sink (full materialization, no
driver collect).
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
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "10"))

# r3 VERDICT #8: the bench covers EVERY contract query (the full
# oracled set plus the pipeline_* parity queries) so each family has
# round-over-round regression tracking, plus the flagship and the two
# approximate twins (sketches have no oracle; their regression signal
# belongs here). The list is derived from queries() at runtime so a
# new contract query can't silently miss the bench.
def _approx_percentiles(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import value_percentiles_approx

    return value_percentiles_approx(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def _approx_cardinality(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import corpus_cardinality

    return corpus_cardinality(spark.read.parquet(f"{sf_dir}/documents.parquet"))


EXTRA_QUERIES = {
    "value_percentiles_approx": _approx_percentiles,
    "corpus_cardinality": _approx_cardinality,
}


def headline_names(contract_queries) -> list[str]:
    return (
        ["pipeline_extract_full"]
        + list(contract_queries)
        + list(EXTRA_QUERIES)
    )


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


def flagship(spark, sf_dir: str, factor: int = REPLICATE):
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


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm up with the EXACT measured flagship shape (same replication
    # factor => same plan): a factor=1 warmup leaves the replicated
    # plan's codegen + python-worker scale-up inside the timed run,
    # under-reporting the steady-state docs/sec by ~2x (r1 finding)
    _noop(flagship(spark, sf_dir))
    # best-of-2 per query (r2 VERDICT #8): a single shared-host steal
    # spike printed a 4x phantom regression in BENCH_r02
    # (doc_fingerprint 11.4 s cold vs 2.3 s warm); the best of two
    # runs reflects the plan, not the noise, while keeping the suite
    # within the driver's time budget
    timings: dict[str, float] = {}
    for name in headline_names(qs):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            if name == "pipeline_extract_full":
                _noop(flagship(spark, sf_dir))
            else:
                _noop((qs.get(name) or EXTRA_QUERIES[name])(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        # drop caches between ENTRIES (not between an entry's two
        # runs — the canonicalized-plan cache reuse between them is
        # part of the best-of-2 design): operators that persist
        # internal frames (bm25's postings, semantic_dedup's assigns,
        # lm diamonds) document a caller-owned-unpersist contract,
        # and the 72-entry suite is that caller — without this the
        # session accumulates every entry's cached blocks (r4 ADVICE)
        spark.catalog.clearCache()
    return timings


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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--cluster-once", type=str, default=None,
                    help="internal: 'NxC' local-cluster measurement")
    ap.add_argument("--factor", type=int, default=SCALING_FACTOR)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--cpus", type=int, default=CPUS)
    args = ap.parse_args()

    result: dict = {"sf": args.sf_dir, "unit": "sec"}

    if args.cluster_once:
        n_workers, cores = (int(x) for x in args.cluster_once.split("x"))
        tput, wall = _cluster_throughput(args.sf_dir, n_workers, cores, args.factor)
        print(json.dumps({"docs_per_sec": round(tput, 1), "wall": round(wall, 3)}))
        return

    if args.scaling:
        cores_per_worker = max(2, args.cpus // 4)
        tput_n, wall_n = _cluster_level(args.sf_dir, 1, cores_per_worker, args.factor)
        tput_4n, wall_4n = _cluster_level(args.sf_dir, 4, cores_per_worker, args.factor)
        eff = tput_4n / (4 * tput_n)
        result.update(
            {
                # value IS the efficiency (a reader pairing metric
                # with value must not get 4N wall seconds instead);
                # the walls stay available under "queries"
                "metric": "scaling_efficiency",
                "value": round(eff, 3),
                "unit": "ratio",
                "queries": {"flagship@N": round(wall_n, 3), "flagship@4N": round(wall_4n, 3)},
                "executors_n": f"1x{cores_per_worker}",
                "executors_4n": f"4x{cores_per_worker}",
                "docs_per_sec_n": round(tput_n, 1),
                "docs_per_sec_4n": round(tput_4n, 1),
                "scaling_efficiency": round(eff, 3),
            }
        )
        print(json.dumps(result))
        return

    from smartglass_ocr_spark.session import get_spark

    spark = get_spark("bench", cpus=args.cpus, shuffle_partitions=max(2 * args.cpus, 16))
    try:
        timings = run_suite(spark, args.sf_dir)
    finally:
        spark.stop()
    total = round(sum(timings.values()), 3)
    import duckdb

    n_docs = (
        duckdb.sql(
            f"select count(*) from read_parquet('{args.sf_dir}/documents.parquet')"
        ).fetchone()[0]
        * REPLICATE
    )
    result.update(
        {
            "metric": "headline_suite_wall_seconds",
            "value": total,
            "queries": timings,
            "docs_per_sec": round(n_docs / timings["pipeline_extract_full"], 1),
        }
    )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
