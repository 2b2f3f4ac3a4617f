"""Checkpoint/resume semantics (SURVEY.md §5.2 invariant 4:
idempotence of resume)."""

from __future__ import annotations

import pytest

from smartglass_ocr_spark.checkpoint import (
    completed_partitions,
    run_extraction_job,
    with_partition_id,
)
from smartglass_ocr_spark.corpus import docs_to_df, generate_docs


@pytest.fixture()
def paths(tmp_path):
    return {
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
        "metrics": str(tmp_path / "metrics"),
    }


def _collect_output(spark, path):
    rows = spark.read.parquet(path).collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_full_run_then_rerun_is_noop(spark, paths):
    docs = docs_to_df(spark, generate_docs(n_docs=40, seed=1))
    r1 = run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=8
    )
    assert r1["skipped"] == [] and len(r1["processed"]) > 0
    out1 = _collect_output(spark, paths["out"])

    r2 = run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-2", n_partitions=8
    )
    assert r2["processed"] == []
    assert r2["skipped"] == r1["processed"]
    assert _collect_output(spark, paths["out"]) == out1


def test_fused_job_keeps_scan_task_count(spark, paths, tmp_path):
    """The fused job has no shuffle before its doc stage, so that stage
    runs one task per scan split: a many-file input keeps its task
    count instead of being merged into one task per core."""
    sc = spark.sparkContext
    n_files = 3 * sc.defaultParallelism
    src = str(tmp_path / "docs")
    docs_to_df(spark, generate_docs(n_docs=60, seed=5)).repartition(n_files).write.parquet(src)
    # an open cost far above the files' size gives each file its own split
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        docs = spark.read.parquet(src)
        assert docs.rdd.getNumPartitions() == n_files
        sc.setJobGroup("fused-job-tasks", "doc stage task count")
        run_extraction_job(
            spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=8
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.unset("spark.sql.files.openCostInBytes")
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup("fused-job-tasks")
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert n_files in tasks, tasks
    assert len(_collect_output(spark, paths["out"])) == 60


def test_resume_processes_only_incomplete(spark, paths):
    docs_all = generate_docs(n_docs=40, seed=1)
    df_all = docs_to_df(spark, docs_all)

    # simulate a partial failure: first run sees only half the docs
    # (as if the job died mid-way and checkpointed those partitions)
    bucketed = with_partition_id(df_all, 8)
    half = bucketed.filter("partition_id < 4").drop("partition_id")
    run_extraction_job(
        spark, half, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=8
    )
    done_before = completed_partitions(spark, paths["ckpt"])
    assert done_before == {0, 1, 2, 3}

    # resume with the full input: only partitions 4..7 get processed
    r2 = run_extraction_job(
        spark, df_all, paths["out"], paths["ckpt"], paths["metrics"], "run-2", n_partitions=8
    )
    assert set(r2["skipped"]) == {0, 1, 2, 3}
    assert set(r2["processed"]) == {4, 5, 6, 7}

    # final output identical to a clean full run
    out = _collect_output(spark, paths["out"])
    from smartglass_ocr_spark.golden import golden_outputs

    want = {
        g["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["spans"]]
        for g in golden_outputs(docs_all)
    }
    assert out == want


def test_job_leaves_session_overwrite_mode_unchanged(spark, paths, tmp_path):
    """The job replaces only its own output partitions through a
    per-write option: the session's overwrite mode is the same after
    the job, so a later overwrite of a partitioned table in the same
    session (an LSH index rebuilt from fewer vectors) still replaces
    the whole table."""
    import random

    from smartglass_ocr_spark.ops.similarity import write_lsh_index

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    docs = docs_to_df(spark, generate_docs(n_docs=10, seed=3))
    run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=4
    )
    assert spark.conf.get(key) == before

    rng = random.Random(7)

    def vectors(n):
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    index = str(tmp_path / "lsh_idx")
    write_lsh_index(vectors(200), index, bits=4)
    write_lsh_index(vectors(3), index, bits=4)
    assert spark.read.parquet(index).count() == 3


def test_checkpoint_and_metrics_schema(spark, paths):
    docs = docs_to_df(spark, generate_docs(n_docs=10, seed=3))
    run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=4
    )
    ckpt = spark.read.parquet(paths["ckpt"])
    assert set(ckpt.columns) == {
        "run_id", "partition_id", "attempt", "status", "n_docs", "n_spans",
        "started_at", "finished_at", "input_snapshot",
    }
    assert ckpt.filter("status = 'complete'").count() == ckpt.count()
    assert ckpt.agg({"n_docs": "sum"}).first()[0] == 10
    metrics = spark.read.parquet(paths["metrics"])
    assert {
        "run_id", "run_seq", "partition_id", "docs_per_sec", "spans_per_sec",
        "stage", "wall_ms", "n_truncated",
    } == set(metrics.columns)
    assert metrics.filter("docs_per_sec <= 0").count() == 0


def test_metrics_log_tolerates_pre_run_seq_files(spark, paths):
    """A metrics dir with files written before the run_seq column was
    added must still work: the pinned-schema read nulls the missing
    column (folded as seq 0) instead of failing resolution against an
    old parquet footer."""
    from smartglass_ocr_spark.checkpoint import ewma_metrics, run_extraction_job

    legacy_schema = (
        "run_id string, partition_id int, docs_per_sec double, "
        "spans_per_sec double, stage string, wall_ms long"
    )
    legacy = [("run-legacy", p, 100.0 + p, 400.0, "extract", 500) for p in range(4)]
    spark.createDataFrame(legacy, legacy_schema).write.parquet(paths["metrics"])

    docs = docs_to_df(spark, generate_docs(n_docs=10, seed=3))
    res = run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"], "run-1",
        n_partitions=4,
    )
    assert res["n_docs"] == 10 and res["n_spans"] > 0
    got = {r["partition_id"]: r for r in ewma_metrics(spark, paths["metrics"]).collect()}
    # legacy row (seq 0) folds first, new run (seq 1) second
    for p in range(4):
        assert got[p]["n_runs"] == 2


def test_ewma_metrics(spark, paths):
    from smartglass_ocr_spark.checkpoint import ewma_metrics, run_extraction_job
    from smartglass_ocr_spark.corpus import docs_to_df, generate_docs

    docs = docs_to_df(spark, generate_docs(n_docs=30, seed=3))
    out, ckpt, metrics = paths["out"], paths["ckpt"], paths["metrics"]
    # two runs: second resumes (no-op) so metrics has one run; force a
    # second metrics run with a fresh checkpoint dir
    run_extraction_job(spark, docs, out, ckpt, metrics, run_id="r1", n_partitions=4)
    run_extraction_job(spark, docs, out, str(ckpt) + "2", metrics, run_id="r2", n_partitions=4)
    got = {r["partition_id"]: r for r in ewma_metrics(spark, metrics).collect()}
    raw = spark.read.parquet(metrics).collect()
    by_pid = {}
    # the fold order contract is the monotonic run_seq, not run_id
    for r in sorted(raw, key=lambda r: r["run_seq"]):
        by_pid.setdefault(r["partition_id"], []).append(r["docs_per_sec"])
    assert {r["run_seq"] for r in raw} == {1, 2}
    for pid, vals in by_pid.items():
        e = vals[0]
        for v in vals[1:]:
            e = 0.7 * e + 0.3 * v
        assert got[pid]["n_runs"] == len(vals)
        # got is rounded to 3dp (Spark HALF_UP); compare against the
        # unrounded fold with a half-ulp tolerance
        assert abs(got[pid]["ewma_docs_per_sec"] - e) <= 6e-4


def test_truncation_counts_in_metrics(spark, paths):
    """When the mega-doc clamp fires, the metrics log must record per
    partition how many spans it dropped (r3 VERDICT #6) — summing to
    exactly (input spans - capped spans) — and a capless run records
    0, in the same output schema."""
    from pyspark.sql import functions as F

    docs_raw = generate_docs(n_docs=20, seed=13, mega_doc_spans=500)
    docs = docs_to_df(spark, docs_raw)
    cap = 40
    expected = sum(max(0, len(d["spans"]) - cap) for d in docs_raw)
    assert expected > 0

    run_extraction_job(
        spark, docs, paths["out"], paths["ckpt"], paths["metrics"],
        "run-1", n_partitions=8, max_doc_spans=cap,
    )
    m = spark.read.parquet(paths["metrics"])
    assert m.agg(F.sum("n_truncated")).collect()[0][0] == expected
    # per-partition counts match a direct recomputation of the clamp
    out = spark.read.parquet(paths["out"])
    per_part = {
        r["partition_id"]: r["s"]
        for r in out.groupBy("partition_id")
        .agg(F.sum("n_truncated_spans").alias("s"))
        .collect()
    }
    logged = {
        r["partition_id"]: r["n_truncated"]
        for r in m.filter(F.col("stage") == "extract").collect()
    }
    assert logged == per_part

    # capless run: fresh paths, same schema, nothing truncated
    out2, ckpt2, met2 = (p + "_nc" for p in
                         (paths["out"], paths["ckpt"], paths["metrics"]))
    run_extraction_job(spark, docs, out2, ckpt2, met2, "run-1", n_partitions=8)
    assert spark.read.parquet(out2).agg(F.sum("n_truncated_spans")).collect()[0][0] == 0
    m2 = spark.read.parquet(met2)
    assert m2.agg(F.sum("n_truncated")).collect()[0][0] == 0


def test_capped_resume_onto_uncapped_output_logs_truncation(spark, paths):
    """A capped run that resumes onto an output path an uncapped run
    started must log the spans its cap dropped in the partitions it
    wrote, whatever file the output directory lists first."""
    from collections import Counter

    from pyspark.sql import functions as F

    df = docs_to_df(spark, generate_docs(n_docs=40, seed=1, mega_doc_spans=400))
    bucketed = with_partition_id(df, 8)
    run_extraction_job(
        spark, bucketed.filter("partition_id < 4").drop("partition_id"),
        paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=8,
    )
    cap = 5
    r2 = run_extraction_job(
        spark, df, paths["out"], paths["ckpt"], paths["metrics"], "run-2",
        n_partitions=8, max_doc_spans=cap,
    )
    assert set(r2["processed"]) == {4, 5, 6, 7}

    want = Counter()
    for r in bucketed.filter("partition_id >= 4").collect():
        want[r["partition_id"]] += max(0, len(r["spans"]) - cap)
    assert sum(want.values()) > 0
    m = spark.read.parquet(paths["metrics"]).filter(F.col("run_id") == "run-2")
    logged = {r["partition_id"]: r["n_truncated"] for r in m.collect()}
    assert logged == dict(want)


def test_job_omits_docs_without_spans(spark, paths):
    """A doc whose spans are NULL or empty does not fail the job: the
    job writes exactly the other docs, with the rows the span-row
    pipeline gives."""
    from smartglass_ocr_spark.pipeline import explode_spans, run_pipeline_fused

    docs = generate_docs(n_docs=6, seed=5) + [
        {"doc_id": "null-spans", "spans": None},
        {"doc_id": "empty-spans", "spans": []},
    ]
    df = docs_to_df(spark, docs)
    r = run_extraction_job(
        spark, df, paths["out"], paths["ckpt"], paths["metrics"], "run-1", n_partitions=2
    )
    assert r["n_docs"] == 6
    got = {
        row["doc_id"]: row.asDict(recursive=True)
        for row in spark.read.parquet(paths["out"]).drop("n_spans", "partition_id").collect()
    }
    want = {
        row["doc_id"]: row.asDict(recursive=True)
        for row in run_pipeline_fused(explode_spans(df)).collect()
    }
    assert len(want) == 6 and got == want
