"""Streaming surface: incremental extraction parity with batch,
exactly-once file handling across restarts, windowed aggs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartglass_ocr_spark.corpus import SPAN_STRUCT, docs_to_df, generate_docs
from smartglass_ocr_spark.pipeline import explode_spans, run_pipeline_fused
from smartglass_ocr_spark.streaming import (
    session_window_agg,
    stream_documents,
    stream_extract,
    windowed_event_counts,
)


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    """Two parquet 'arrival' files of the seeded corpus."""
    docs = generate_docs(n_docs=50, seed=77, scramble=True)
    d = str(tmp_path / "landing")
    docs_to_df(spark, docs[:30]).write.mode("overwrite").parquet(d)
    docs_to_df(spark, docs[30:]).write.mode("append").parquet(d)
    return d, docs


def test_stream_extract_matches_batch(spark, tmp_path, corpus_dir):
    """Every output column of the streamed doc stage equals the
    span-row pipeline's, and a doc with empty or NULL spans is skipped
    by both."""
    src_dir, _ = corpus_dir
    spark.createDataFrame(
        [("no-spans", []), ("null-spans", None)],
        f"doc_id string, spans array<{SPAN_STRUCT}>",
    ).write.mode("append").parquet(src_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(stream_documents(spark, src_dir), out, ckpt)
    q.awaitTermination(120)

    batch_df = run_pipeline_fused(explode_spans(spark.read.parquet(src_dir)))
    cols = batch_df.columns
    streamed = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    batch = {r["doc_id"]: r.asDict(recursive=True) for r in batch_df.collect()}
    assert "no-spans" not in batch and "null-spans" not in batch
    assert streamed == batch


def test_stream_restart_is_exactly_once(spark, tmp_path, corpus_dir):
    """Restarting with the same checkpoint must not reprocess files;
    new files are picked up incrementally."""
    src_dir, docs = corpus_dir
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_extract(stream_documents(spark, src_dir), out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == len(docs)

    # restart with no new data -> no new rows
    stream_extract(stream_documents(spark, src_dir), out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1

    # a late-arriving file -> only its docs are appended
    late = generate_docs(n_docs=7, seed=101)
    for d in late:
        d["doc_id"] = "late-" + d["doc_id"]
    docs_to_df(spark, late).write.mode("append").parquet(src_dir)
    stream_extract(stream_documents(spark, src_dir), out, ckpt).awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == n1 + 7
    assert final.filter(F.col("doc_id").startswith("late-")).count() == 7


def test_batch_replay_is_idempotent(spark, tmp_path, corpus_dir):
    """foreachBatch re-delivers a failed batch with the same batch_id;
    the sink must end up with exactly one copy (dynamic partition
    overwrite on batch_id), and other batches must stay untouched."""
    from smartglass_ocr_spark.streaming.pipeline import write_batch_idempotent

    src_dir, docs = corpus_dir
    out = str(tmp_path / "replay_out")
    result = run_pipeline_fused(explode_spans(spark.read.parquet(src_dir)))
    write_batch_idempotent(result.limit(10), 0, out)
    write_batch_idempotent(result, 1, out)
    n_before = spark.read.parquet(out).count()
    # replay batch 1 (as after a mid-batch failure): no duplicates,
    # batch 0 untouched
    write_batch_idempotent(result, 1, out)
    df = spark.read.parquet(out)
    assert df.count() == n_before
    assert df.filter(F.col("batch_id") == 0).count() == 10
    assert df.filter(F.col("batch_id") == 1).count() == len(docs)


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev")
    events.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
        ).parquet(src)
    )
    agg = windowed_event_counts(stream.select("event_id", "user_id", "event_type", "ts", "value"))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert streamed == batch


def test_session_window_properties(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sess = session_window_agg(events).collect()
    assert sess
    by_user: dict = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    total = sum(r["n_events"] for r in sess)
    assert total == events.count()
    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_start"])
        for a, b in zip(rows, rows[1:]):
            assert a["session_end"] <= b["session_start"]  # disjoint


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """The same text arriving in a LATER batch must still be dropped
    (cross-batch state store)."""
    from smartglass_ocr_spark.streaming.pipeline import stream_dedup_exact

    src = str(tmp_path / "dd")
    a = [{"doc_id": f"a{i}", "spans": [{"kind": "para", "text": f"text {i % 3}", "media_ref": None, "offset": 0}]} for i in range(6)]
    b = [{"doc_id": f"b{i}", "spans": [{"kind": "para", "text": f"text {i % 5}", "media_ref": None, "offset": 0}]} for i in range(10)]
    docs_to_df(spark, a).write.mode("overwrite").parquet(src)

    stream = stream_documents(spark, src, max_files_per_trigger=1)
    deduped = stream_dedup_exact(stream)
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert first.count() == 3  # texts 0,1,2

    docs_to_df(spark, b).write.mode("append").parquet(src)
    q = (
        stream_dedup_exact(stream_documents(spark, src, max_files_per_trigger=1))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    # batch b adds only texts 3 and 4 (0,1,2 already seen in batch a)
    assert final.count() == 5
    assert final.select("text_md5").distinct().count() == 5


def test_running_user_totals_stateful(spark, tmp_path):
    from smartglass_ocr_spark.streaming.pipeline import running_user_totals

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    src = str(tmp_path / "rt")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
    ).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per user == batch aggregate
    got = {
        r["user_id"]: (r["total"], r["n"])
        for r in spark.table("running_totals").collect()
    }
    expect = {
        r["user_id"]: (round(r["t"], 2), r["n"])
        for r in events.groupBy("user_id")
        .agg(F.sum("value").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_stream_dedup_near_min_shingle(spark, tmp_path):
    """Near-dup suppression: docs sharing the min n-gram shingle drop
    across batches; a genuinely different doc passes. Batch-parity:
    the kept set matches ops.dedup.fingerprint_min_shingle distinct
    fingerprints."""
    from smartglass_ocr_spark.ops.dedup import fingerprint_min_shingle
    from smartglass_ocr_spark.streaming.pipeline import stream_dedup_near

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        {"doc_id": "orig", "spans": [{"kind": "para", "text": base, "media_ref": None, "offset": 0}]},
        # small tail edit: min shingle usually survives -> near-dup
        {"doc_id": "edited", "spans": [{"kind": "para", "text": base + " extra", "media_ref": None, "offset": 0}]},
        {"doc_id": "other", "spans": [{"kind": "para", "text": "completely different words here and everywhere now okay then", "media_ref": None, "offset": 0}]},
    ]
    src = str(tmp_path / "nd")
    docs_to_df(spark, docs).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    q = (
        stream_dedup_near(stream_documents(spark, src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(out)
    flat = spark.createDataFrame(
        [(d["doc_id"], d["spans"][0]["text"]) for d in docs], "doc_id string, text string"
    )
    n_distinct = (
        fingerprint_min_shingle(flat).select("fingerprint").distinct().count()
    )
    assert kept.count() == n_distinct
    assert kept.filter(F.col("doc_id") == "other").count() == 1


def test_stream_dedup_simhash_cross_batch(spark, tmp_path):
    """simhash64-keyed stream dedup across MICRO-BATCHES: a token
    REORDERING of an earlier batch's doc (bag-of-words identical ->
    same simhash, where the min-shingle key would differ) drops in a
    later batch via the checkpointed state store; a genuinely
    different doc passes. maxFilesPerTrigger=1 forces one file per
    micro-batch so the suppression provably crosses batch state."""
    from smartglass_ocr_spark.ops.dedup import simhash64_column
    from smartglass_ocr_spark.streaming.pipeline import stream_dedup_simhash

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    reordered = " ".join(reversed(base.split()))
    assert reordered != base
    src = str(tmp_path / "sh")
    b1 = [{"doc_id": "orig", "spans": [{"kind": "para", "text": base, "media_ref": None, "offset": 0}]}]
    b2 = [
        {"doc_id": "reordered", "spans": [{"kind": "para", "text": reordered, "media_ref": None, "offset": 0}]},
        {"doc_id": "other", "spans": [{"kind": "para", "text": "completely different words here and everywhere now okay then", "media_ref": None, "offset": 0}]},
    ]
    docs_to_df(spark, b1).coalesce(1).write.mode("overwrite").parquet(src)
    docs_to_df(spark, b2).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "sh_out")
    ckpt = str(tmp_path / "sh_ckpt")
    q = (
        stream_dedup_simhash(
            stream_documents(spark, src, max_files_per_trigger=1)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"orig", "other"}
    # the dropped doc really had the surviving doc's fingerprint
    flat = spark.createDataFrame(
        [("orig", base), ("reordered", reordered)], "doc_id string, text string"
    )
    sims = {r["doc_id"]: r["s"] for r in
            flat.select("doc_id", simhash64_column("text").alias("s")).collect()}
    assert sims["orig"] == sims["reordered"]
