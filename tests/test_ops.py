"""Semantics tests for the training-data operators against small
hand-checkable inputs + pure-Python oracles (the DuckDB oracle parity
is covered separately by tools/check_oracles.py).
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (4, "completely different text about spark dataframes and shuffle partitions here"),
        (5, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"),  # case/space dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_clusters(docs):
    from smartglass_ocr_spark.ops.dedup import exact_duplicate_clusters

    out = {r["text_md5"]: r for r in exact_duplicate_clusters(docs).collect()}
    assert len(out) == 1
    (cluster,) = out.values()
    assert cluster["n_docs"] == 2 and cluster["keep_doc_id"] == 1
    # digest definition matches hashlib.md5 (and hence DuckDB md5)
    text = "the quick brown fox jumps over the lazy dog near the river bank today"
    assert hashlib.md5(text.encode()).hexdigest() in out


def test_normalized_dedupe(docs):
    from smartglass_ocr_spark.ops.dedup import normalized_dedupe

    out = {r["doc_id"]: r["n_dupes"] for r in normalized_dedupe(docs).collect()}
    # 1,2,5 collapse (case+space normalization) -> keep doc 1
    assert out[1] == 3
    assert out[3] == 1 and out[4] == 1


def test_jaccard_pairs(docs):
    from smartglass_ocr_spark.ops.dedup import jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_docs=None).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc joins nothing


def test_jaccard_bucket_width_cap(spark):
    """max_bucket_docs drops over-wide shingle buckets from pair
    generation (the r3-ADVICE OOM guard on the bucket-collect shape)
    while leaving each doc's n_shingles denominator intact — with
    unigram shingles, 'x' is shared by all three docs, so cap=2 kills
    every pair and cap=None yields all three at jaccard 1/3."""
    from smartglass_ocr_spark.ops.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "x a"), (2, "x b"), (3, "x c")], "doc_id long, text string"
    )
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(
            docs, n=1, threshold=0.3, max_shingle_docs=None, max_bucket_docs=None
        ).collect()
    }
    assert uncapped == {
        (1, 2): pytest.approx(1 / 3, abs=1e-6),
        (1, 3): pytest.approx(1 / 3, abs=1e-6),
        (2, 3): pytest.approx(1 / 3, abs=1e-6),
    }
    capped = jaccard_pairs(
        docs, n=1, threshold=0.0, max_shingle_docs=None, max_bucket_docs=2
    ).collect()
    assert capped == []


def test_dedup_keep_list_policies(spark):
    """All three keep policies over a hand-built component map:
    component {1,2,3} (labels -> 1), singleton 4 untouched. min_id
    keeps 1; longest keeps 3 (longest text, ties impossible here);
    max_quality keeps 2; ties in the metric break to the smaller id."""
    from smartglass_ocr_spark.ops.dedup import dedup_keep_list

    docs = spark.createDataFrame(
        [
            (1, "aa", 0.5),
            (2, "aaaa", 0.9),
            (3, "aaaaaa", 0.1),
            (4, "zz", 0.2),
        ],
        "doc_id long, text string, q double",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, component_id long"
    )
    def survivors(**kw):
        return sorted(
            r["doc_id"] for r in dedup_keep_list(docs, comps, **kw).collect()
        )

    assert survivors(keep="min_id") == [1, 4]
    assert survivors(keep="longest") == [3, 4]
    assert survivors(keep="max_quality", quality_col="q") == [2, 4]
    # tie in the metric -> smaller doc_id wins
    tied = spark.createDataFrame(
        [(7, "xx", 1.0), (8, "yy", 1.0)], "doc_id long, text string, q double"
    )
    tcomps = spark.createDataFrame([(7, 7), (8, 7)], "doc_id long, component_id long")
    assert sorted(
        r["doc_id"] for r in dedup_keep_list(tied, tcomps, keep="longest").collect()
    ) == [7]
    with pytest.raises(ValueError):
        dedup_keep_list(docs, comps, keep="max_quality")
    with pytest.raises(ValueError):
        dedup_keep_list(docs, comps, keep="bogus")


def test_minhash_candidates_superset_of_true_dups(docs):
    from smartglass_ocr_spark.ops.dedup import minhash_lsh_candidates

    cands = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs, bands=8, n=3).collect()
    }
    assert (1, 2) in cands  # identical docs always share every band


def test_simhash_properties(docs):
    from smartglass_ocr_spark.ops.dedup import simhash32

    out = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    assert out[1] == out[2]  # identical text -> identical fingerprint
    # near-dup -> small hamming distance; unrelated -> larger
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[1], out[3]) < ham(out[1], out[4])
    assert all(0 <= v < 2**32 for v in out.values())


def test_fingerprint_deterministic(docs):
    from smartglass_ocr_spark.ops.dedup import fingerprint_min_shingle

    a = {r["doc_id"]: r["fingerprint"] for r in fingerprint_min_shingle(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in fingerprint_min_shingle(docs).collect()}
    assert a == b
    assert a[1] == a[2]


@pytest.fixture(scope="module")
def embeddings(spark):
    import random

    rng = random.Random(42)
    rows = []
    for i in range(200):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # plant a near-duplicate of vector 0
    v0 = rows[0][1]
    rows.append((200, [x + 0.01 for x in v0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(embeddings):
    from smartglass_ocr_spark.ops.similarity import cosine_topk

    q = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    out = cosine_topk(embeddings, [float(x) for x in q], k=3).collect()
    assert [r["vec_id"] for r in out][:2] == [0, 200]  # self, then planted near-dup
    assert out[0]["cos"] == pytest.approx(1.0)
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_lsh_topk_recall(embeddings):
    """LSH probe must find the planted near-dup (same bucket as the
    query by construction at small angle) and overlap the exact top-k."""
    from smartglass_ocr_spark.ops.similarity import cosine_topk, lsh_bucketed_topk

    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_bucketed_topk(embeddings, q, k=10, bits=4).collect()]
    assert 0 in approx and 200 in approx
    # recall@10 of a 4-bit single probe on 200 gaussian vectors: expect
    # a loose but nonzero overlap
    single = len(set(exact) & set(approx))
    assert single >= 2

    # multi-probe: widening to the 4 lowest-margin flipped buckets
    # must be a superset search — recall monotonically non-decreasing,
    # and at nprobe=2^bits (all buckets) it equals brute force
    from smartglass_ocr_spark.ops.similarity import probe_buckets

    assert probe_buckets(q, 4, 1) == probe_buckets(q, 4, 5)[:1]
    multi = [
        r["vec_id"]
        for r in lsh_bucketed_topk(embeddings, q, k=10, bits=4, nprobe=4).collect()
    ]
    assert len(set(exact) & set(multi)) >= single
    full = [
        r["vec_id"]
        for r in lsh_bucketed_topk(embeddings, q, k=10, bits=4, nprobe=16).collect()
    ]
    assert full == exact


def test_embedding_near_dup_pairs(embeddings):
    from smartglass_ocr_spark.ops.similarity import cosine_self_near_dup

    pairs = cosine_self_near_dup(embeddings, threshold=0.99, bits=4).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(0, 200)}


def test_quality_and_tokens(spark):
    from smartglass_ocr_spark.ops.textstats import quality_scores, token_counts

    df = spark.createDataFrame(
        [(1, "the cat and the dog sat in a field of green grass today"), (2, "x")],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert q[1]["quality_bucket"] == "keep"
    assert q[2]["quality_bucket"] == "drop"
    t = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert t[1]["n_tokens"] == 13
    assert t[2]["n_tokens"] == 1


def test_ivf_topk_recall(embeddings):
    from smartglass_ocr_spark.ops.similarity import (
        cosine_topk, ivf_assign, ivf_build_centroids, ivf_topk,
    )

    query = [float(x) for x in embeddings.filter("vec_id = 3").first()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, query, k=10).collect()]

    cents = ivf_build_centroids(embeddings, k=8, iters=2)
    assert len(cents) == 8
    assigned = ivf_assign(embeddings, cents).cache()
    # every vector lands in exactly one bucket
    assert assigned.count() == embeddings.count()
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            embeddings, query, k=10, nprobe=4, centroids=cents, assigned=assigned
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # the query's own vector is always found (its bucket is probed first)
    assert 3 in approx and approx[0] == 3
    # determinism: same build twice -> same centroids
    assert cents == ivf_build_centroids(embeddings, k=8, iters=2)


def test_materialized_indexes_prune_partitions(embeddings, tmp_path):
    """write_lsh_index / write_ivf_index + their probe readers: same
    results as the in-query operators, and the probe plan carries the
    bucket/cid predicate as a PartitionFilter (directory pruning —
    the 10^12-row scale path, not scan-and-filter)."""
    from smartglass_ocr_spark.ops.similarity import (
        ivf_build_centroids,
        ivf_index_topk,
        ivf_topk,
        lsh_bucketed_topk,
        lsh_index_topk,
        write_ivf_index,
        write_lsh_index,
    )

    spark = embeddings.sparkSession
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]

    lsh_path = str(tmp_path / "lsh_idx")
    write_lsh_index(embeddings, lsh_path, bits=4)
    got = lsh_index_topk(spark, lsh_path, q, k=10, bits=4, nprobe=2)
    want = lsh_bucketed_topk(embeddings, q, k=10, bits=4, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan, plan

    ivf_path = str(tmp_path / "ivf_idx")
    write_ivf_index(embeddings, ivf_path, n_centroids=8)
    got = ivf_index_topk(spark, ivf_path, q, k=10, nprobe=4)
    cents = ivf_build_centroids(embeddings, k=8)
    want = ivf_topk(embeddings, q, k=10, nprobe=4, centroids=cents)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan, plan


def test_asof_join_semantics(spark):
    from smartglass_ocr_spark.ops.windows import asof_join

    rows = [
        # user 1: clicks at t=10, t=20 (two at 20 -> max event_id wins),
        # purchases at t=5 (no prior click), t=20 (ties included), t=30
        (1, 1, "click", "2020-01-01 00:00:10", 0.0),
        (2, 1, "click", "2020-01-01 00:00:20", 0.0),
        (3, 1, "click", "2020-01-01 00:00:20", 0.0),
        (10, 1, "purchase", "2020-01-01 00:00:05", 1.0),
        (11, 1, "purchase", "2020-01-01 00:00:20", 1.0),
        (12, 1, "purchase", "2020-01-01 00:00:30", 1.0),
        # user 2: purchase with no clicks at all
        (20, 2, "purchase", "2020-01-01 00:01:00", 1.0),
    ]
    events = spark.createDataFrame(
        [(e, u, t, ts, v) for e, u, t, ts, v in rows],
        "event_id long, user_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["left_event_id"]: r for r in asof_join(events).collect()}
    assert out[10]["right_event_id"] == -1          # before any click
    assert out[11]["right_event_id"] == 3           # equal ts: max id
    assert out[11]["gap_us"] == 0
    assert out[12]["right_event_id"] == 3           # latest prior
    assert out[20]["right_event_id"] == -1          # user without clicks
    # single hash exchange (union + window share the user_id shuffle)
    plan = asof_join(events)._jdf.queryExecution().executedPlan().toString()
    import re as _re
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_range_join_no_nested_loop(spark):
    """The bucketed range join must plan as an EQUI join on the bucket
    (hash/broadcast) with the interval check as a post-filter — never
    a nested-loop/cartesian over the pure inequality."""
    from smartglass_ocr_spark.ops.windows import campaign_windows, range_join_buckets

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    df = range_join_buckets(events)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan and "bucket" in plan
    # containment semantics: count equals the naive inequality join
    from smartglass_ocr_spark.ops.windows import _micros

    camp = campaign_windows(spark)
    naive = (
        events.select("event_id", _micros("ts").alias("u"))
        .crossJoin(camp)
        .filter((F.col("u") >= F.col("start_us")) & (F.col("u") < F.col("end_us")))
        .count()
    )
    assert df.count() == naive


def test_materialized_rollup_builds_from_finer_grain(spark, tmp_path):
    """The hypertable scale property: the materialized form scans the
    raw table exactly once — the hour job's plan reads the minute
    FILES, the day job's the hour files — and the unioned view equals
    the in-query (oracle-checked) operator."""
    from smartglass_ocr_spark.ops.windows import (
        _rollup_lift,
        hierarchical_rollup,
        read_hierarchical_rollup,
        write_hierarchical_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    path = str(tmp_path / "rollup")
    write_hierarchical_rollup(events, path)

    # the lifted plan scans the finer rollup, never the raw table
    hour_plan = (
        _rollup_lift(spark.read.parquet(f"{path}/minute"), 3600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # (paths are truncated in plan strings — the scan's ReadSchema is
    # the discriminator: rollup columns, not the raw events schema)
    assert "ReadSchema: struct<bucket_start_s:bigint" in hour_plan
    assert "event_id" not in hour_plan and "events.parquet" not in hour_plan

    key = ("grain", "bucket_start_s", "event_type")
    got = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
           for r in read_hierarchical_rollup(spark, path).collect()}
    want = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
            for r in hierarchical_rollup(events).collect()}
    assert got == want


def test_value_percentiles_approx_within_rank_tolerance(spark):
    """The sketch twin must agree with the exact operator within the
    documented rank bound: with accuracy=10000 over ~10^4 rows/group
    the permitted rank slip is a handful of rows, so each approx
    quantile must land between the exact values at rank +-0.5% around
    the target (generous 5x the guarantee, absorbs interpolation)."""
    from smartglass_ocr_spark.ops.windows import (
        value_percentiles, value_percentiles_approx,
    )

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = {r["event_type"]: r for r in value_percentiles(events).collect()}
    approx = {r["event_type"]: r for r in value_percentiles_approx(events).collect()}
    assert exact.keys() == approx.keys()
    per_type = {
        r["event_type"]: sorted(v["value"] for v in rows)
        for r in exact.values()
        for rows in [events.filter(F.col("event_type") == r["event_type"]).select("value").collect()]
    }
    for et, ex in exact.items():
        vals = per_type[et]
        n = len(vals)
        assert approx[et]["n"] == ex["n"] == n
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            lo = vals[max(0, int((q - 0.005) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.005) * n) + 1)]
            assert lo <= approx[et][col] <= hi, (et, col, approx[et][col], lo, hi)


def test_corpus_cardinality_sketch_vs_exact(spark):
    """HLL++ cardinalities within 3*rsd of the exact twin; occurrence
    count exact in both; one-scan shape (no join in the plan)."""
    from smartglass_ocr_spark.ops.textstats import corpus_cardinality

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ex = corpus_cardinality(docs, exact=True).collect()[0]
    ap = corpus_cardinality(docs, rsd=0.05).collect()[0]
    assert ap["n_token_occurrences"] == ex["n_token_occurrences"]
    for c in ("n_distinct_texts", "n_distinct_tokens"):
        assert abs(ap[c] - ex[c]) <= 0.15 * ex[c], (c, ap[c], ex[c])
    plan = (
        corpus_cardinality(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_incremental_rollup_refresh(spark, tmp_path):
    """refresh_hierarchical_rollup with a one-day increment must (a)
    produce exactly the full-rebuild store at every grain, (b) report
    only that day as touched, and (c) read the existing minute grain
    with a part_day partition filter — the 100-TB property: the
    refresh scan is the increment plus the touched days' rollup files,
    never the whole store."""
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.windows import (
        _micros,
        read_hierarchical_rollup,
        refresh_hierarchical_rollup,
        write_hierarchical_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    day_s = (F.floor(_micros("ts") / 86_400_000_000) * 86400).cast("long")
    some_day = events.select(day_s.alias("d")).distinct().orderBy("d").collect()[1]["d"]
    base = events.filter(day_s != some_day)
    inc = events.filter(day_s == some_day)
    assert inc.count() > 0 and base.count() > 0

    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    write_hierarchical_rollup(base, p_inc)
    touched = refresh_hierarchical_rollup(inc, p_inc)
    assert touched == [some_day]
    write_hierarchical_rollup(events, p_full)

    key = ("grain", "bucket_start_s", "event_type")
    got = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
           for r in read_hierarchical_rollup(spark, p_inc).collect()}
    want = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
            for r in read_hierarchical_rollup(spark, p_full).collect()}
    assert got == want

    # partition-pruning pin: the refresh's store read is the touched
    # days only — the scan plan carries a part_day PartitionFilter
    pruned = spark.read.parquet(f"{p_inc}/minute").filter(
        F.col("part_day").isin(touched)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part_day" in plan

    # empty increment is a no-op
    assert refresh_hierarchical_rollup(inc.limit(0), p_inc) == []


def test_probe_buckets_double_flips_by_combined_margin():
    """Double-flip probes must come out in true combined-margin order
    (|dot_i| + |dot_j| ascending), not (i, j) index order over the
    margin-sorted lanes (r2 ADVICE)."""
    import numpy as np

    from smartglass_ocr_spark.ops.similarity import plane_matrix, probe_buckets

    q = [0.3, -1.2, 0.7, 0.05, -0.4, 0.9, -0.1, 0.2]
    bits = 4
    dots = plane_matrix(bits, len(q)) @ np.asarray(q)
    base = int(np.sum((dots > 0) * (1 << np.arange(bits))))
    probes = probe_buckets(q, bits, 1 + bits + (bits * (bits - 1)) // 2)
    doubles = probes[1 + bits:]
    margins = []
    for b in doubles:
        flipped = [i for i in range(bits) if (b ^ base) & (1 << i)]
        assert len(flipped) == 2
        margins.append(abs(dots[flipped[0]]) + abs(dots[flipped[1]]))
    assert margins == sorted(margins)


def test_range_join_degenerate_interval_bucket_clamp(spark):
    """An inverted interval (end_us <= start_us) must explode to ONE
    candidate bucket, not a descending bucket sequence (r2 ADVICE:
    results stayed correct but candidate volume silently inflated)."""
    from smartglass_ocr_spark.ops.windows import range_join_buckets

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00")], "event_id int, ts string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"))
    base = 1704067200000000
    intervals = spark.createDataFrame(
        [(0, base + 3600_000_000 * 200, base)], "campaign_id int, start_us long, end_us long"
    )
    # empty result (containment can't hold) AND exactly one candidate row
    assert range_join_buckets(events, intervals=intervals).count() == 0
    width = 12 * 3600_000_000
    cand = (
        intervals.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("start_us") / width),
                    F.greatest(
                        F.floor(F.col("start_us") / width),
                        F.floor((F.col("end_us") - 1) / width),
                    ),
                )
            ),
        ).count()
    )
    assert cand == 1


def test_signage_classify_classes_and_descriptions(spark):
    """F15: every ladder class maps to the reference's verbatim canned
    description (ref app/core/ocr_processor.py:273-343); empty text is
    'unknown'; 'general' embeds the first line for multi-line signs."""
    from smartglass_ocr_spark.ops.textstats import (
        _SIGNAGE_DESCRIPTIONS, signage_classify,
    )

    cases = [
        ("d0", "Lunch menu today", "restaurant_promotion"),
        ("d1", "Big sale this week", "retail_promotion"),
        ("d2", "Limited offer now", "promotion"),
        ("d3", "Rumah dijual murah", "property"),
        ("d4", "Kantor pelayanan", "government"),
        ("d5", "Masjid Al-Falah", "religious"),
        ("d6", "Selamat datang semua", "celebration"),
        ("d7", "Exit to the left", "directional"),
        ("d8", "Danger high voltage", "warning"),
        ("d9", "", "unknown"),
        ("d10", "Just words here", "general"),
        ("d11", "Main Title\nmore detail below", "general"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id string, text string"
    )
    out = {r["doc_id"]: r for r in signage_classify(df).collect()}
    for doc_id, text, expected in cases:
        assert out[doc_id]["signage_class"] == expected, doc_id
    for doc_id, _, cls in cases[:10]:
        assert out[doc_id]["description"] == _SIGNAGE_DESCRIPTIONS[cls], doc_id
    assert out["d10"]["description"] == (
        "This appears to be a general informational sign or banner."
    )
    assert out["d11"]["description"] == (
        'This sign contains the main text "Main Title" followed by additional information.'
    )


def test_duplicate_components_chain_and_clique(spark):
    """Min-label propagation must reach the fixpoint across multi-hop
    chains (A-B, B-C, C-D => one component labeled by the min), keep
    disjoint cliques separate, be invariant to pair orientation, and
    label a node seen only in a self-pair with itself."""
    from smartglass_ocr_spark.ops.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(4, 3), (2, 3), (1, 2),          # chain 1-2-3-4 (mixed orientation)
         (10, 11), (11, 12), (10, 12),    # clique {10,11,12}
         (20, 21),                        # pair {20,21}
         (777, 777)],                     # self-pair only
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component_id"] for r in duplicate_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
                   777: 777}

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(
            spark.createDataFrame([(i, i + 1) for i in range(6)], "doc_a long, doc_b long"),
            max_iters=2,
        )


def test_components_durable_checkpoint_restart(spark, tmp_path):
    """checkpoint_dir swaps localCheckpoint for parquet-per-round
    state (r3 VERDICT #2: executor-local blocks kill a multi-round
    job on executor loss at 100 TB). A restart from an EARLIER
    completed round — simulated crash: later rounds' state deleted,
    rounds log truncated — must converge to the identical labeling.
    Also covers resume-with-no-state (fresh start)."""
    import shutil

    from smartglass_ocr_spark.ops.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(50, 51), (51, 52)],
        "doc_a long, doc_b long",
    )
    want = {
        r["doc_id"]: r["component_id"] for r in duplicate_components(pairs).collect()
    }
    assert want[12] == 0 and want[52] == 50

    def crash_after_round_zero(root, prefix):
        rounds = sorted(
            p.name for p in root.iterdir() if p.name.startswith(prefix)
        )
        assert len(rounds) >= 3, rounds  # multi-round state actually written
        for name in rounds[1:]:
            shutil.rmtree(root / name)
        shutil.rmtree(root / "rounds")
        spark.createDataFrame([(0,)], "round int").write.mode("overwrite").parquet(
            str(root / "rounds")
        )

    ckpt = tmp_path / "hopckpt"
    full = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(pairs, checkpoint_dir=str(ckpt)).collect()
    }
    assert full == want
    crash_after_round_zero(ckpt, "labels_r")
    resumed = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(
            pairs, checkpoint_dir=str(ckpt), resume=True
        ).collect()
    }
    assert resumed == want

    fresh = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(
            pairs, checkpoint_dir=str(tmp_path / "fresh"), resume=True
        ).collect()
    }
    assert fresh == want


def test_near_dup_accepts_materialized_index(spark, tmp_path):
    """cosine_self_near_dup over a written LSH index must equal the
    ad-hoc path (and skips the per-branch bucket UDF re-evaluation)."""
    from smartglass_ocr_spark.ops.similarity import (
        cosine_self_near_dup, write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "lshidx")
    write_lsh_index(emb, path, bits=4)
    idx = spark.read.parquet(path)
    adhoc = set(map(tuple, cosine_self_near_dup(emb, threshold=0.3, bits=4).collect()))
    via_idx = set(map(tuple, cosine_self_near_dup(
        emb, threshold=0.3, bits=4, bucketed=idx).collect()))
    assert adhoc == via_idx and adhoc


def test_simhash_near_pairs_pigeonhole_exact(spark):
    """Banded candidates must find EVERY pair within max_hamming
    (pigeonhole: <= bands-1 differing bits leave one band intact) —
    verified against the brute-force all-pairs set on a small corpus;
    parameter guards raise."""
    import itertools

    import pytest as _pytest

    from smartglass_ocr_spark.ops.dedup import (
        simhash32, simhash64, simhash_near_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    # java longs are signed: normalize to the 64-bit pattern for ^
    sims = {
        r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
        for r in simhash64(docs).collect()
    }
    brute = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a, b in itertools.combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {tuple(r) for r in simhash_near_pairs(docs, max_hamming=3, bands=4).collect()}
    assert got == brute
    # the 32-bit variant must stay exact too (band keys are just
    # noisier — more candidates, identical surviving pair set rule)
    sims32 = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    brute32 = {
        (a, b, bin(sims32[a] ^ sims32[b]).count("1"))
        for a, b in itertools.combinations(sorted(sims32), 2)
        if bin(sims32[a] ^ sims32[b]).count("1") <= 3
    }
    got32 = {
        tuple(r)
        for r in simhash_near_pairs(docs, max_hamming=3, bands=4, bits=32).collect()
    }
    assert got32 == brute32
    with _pytest.raises(ValueError, match="must exceed"):
        simhash_near_pairs(docs, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divide 64"):
        simhash_near_pairs(docs, max_hamming=2, bands=5)


def test_cosine_topk_string_ids_rank_contiguously(spark):
    """The rank window's constant partition key must be 0 for EVERY
    row: with non-numeric string ids a bare id*0 key is NULL (ANSI
    cast even throws), splitting the window and duplicating ranks."""
    from smartglass_ocr_spark.ops.similarity import cosine_topk

    emb = spark.createDataFrame(
        [("doc-1", [1.0, 0.0]), ("doc-2", [0.9, 0.1]),
         ("x3", [0.5, 0.5]), ("4", [0.1, 0.9])],
        "vec_id string, embedding array<float>",
    )
    rows = cosine_topk(emb, [1.0, 0.0], k=4).collect()
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4]
    assert rows[0]["vec_id"] == "doc-1"


def test_simhash64_column_matches_batch_operator(spark):
    """The stream-legal in-row fold must emit bit-identical
    fingerprints to the batch explode+codegen-agg operator, including
    the sign-bit lane and empty/whitespace-edge docs."""
    from smartglass_ocr_spark.ops.dedup import simhash64, simhash64_column

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    extra = spark.createDataFrame(
        [(10_000_001, ""), (10_000_002, "  one  "), (10_000_003, "x")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    batch = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    fold = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash64_column("text").alias("s")).collect()
    }
    assert fold == batch


def test_index_append_equals_rebuild(spark, tmp_path):
    """Incremental index maintenance: appending an increment into a
    materialized LSH/IVF index must answer every probe exactly like an
    index rebuilt from the full corpus — the quantizers are frozen
    (md5 planes / stored centroids), so placement is rebuild-identical
    while the refresh cost is O(increment)."""
    from smartglass_ocr_spark.ops.similarity import (
        append_ivf_index, append_lsh_index, ivf_index_topk,
        lsh_index_topk, write_ivf_index, write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    inc = emb.filter(F.col("vec_id") % 4 == 0)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]

    lsh_a, lsh_b = str(tmp_path / "lsh_app"), str(tmp_path / "lsh_full")
    write_lsh_index(base, lsh_a, bits=4)
    append_lsh_index(inc, lsh_a, bits=4)
    write_lsh_index(emb, lsh_b, bits=4)
    for nprobe in (1, 3):
        got = [tuple(r) for r in lsh_index_topk(spark, lsh_a, q, k=10, bits=4, nprobe=nprobe).collect()]
        want = [tuple(r) for r in lsh_index_topk(spark, lsh_b, q, k=10, bits=4, nprobe=nprobe).collect()]
        assert got == want and got

    ivf_a, ivf_b = str(tmp_path / "ivf_app"), str(tmp_path / "ivf_full")
    write_ivf_index(base, ivf_a, n_centroids=8)
    append_ivf_index(inc, ivf_a)
    # rebuild control uses the APPENDED index's centroids (quantizer
    # frozen at base-build time) so placement is comparable
    import shutil
    write_ivf_index(emb, ivf_b, n_centroids=8)
    shutil.rmtree(ivf_b + "/centroids")
    shutil.copytree(ivf_a + "/centroids", ivf_b + "/centroids")
    from smartglass_ocr_spark.ops.similarity import ivf_assign
    cent = [list(r["c"]) for r in spark.read.parquet(f"{ivf_a}/centroids").orderBy("cid").collect()]
    ivf_assign(emb, cent).repartition("cid").write.mode("overwrite").partitionBy("cid").parquet(ivf_b + "/vectors")
    got = [tuple(r) for r in ivf_index_topk(spark, ivf_a, q, k=10, nprobe=4).collect()]
    want = [tuple(r) for r in ivf_index_topk(spark, ivf_b, q, k=10, nprobe=4).collect()]
    assert got == want and got


def test_decontaminate_flags_overlap(spark):
    """A corpus doc sharing an n-gram with the benchmark is flagged
    with the right overlap count; a clean doc is not; a doc shorter
    than n tokens is its own single gram (the greatest(1, ...) edge)
    and matches only a benchmark doc with the identical short text."""
    from smartglass_ocr_spark.ops.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"), (101, "zeta eta")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro alpha beta gamma delta closing words here"),
            (2, "nothing shared with the benchmark at all"),
            (3, "zeta eta"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, n=4).collect()
    }
    # doc 1: 5 distinct 4-grams, exactly one ("alpha beta gamma
    # delta") appears in the benchmark
    assert rows[1]["n_grams"] == 5
    assert rows[1]["n_contaminated"] == 1 and rows[1]["contaminated"] == 1
    assert rows[2]["n_contaminated"] == 0 and rows[2]["contaminated"] == 0
    # doc 3: 2 tokens < n → one whole-text gram, equal to bench 101's
    assert rows[3]["n_grams"] == 1 and rows[3]["contaminated"] == 1


def test_repetition_signals_values(spark):
    """Hand-computed Gopher repetition fractions: a looping doc is
    flagged at the default thresholds, clean prose is not, and a
    2-token doc keeps the whole-text-gram edge for both widths."""
    from smartglass_ocr_spark.ops.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            # "spam spam" x: bigrams = [spam spam]*4 -> top frac 1.0;
            # trigrams = [spam spam spam]*3 all dup -> frac 1.0
            (1, "spam spam spam spam spam"),
            # all 6 bigrams distinct -> 1/6; all 5 trigrams distinct -> 0.0
            (2, "one two three four five six seven"),
            # 2 tokens: bigram = whole text (1) -> frac 1.0; trigram
            # index range greatest(1, -1+1)=1 -> whole text, count 1 -> 0.0
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert rows[1]["top_bigram_frac"] == 1.0
    assert rows[1]["dup_trigram_frac"] == 1.0
    assert rows[1]["repetitive"] == 1
    assert rows[2]["top_bigram_frac"] == 1 / 6
    assert rows[2]["dup_trigram_frac"] == 0.0
    assert rows[2]["repetitive"] == 0
    assert rows[3]["top_bigram_frac"] == 1.0
    assert rows[3]["dup_trigram_frac"] == 0.0


def test_pii_scrub_hand_examples(spark):
    """Placeholder substitution, per-category counts, scrub ORDER
    (emails before IPs before phones — a phone pattern must never
    nibble an already-typed span), and zero-shuffle plan."""
    from smartglass_ocr_spark.ops.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex.co and bob@mail.example.com twice"),
            (2, "server 192.168.1.254 then call +1 555-0123 99 ok"),
            (3, "id 10.0.0.1 and 8.8.8.8 plain words"),
            (4, "no pii here at all"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> twice"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (2, 0, 0)
    # greedy separator class: the run extends through ' 99'
    assert out[2]["clean_text"] == "server <IP> then call <PHONE> ok"
    assert out[2]["n_ip"] == 1 and out[2]["n_phone"] == 1
    assert out[3]["clean_text"] == "id <IP> and <IP> plain words"
    assert out[4]["clean_text"] == "no pii here at all"
    assert (out[4]["n_email"], out[4]["n_ip"], out[4]["n_phone"]) == (0, 0, 0)
    assert out[5]["clean_text"] == ""
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_vocab_topk_counts_and_plan(spark):
    from smartglass_ocr_spark.ops.textstats import vocab_topk

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a"), (3, "c")],
        "doc_id long, text string",
    )
    rows = [(r["token"], r["n_occ"], r["n_docs"]) for r in
            vocab_topk(docs, k=2).collect()]
    assert rows == [("a", 3, 2), ("b", 2, 2)]
    # global top-k must plan as per-partition heaps, not a full sort
    plan = (
        vocab_topk(docs, k=2)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_collocations_sentinel_math(spark):
    """The pairs-frame derivation (unigram counts = left-position
    sums over sentinel-padded pairs) must equal the direct counts."""
    from collections import Counter
    from smartglass_ocr_spark.ops.textstats import collocations

    texts = ["x y x y z", "x y q", "z x y"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    uni = Counter(w for t in texts for w in t.split())
    big = Counter(
        (a, b)
        for t in texts
        for a, b in zip(t.split(), t.split()[1:])
    )
    n_tok = sum(uni.values())
    want = sorted(
        (
            (a, b, c, round(float(c) * n_tok * 1_000_000 / (uni[a] * uni[b])))
            for (a, b), c in big.items()
            if c >= 2
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )
    out = collocations(docs, min_count=2, k=10)
    got = [
        (r["tok_a"], r["tok_b"], r["c_ab"], r["lift_e6"])
        for r in out.collect()
    ]
    assert got == want
    # the diamond intermediate is cached: consumers read the
    # InMemoryRelation, the corpus is scanned once
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan


def test_passage_dedup_hand_example(spark):
    """Hand corpus: an 8-gram shared by 3 docs (> max_df=2) is
    stripped from every occurrence including mid-doc, a unique doc is
    untouched, a doc shorter than n never participates, and a fully-
    boilerplate doc collapses to '' (not NULL)."""
    from smartglass_ocr_spark.ops.dedup import passage_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x a b c d e f g h y"),
            (3, "a b c d e f g h"),
            (4, "q w e r t y u i o p"),
            (5, "short doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in passage_dedup(docs, n=8, max_df=2).collect()
    }
    assert rows[1]["clean_text"] == "i j" and rows[1]["n_removed"] == 8
    assert rows[2]["clean_text"] == "x y" and rows[2]["n_removed"] == 8
    assert rows[3]["clean_text"] == "" and rows[3]["n_removed"] == 8
    assert rows[4]["clean_text"] == "q w e r t y u i o p"
    assert rows[4]["n_removed"] == 0
    assert rows[5]["clean_text"] == "short doc" and rows[5]["n_removed"] == 0
    assert [rows[i]["n_tokens"] for i in (1, 2, 3, 4, 5)] == [10, 10, 8, 10, 2]


def test_passage_dedup_overlapping_covers_once(spark):
    """Overlapping hot-gram occurrences cover a position once: with
    n=2, 'a a a' in 3 docs makes 'a a' hot; every position of every
    occurrence is covered exactly once in the removal count (no
    double-count from the two overlapping starts)."""
    from smartglass_ocr_spark.ops.dedup import passage_dedup

    docs = spark.createDataFrame(
        [(1, "z a a a z"), (2, "a a"), (3, "p a a q"), (4, "a a r")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in passage_dedup(docs, n=2, max_df=2).collect()
    }
    assert rows[1]["clean_text"] == "z z" and rows[1]["n_removed"] == 3
    assert rows[2]["clean_text"] == "" and rows[2]["n_removed"] == 2
    assert rows[3]["clean_text"] == "p q" and rows[3]["n_removed"] == 2
    assert rows[4]["clean_text"] == "r" and rows[4]["n_removed"] == 2


def test_lm_score_hand_values(spark):
    """Stupid-backoff hand model: train 'the cat sat'/'the cat ran'.
    Seen bigrams score c(ab)/c(a) (doc 1: (1000000+500000)/2); unseen
    ones back off to 0.4*c(b)/T on the floored ppm grid (doc 2:
    (0 + 66666)/2 — c(dog)=0 and c(sat)=1, T=6); a fully-OOV doc
    scores 0 with oov_rate 1.0."""
    from smartglass_ocr_spark.ops.textstats import lm_score

    train = spark.createDataFrame(
        [(100, "the cat sat"), (101, "the cat ran")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat"), (3, "zz qq")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in lm_score(docs, train=train).collect()}
    assert rows[1]["avg_score_ppm"] == 750000.0
    assert rows[1]["oov_rate"] == 0.0
    assert rows[2]["avg_score_ppm"] == 33333.0
    assert rows[2]["n_oov"] == 1 and rows[2]["oov_rate"] == 1 / 3
    assert rows[3]["avg_score_ppm"] == 0.0 and rows[3]["oov_rate"] == 1.0


def test_lm_score_self_train_default(spark):
    """train=None scores against the corpus itself: every bigram is
    then seen by construction, so no doc backs off and no token is
    OOV."""
    from smartglass_ocr_spark.ops.textstats import lm_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in lm_score(docs).collect()}
    # c(a b)=2/c(a)=2 -> 1.0; c(b c)=1/c(b)=2 -> 0.5
    assert rows[1]["avg_score_ppm"] == 750000.0
    assert rows[2]["avg_score_ppm"] == 750000.0
    assert all(r["n_oov"] == 0 for r in rows.values())


def _ref_bpe(texts, n_merges, min_pair_count=2):
    """Pure-Python reference BPE (Sennrich et al. 2016) on word
    frequencies — the gold the distributed trainer must match."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in vocab.items():
            c = words[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # count desc, then lexicographic — the trainer's tie-break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((rank, a, b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    """Distributed BPE == pure-Python reference, merge for merge
    (incl. counts and tie-breaks), on the classic corpus and on a
    real sf0.01 slice; a 1-letter-word corpus trains zero merges
    without erroring (the descending-sequence ANSI edge)."""
    from smartglass_ocr_spark.ops.bpe import bpe_train

    texts = [
        "low low low low low lower lower newest newest newest "
        "newest newest newest widest widest widest"
    ]
    docs = spark.createDataFrame([(1, texts[0])], ["doc_id", "text"])
    want = _ref_bpe(texts, 6)
    # driver path (vocab fits) and distributed path (threshold forced
    # to 0) are bit-identical to the reference and to each other
    assert bpe_train(docs, n_merges=6) == want
    assert bpe_train(docs, n_merges=6, driver_vocab_threshold=0) == want

    real = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).limit(50)
    real_texts = [r["text"] for r in real.select("text").collect()]
    want_real = _ref_bpe(real_texts, 10)
    assert bpe_train(real, n_merges=10) == want_real
    assert (
        bpe_train(real, n_merges=10, driver_vocab_threshold=0) == want_real
    )

    tiny = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    assert bpe_train(tiny, n_merges=5) == []
    assert bpe_train(tiny, n_merges=5, driver_vocab_threshold=0) == []


def _ref_token_count(text, merges):
    """Reference BPE segmentation, written out: a text's token count
    after replaying ``merges`` greedily, left to right, on each word
    (words split on Java's ASCII whitespace)."""

    def seg_len(w):
        syms = list(w)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    return sum(seg_len(w) for w in re.findall(r"[^ \t\n\x0b\f\r]+", text or ""))


def test_bpe_encode_length_matches_reference_segmentation(spark):
    """bpe_encode applies the learned merges exactly as the reference
    segmenter does: each doc's id count equals the reference token
    count."""
    from smartglass_ocr_spark.ops.bpe import bpe_encode, bpe_train

    rows = [
        (1, "low lower lowest low"),
        (2, "newest widest low"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_train(docs, n_merges=4)
    got = {r["doc_id"]: len(r["ids"]) for r in bpe_encode(docs, merges).collect()}
    assert got == {doc_id: _ref_token_count(text, merges) for doc_id, text in rows}


def test_incremental_minhash_composes_with_batch(spark):
    """The continuous-ingestion invariant: batch(old ∪ new) ==
    batch(old) ∪ incremental(new vs store(old)) — the increment pays
    O(increment) and misses nothing the full re-run would find."""
    from smartglass_ocr_spark.ops.dedup import (
        minhash_band_signatures,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)

    def pairs(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    full = pairs(minhash_lsh_candidates(docs, bands=8, n=5))
    old_only = pairs(minhash_lsh_candidates(old, bands=8, n=5))
    inc = pairs(
        minhash_lsh_candidates_incremental(
            new, minhash_band_signatures(old, bands=8, n=5), bands=8, n=5
        )
    )
    assert old_only | inc == full
    assert old_only & inc == set()  # every incremental pair touches a new doc
    assert inc  # non-vacuous: the slice actually has cross/new pairs


def test_incremental_minhash_file_backed_index(spark, tmp_path):
    """write_minhash_index round-trip, then append: dedup against the
    on-disk store matches dedup against in-memory signatures, and
    appending the increment leaves the store equal to
    signatures(old ∪ new)."""
    from smartglass_ocr_spark.ops.dedup import (
        minhash_band_signatures,
        minhash_lsh_candidates_incremental,
        write_minhash_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "mh_index")
    write_minhash_index(old, path)

    from_disk = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates_incremental(
            new, spark.read.parquet(path)
        ).collect()
    }
    in_mem = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates_incremental(
            new, minhash_band_signatures(old)
        ).collect()
    }
    assert from_disk == in_mem

    write_minhash_index(new, path, mode="append")
    stored = {
        (r["doc_id"], r["band"], r["sig"])
        for r in spark.read.parquet(path).collect()
    }
    want = {
        (r["doc_id"], r["band"], r["sig"])
        for r in minhash_band_signatures(docs).collect()
    }
    assert stored == want


def test_incremental_components_equals_full_rebuild(spark):
    """duplicate_components_incremental == duplicate_components(old ∪
    new) on a random graph split, including the hard cases: a new
    pair BRIDGING two existing components (their members must all
    relabel to the joint min), brand-new docs forming their own
    component, and untouched components keeping their labels."""
    import random

    from smartglass_ocr_spark.ops.dedup import (
        duplicate_components,
        duplicate_components_incremental,
    )

    rng = random.Random(7)
    all_pairs = set()
    # several clusters over ids 0..59 plus random edges
    for base in (0, 10, 20, 30, 40, 50):
        ids = list(range(base, base + 10))
        for _ in range(12):
            a, b = rng.sample(ids, 2)
            all_pairs.add((min(a, b), max(a, b)))
    # cross-cluster bridges and fresh docs 100/101 land in the increment
    increment = {(5, 25), (41, 55), (100, 101), (3, 100)}
    old = sorted(all_pairs)
    new = sorted(increment)

    def df(pairs):
        return spark.createDataFrame(pairs, "doc_a long, doc_b long")

    base_lab = duplicate_components(df(old))
    inc = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components_incremental(df(new), base_lab).collect()
    }
    full = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(df(old + new)).collect()
    }
    assert inc == full
    # untouched components kept their exact labels
    base = {r["doc_id"]: r["component_id"] for r in base_lab.collect()}
    touched_comps = {base[d] for p in increment for d in p if d in base}
    for d, c in base.items():
        if c not in touched_comps:
            assert inc[d] == c, d


def test_full_rollup_rebuild_removes_stale_days(spark, tmp_path):
    """Rebuilding a rollup store from scratch must TRUNCATE each
    grain: a previous build's day partitions absent from the new
    events must not survive (r4 ADVICE — dynamic partition overwrite
    on the FULL build silently left them in all three grains; static
    overwrite is the rebuild mode, dynamic is the refresh's)."""
    from smartglass_ocr_spark.ops.windows import (
        hierarchical_rollup,
        read_hierarchical_rollup,
        write_hierarchical_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    day0 = events.agg(
        F.min(
            (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86400e6) * 86400)
            .cast("long")
        ).alias("d")
    ).collect()[0]["d"]
    early = events.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) < (day0 + 86400) * 1_000_000
    )
    late = events.subtract(early)
    assert early.count() > 0 and late.count() > 0

    path = str(tmp_path / "rollup")
    write_hierarchical_rollup(early, path)
    write_hierarchical_rollup(late, path)  # rebuild into the SAME path

    key = ("grain", "bucket_start_s", "event_type")
    got = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
           for r in read_hierarchical_rollup(spark, path).collect()}
    want = {tuple(r[k] for k in key): (r["n"], r["total_value"], r["avg_value"])
            for r in hierarchical_rollup(late).collect()}
    assert got == want  # no early-day rows linger in any grain


def _ref_encode(texts_by_id, merges, alphabet=None):
    """Pure-Python encode twin: replay merges in order per word,
    map symbols to deterministic ids (code-point-ranked chars, then
    len(alphabet)+i for merge i, first-wins on token collisions)."""
    if alphabet is None:
        alphabet = sorted({c for t in texts_by_id.values() if t for c in t if not c.isspace()})
    vocab = {c: i for i, c in enumerate(alphabet)}
    n = len(vocab)
    for i, (_, a, b, _) in enumerate(merges):
        vocab.setdefault(a + b, n + i)

    def seg(w):
        syms = list(w)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return [vocab.get(s, -1) for s in syms]

    return {
        d: ([i for w in t.split() for i in seg(w)] if t else [])
        for d, t in texts_by_id.items()
    }


def test_bpe_encode_matches_reference_on_trained_merges(spark):
    """bpe_encode == the pure-Python twin id-for-id, using merges the
    trainer itself learned (not just a hand list) on a real corpus
    slice — the export a packing stage consumes."""
    from smartglass_ocr_spark.ops.bpe import bpe_encode, bpe_train

    real = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).limit(80)
    texts = {r["doc_id"]: r["text"] for r in real.select("doc_id", "text").collect()}
    merges = bpe_train(real, n_merges=12)
    assert merges  # the corpus must actually train something
    got = {r["doc_id"]: list(r["ids"]) for r in bpe_encode(real, merges).collect()}
    assert got == _ref_encode(texts, merges)


def test_bpe_encode_edges_null_unk_and_plan(spark):
    """NULL text keeps its row with an EMPTY id sequence (a packing
    stage sees n=0 instead of losing the doc); symbols outside a
    caller-supplied alphabet encode as -1 (UNK); and the plan is one
    Arrow crossing with zero exchanges (encode rows inherit the
    scan's partitioning)."""
    from smartglass_ocr_spark.ops.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ba"), (2, None), (3, "az")], "doc_id long, text string"
    )
    merges = [(1, "a", "b", 0)]
    out = {r["doc_id"]: list(r["ids"]) for r in bpe_encode(docs, merges).collect()}
    # alphabet {a,b,z} -> a=0 b=1 z=2, merge ab=3
    assert out == {1: [3, 1, 0], 2: [], 3: [0, 2]}
    # restricted alphabet: z unknown -> -1
    out2 = {
        r["doc_id"]: list(r["ids"])
        for r in bpe_encode(docs, merges, alphabet=["a", "b"]).collect()
    }
    assert out2 == {1: [2, 1, 0], 2: [], 3: [0, -1]}

    docs_real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        bpe_encode(docs_real, merges, alphabet=["a", "b"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_bpe_encode_length_matches_segmentation_on_real_docs(spark):
    """On a real-corpus slice, each doc's encoded id count equals the
    reference token count under the same merges."""
    from smartglass_ocr_spark.ops.bpe import bpe_encode, bpe_train

    real = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).limit(60)
    merges = bpe_train(real, n_merges=8)
    want = {
        r["doc_id"]: _ref_token_count(r["text"], merges)
        for r in real.select("doc_id", "text").collect()
    }
    n_enc = {
        r["doc_id"]: len(r["ids"]) for r in bpe_encode(real, merges).collect()
    }
    assert n_enc == want


def test_bpe_encode_splits_words_on_java_whitespace_only(spark):
    """The encoder splits words on the same ASCII whitespace as the
    JVM-side alphabet (Java's ``\\s``): U+00A0 is a symbol there, so
    it must encode as its alphabet id, not vanish as a separator."""
    from smartglass_ocr_spark.ops.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab\u00a0cd"), (2, "a\u0085b \tc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: list(r["ids"]) for r in bpe_encode(docs, []).collect()}
    # alphabet in code-point order: a b c d U+0085 U+00A0
    assert out == {1: [0, 1, 5, 2, 3], 2: [0, 4, 1, 2]}
