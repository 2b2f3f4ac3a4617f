"""Plan-shape regression tests — the physical properties the engine's
scale story depends on, pinned so a refactor can't silently regress
them: exchange counts, predicate pushdown, column pruning, and
whole-stage codegen coverage.
"""

from __future__ import annotations

import re

import pytest


SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_flagship_single_data_exchange(spark):
    """The fused flagship moves data through exactly ONE hash
    exchange (the compact flat rows); the reassembly groupBy reuses
    that partitioning and the pandas stage runs after it."""
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import run_pipeline_fused

    dp = spark.sparkContext.defaultParallelism
    replicated = spark.read.parquet(f"{SF}/documents.parquet").crossJoin(
        spark.range(2).select(F.col("id").alias("r"))
    ).select((F.col("doc_id") * 2 + F.col("r")).alias("doc_id"), "text")
    df = run_pipeline_fused(
        span_rows_from_flat(replicated, spans_per_doc=12, partitions=2 * dp)
    )
    plan = _plan(df)
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) == 1, plan


def test_q1_pushdown_and_pruning(spark, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # filter reaches the scan
    assert "l_shipdate" in scan and "DataFilters: [isnotnull(l_shipdate" in scan
    # only the 6 referenced columns are read (lineitem has 16)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert len(cols) == 6, cols


def test_token_counts_column_pruning(spark, queries):
    plan = _plan(queries["token_counts"](spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert sorted(c.split("#")[0] for c in cols) == ["doc_id", "text"]


def test_simhash_no_higher_order_functions(spark, queries):
    """simhash must stay in the explode + codegen-agg shape (the HOF
    fold benched ~15x slower); its plan must contain no interpreted
    lambda functions and exactly one aggregation exchange."""
    plan = _plan(queries["dedup_simhash"](spark, SF))
    assert "lambdafunction" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # partial + final agg around the single exchange (map-side combine)
    assert "partial_sum" in plan


def test_line_machine_twins_single_exchange(spark, queries):
    """W3/W5/W6 line machines: the window and the final groupBy share
    ONE doc_id hash exchange (EnsureRequirements reuses the window's
    partitioning); the line derivation itself is a narrow Generate
    inside the scan stage."""
    for name in ("w3_paragraph_fold", "w5_header_sections", "w6_bullet_fold"):
        plan = _plan(queries[name](spark, SF))
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, name
        assert "Generate explode" in plan or "Generate posexplode" in plan, name


def test_knn_plans_no_interpreted_lambdas(spark, queries):
    """The similarity kernels must stay numpy/Arrow (ArrowEvalPython),
    never interpreted higher-order functions — the r1 HOF cosine was
    the top perf-weak finding (per-element lambda interpretation,
    measured 1.9x slower than the BLAS batch at 2M rows and widening
    with scale)."""
    for name in ("knn_cosine", "knn_lsh", "knn_ivf"):
        plan = _plan(queries[name](spark, SF))
        assert "lambdafunction" not in plan, name
        assert "ArrowEvalPython" in plan, name
        assert "BatchEvalPython" not in plan, name  # no per-row Python


def test_broadcast_joins_in_q5(spark, queries):
    """The dim chain must broadcast, never shuffle-join."""
    plan = _plan(queries["q5_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_fingerprint_explode_min_agg_shape(spark, queries):
    """doc_fingerprint's batch path must be the explode + codegen
    min(md5) agg (r2 VERDICT: the interpreted-HOF transform(md5) fold
    is a real CPU multiplier at 10^12 docs); the narrow HOF twin is
    reserved for streaming."""
    plan = _plan(queries["doc_fingerprint"](spark, SF))
    assert "lambdafunction" not in plan
    assert "partial_min" in plan


def test_minhash_single_corpus_scan(spark, queries):
    """minhash candidates must derive the signature pipeline ONCE:
    the r2 self-join shape silently ran the shingle+md5+min-agg
    subtree per join branch (Catalyst doesn't reuse them — 2
    FileScans), doubling the dominant 10^12-doc cost. The bucket-
    collect shape is pinned to one scan; its pair-generation HOF is
    allowed — it runs only over >=2-member buckets."""
    plan = _plan(queries["dedup_minhash_lsh"](spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert "partial_min" in plan


def test_jaccard_doc_partitioning_reused(spark):
    """jaccard_pairs' up-front doc_id repartition must serve BOTH the
    distinct (doc_id subset of its clustering keys -> partition-local)
    and the per-doc size window — one corpus scan, at most 3 hash
    exchanges end to end (repartition, shingle bucket groupBy, pair
    agg) with the df cap off. The r3 shape paid a 4th full exchange of
    the shingle rows between the distinct and the window."""
    from smartglass_ocr_spark.ops.dedup import jaccard_pairs

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("_jd")
    df = jaccard_pairs(
        spark.table("_jd"), n=5, threshold=0.2, max_shingle_docs=None
    )
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_decontaminate_broadcast_single_exchange(spark, queries):
    """Decontamination: the benchmark gram set is BROADCAST (eval
    suites are never corpus-scale) and the corpus shingle rows cross
    exactly ONE hash exchange — the up-front doc_id partition that
    the gram distinct and the per-doc count agg both reuse."""
    plan = _plan(queries["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two hash exchanges total: the corpus's one REPARTITION_BY_COL
    # on doc_id (reused by the gram distinct AND the count agg — no
    # ENSURE_REQUIREMENTS exchange of corpus rows anywhere), plus the
    # benchmark side's distinct, which is eval-suite-sized
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert len(re.findall(r"REPARTITION_BY_COL", plan)) == 1, plan
    # both source filters reach the parquet scan
    assert "PushedFilters: [Not(In(source" in plan
    assert "PushedFilters: [In(source" in plan


def test_repetition_signals_single_scan(spark, queries):
    """Both gram widths ride ONE corpus scan and ONE doc_id exchange
    (the two-branch join shape measured 2 FileScans + a broadcast of
    a per-doc aggregate — corpus-sized, never broadcastable)."""
    plan = _plan(queries["repetition_signals"](spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan


def test_passage_dedup_window_partitioning_reused(spark, queries):
    """Passage dedup: two deliberate corpus scans (hot-gram build +
    token pass; Catalyst never reuses branch subtrees, and a second
    parquet scan beats caching an exploded token frame at corpus
    scale), the hot-gram set joins back as a BROADCAST, and the
    coverage window's doc_id exchange is the SAME partitioning the
    final per-doc rebuild agg consumes — exactly three hash
    exchanges total (pair-distinct + df-count on the vocabulary-keyed
    hot side, one doc_id exchange on the token side), with no
    exchange between Window and the final aggregate."""
    plan = _plan(queries["passage_dedup"](spark, SF))
    assert plan.count("FileScan") == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    # the rebuild agg sits directly on the window output: everything
    # after the doc_id exchange is exchange-free
    tail = plan.split("Window ")[0]
    assert "Exchange" not in tail.split("ObjectHashAggregate")[-1]


def test_lm_score_cached_diamond_and_broadcasts(spark, queries):
    """LM scoring: the train-side pairs agg is persisted and its
    three derivations (unigram counts x2 roles, token total, bigram
    table) all hit the InMemoryRelation instead of re-deriving the
    corpus subtree; every vocabulary join is a BROADCAST (no
    SortMergeJoin anywhere, so corpus token rows cross exactly one
    guaranteed exchange — the per-doc agg). ``lm_contrast`` joins two
    such models onto one corpus explode; its floors are the counts
    its plan had when both models' vocabulary joins were first made
    unconditional broadcasts (8 scans, 6 broadcast joins)."""
    for name, scans, broadcasts in (("lm_score", 3, 3), ("lm_contrast", 8, 6)):
        plan = _plan(queries[name](spark, SF))
        assert plan.count("InMemoryTableScan") >= scans, (name, plan)
        assert plan.count("BroadcastHashJoin") >= broadcasts, (name, plan)
        assert "SortMergeJoin" not in plan, name


def test_curation_end_to_end_plan_budget(spark, queries):
    """Budget pin for the composed curation pipeline (r4 VERDICT #4):
    composition must not quietly multiply corpus scans or exchanges.
    The printed counts include cached subtrees re-printed under every
    InMemoryTableScan (the repo's known plan-string caveat), so they
    overstate the EXECUTED work — but they are deterministic for a
    fixed plan, which makes them a regression ceiling: a stage that
    stops hitting the cache or re-derives the corpus shows up as a
    jump. Measured at authoring time: 51 FileScans / 68 exchanges /
    39 broadcast joins, cache reuse in place, no cartesian products,
    no per-row Python."""
    plan = _plan(queries["curation_end_to_end"](spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 10, "cache reuse disappeared"
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BatchEvalPython") == 0
    assert plan.count("FileScan parquet") <= 51, plan.count("FileScan parquet")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 68


@pytest.mark.parametrize(
    "name",
    ["curation_end_to_end", "collocations", "lm_score", "lm_contrast", "bm25_topk"],
)
def test_query_owns_its_persists(spark, queries, name):
    """A one-query session ends with as many persistent RDDs as it
    began with: the query's persisted frames (and, for the curation
    query, its local checkpoints) live until the caller drops its
    result, and no longer."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = queries[name](spark, SF)
    out.collect()
    assert persisted().size() > before  # the query did read its caches
    del out
    assert persisted().size() == before


def test_semantic_dedup_query_owns_its_assignment(spark, queries):
    """Dropping the ``semantic_dedup`` query's result releases exactly
    one persistent RDD, the persisted assignment. The components'
    final local checkpoint is not owned, so it stays."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    out = queries["semantic_dedup"](spark, SF)
    out.collect()
    held = persisted().size()
    del out
    assert persisted().size() == held - 1


def test_owned_result_spares_a_checkpointed_input(spark):
    """An owning result releases only the frames its operator
    persisted: a local checkpoint in the caller's input lineage
    survives it, so the input stays readable."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _owned
    from smartglass_ocr_spark.ops.retrieval import bm25_topk
    from smartglass_ocr_spark.ops.textstats import lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint()
    n = docs.count()
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    for query, args in ((lm_score, ()), (bm25_topk, (queries, 2))):
        out = _owned(query, docs, *args)
        out.collect()
        del out
        assert docs.count() == n


def test_derived_frame_reads_the_operator_caches(spark):
    """A frame derived from an operator's result, the result itself
    dropped, still reads the operator's persisted pair counts: the
    caller owns them, not the result object."""
    import gc

    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.textstats import collocations, lm_contrast

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    derived = (
        (lm_contrast(docs, target).join(docs.select("doc_id", "source"), "doc_id"), 8),
        (collocations(docs, min_count=5, k=50).filter(F.col("c_ab") > 0), 4),
    )
    gc.collect()
    for df, scans in derived:
        assert _plan(df).count("InMemoryTableScan") >= scans
    spark.catalog.clearCache()


def test_curation_oracle_rejects_drifted_cte_body(monkeypatch):
    """The curation oracle's string-surgery guards raise (not assert,
    which ``python -O`` strips) when a shared CTE body declares a CTE
    the rename list does not know."""
    import __spark_entry__ as e

    e._curation_oracle()  # the shipped bodies compose
    monkeypatch.setattr(
        e, "_MINHASH_PAIRS_CTE", e._MINHASH_PAIRS_CTE + ", extra AS (SELECT 1)"
    )
    with pytest.raises(ValueError, match="unexpected CTEs"):
        e._curation_oracle()


def test_rag_end_to_end_plan_topk_not_global_sort(spark, queries):
    """The RAG retrieval composition's global top-k must execute as
    TakeOrderedAndProject (per-partition partial top-k, k rows to the
    driver), NEVER a global Sort; the chunk -> lane explode feeds ONE
    fused codegen agg (single hash exchange) with no interpreted
    lambdas and no per-row Python."""
    plan = _plan(queries["rag_end_to_end"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "lambdafunction" not in plan
    assert "BatchEvalPython" not in plan
