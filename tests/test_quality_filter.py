"""Composite quality_filter — each rule pinned firing (and not) on a
hand corpus, fixed reasons order, policy knobs, and the plan shape
(one row-local projection + the single repetition join)."""

from __future__ import annotations

from smartglass_ocr_spark.ops.textstats import quality_filter

CLEAN = "the quick brown fox jumps over the lazy sleeping dog that is running around here"
TINY = "no"
REPETITIVE = "click here click here click here click here click here and the thing is that"
PUNCTY = "wowza !!!!! ????? ;;;;; ::::: ,,,,, ..... !!!!! ????? ;;;;; jsson"
PII = "reach me at bob@example.com for the offer that is nice and good here today"

DOCS = [(1, CLEAN), (2, TINY), (3, REPETITIVE), (4, PUNCTY), (5, PII)]


def _run(spark, **kw):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = quality_filter(docs, **kw)
    return {r["doc_id"]: (r["reasons"], r["verdict"]) for r in out.collect()}


def test_rules_fire_in_fixed_order(spark):
    got = _run(spark)
    assert got[1] == ("", "keep")
    # 1 token: short + sub-3 mean word len + no stopwords + 'other'
    # language + the degenerate whole-doc bigram at frac 1.0
    assert got[2] == ("too_short,word_length,stopwords,language,rep_bigram", "drop")
    # 'click here' is 5 of 15 bigram occurrences (0.33 > 0.2) and the
    # repeated trigrams cover 8 of 14 occurrences
    assert got[3][0].startswith("rep_bigram")
    assert got[3][1] == "drop"
    # 45 of 65 chars are [.!?,;:]-class; repetition stays under both
    # thresholds (max bigram 2/10, dup trigrams 2/9)
    assert got[4] == ("punctuation,stopwords,language", "drop")
    # PII counted but not a drop rule by default
    assert got[5] == ("", "keep")


def test_pii_and_language_knobs(spark):
    got = _run(spark, max_pii=0)
    assert got[5] == ("pii", "drop")
    got = _run(spark, langs=())
    assert "language" not in got[2][0] and "language" not in got[4][0]


def test_feature_columns_carried_for_audit(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    row = {r["doc_id"]: r for r in quality_filter(docs).collect()}[5]
    assert row["n_pii"] == 1
    assert row["predicted_lang"] == "en"
    assert row["n_tokens"] == 14


def test_plan_single_rowlocal_projection(spark):
    """Row-local signals all live in ONE scan-stage projection; the
    only join is the repetition aggregate — composing the four
    single-signal operators by join would be four corpus scans."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


SRC_DOCS = [
    (1, CLEAN, "a"), (2, TINY, "b"), (3, REPETITIVE, "b"),
    (4, PUNCTY, "b"), (5, PII, "a"),
]


def test_quality_report_hand_corpus(spark):
    from smartglass_ocr_spark.ops.textstats import quality_report

    docs = spark.createDataFrame(SRC_DOCS, "doc_id long, text string, source string")
    rows = {
        (r["source"], r["verdict"]): r
    for r in quality_report(docs).collect()}
    assert set(rows) == {("a", "keep"), ("b", "drop")}
    a = rows[("a", "keep")]
    assert a["n_docs"] == 2
    assert a["sum_tokens"] == len(CLEAN.split()) + len(PII.split())
    assert a["avg_tokens"] == a["sum_tokens"] / 2
    assert all(a[f"n_{n}"] == 0 for n in (
        "too_short", "too_long", "word_length", "punctuation",
        "stopwords", "language", "rep_bigram", "rep_trigram", "pii"))
    b = rows[("b", "drop")]
    assert b["n_docs"] == 3
    assert b["n_too_short"] == 1 and b["n_word_length"] == 1
    assert b["n_stopwords"] == 2 and b["n_language"] == 2
    assert b["n_rep_bigram"] == 2 and b["n_rep_trigram"] == 1
    assert b["n_punctuation"] == 1 and b["n_pii"] == 0


def test_quality_report_plan_no_extra_scan(spark):
    """passthrough carries the group column through the row-local
    projection — still 2 FileScans (base + repetition), no join back
    to the corpus for 'source'."""
    from smartglass_ocr_spark.ops.textstats import quality_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = quality_report(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan
