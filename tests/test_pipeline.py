"""End-to-end golden equality (SURVEY.md §5.2 layers 2 & 4).

The Spark pipeline's output must match the pure-Python golden
generator per document: span-sequence equality
(kind, text, media_ref, order) — BASELINE.json north_rule — plus the
invariants: span-count conservation, media byte-identity, offset
monotonicity, input-order permutation invariance, the mega-doc
cap's equivalence with a pre-truncated corpus, and fused == golden on
hostile spans, in a fixed corpus and in hypothesis-generated ones.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from smartglass_ocr_spark.corpus import docs_to_df, generate_docs
from smartglass_ocr_spark.golden import golden_outputs
from smartglass_ocr_spark.pipeline import explode_spans, fused_doc_stage, run_pipeline_fused
from smartglass_ocr_spark.rules.classify import MEDIA_KINDS, TEXT_KINDS


@pytest.fixture(scope="module")
def docs():
    return generate_docs(n_docs=80, seed=42, scramble=True)


@pytest.fixture(scope="module")
def golden(docs):
    return {g["doc_id"]: g for g in golden_outputs(docs)}


@pytest.fixture(scope="module")
def spark_result(spark, docs):
    rows = run_pipeline_fused(explode_spans(docs_to_df(spark, docs))).collect()
    return {r["doc_id"]: r for r in rows}


def _span_seq(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_doc_count(golden, spark_result):
    assert set(spark_result) == set(golden)


def test_span_sequence_equality(golden, spark_result):
    for doc_id, g in golden.items():
        got = _span_seq(spark_result[doc_id]["spans"])
        want = _span_seq(g["spans"])
        assert got == want, f"span mismatch in {doc_id}"


def test_span_count_conservation(docs, spark_result):
    for d in docs:
        assert len(spark_result[d["doc_id"]]["spans"]) == len(d["spans"])


def test_media_byte_identity(docs, spark_result):
    for d in docs:
        in_media = {
            s["offset"]: s["media_ref"] for s in d["spans"] if s["media_ref"]
        }
        out_media = {
            s["offset"]: s["media_ref"]
            for s in spark_result[d["doc_id"]]["spans"]
            if s["media_ref"]
        }
        assert out_media == in_media


def test_offset_monotonicity(spark_result):
    for r in spark_result.values():
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == sorted(offsets)
        assert len(set(offsets)) == len(offsets)


def test_doc_metadata_equality(golden, spark_result):
    for doc_id, g in golden.items():
        r = spark_result[doc_id]
        assert r["lang"] == g["lang"], doc_id
        assert r["structure"] == g["structure"], doc_id
        assert r["summary"] == g["summary"], doc_id
        assert list(r["key_insights"]) == g["key_insights"], doc_id
        assert r["confidence"] == pytest.approx(g["confidence"]), doc_id
        assert r["confidence_level"] == g["confidence_level"], doc_id
        assert r["status"] == g["status"], doc_id
        assert dict(r["structured_info"]) == g["structured_info"], doc_id
        assert dict(r["block_class_hist"]) == g["block_class_hist"], doc_id


def test_permutation_invariance(spark, docs, spark_result):
    """Shuffled input span order -> identical output (W1 reassembly
    sorts by offset, so array order in must not matter)."""
    import random

    rng = random.Random(7)
    shuffled = []
    for d in docs[:20]:
        spans = list(d["spans"])
        rng.shuffle(spans)
        shuffled.append({"doc_id": d["doc_id"], "spans": spans})
    rows = run_pipeline_fused(explode_spans(docs_to_df(spark, shuffled))).collect()
    for r in rows:
        assert _span_seq(r["spans"]) == _span_seq(spark_result[r["doc_id"]]["spans"])


def test_mega_doc_reassembly_equivalence(spark):
    """The single reassembly shuffle followed by the doc stage
    produces the golden rows for pinned mega-docs too."""
    from smartglass_ocr_spark.pipeline import fused_doc_stage, reassemble_raw

    mega = generate_docs(n_docs=10, seed=99, scramble=True, mega_doc_spans=500)
    assembled = reassemble_raw(explode_spans(docs_to_df(spark, mega)))
    got = {r["doc_id"]: r.asDict(recursive=True) for r in fused_doc_stage(assembled).collect()}
    assert got == {g["doc_id"]: g for g in golden_outputs(mega)}
    assert max(len(d["spans"]) for d in mega) == 500


def test_empty_and_single_span_docs(spark):
    docs = [
        {"doc_id": "d-single", "spans": [{"kind": "para", "text": "ofthe thing works.", "media_ref": None, "offset": 0}]},
        {"doc_id": "d-media-only", "spans": [{"kind": "image", "text": None, "media_ref": "m-abc", "offset": 3}]},
    ]
    got = {
        r["doc_id"]: r
        for r in run_pipeline_fused(explode_spans(docs_to_df(spark, docs))).collect()
    }
    g = {x["doc_id"]: x for x in golden_outputs(docs)}
    for doc_id in g:
        assert _span_seq(got[doc_id]["spans"]) == _span_seq(g[doc_id]["spans"])


def test_fused_pipeline_matches_golden(spark):
    docs = generate_docs(n_docs=40, seed=31, scramble=True)
    got = {
        r["doc_id"]: r for r in run_pipeline_fused(explode_spans(docs_to_df(spark, docs))).collect()
    }
    for g in golden_outputs(docs):
        assert _span_seq(got[g["doc_id"]]["spans"]) == _span_seq(g["spans"])
        assert got[g["doc_id"]]["summary"] == g["summary"]
        assert got[g["doc_id"]]["status"] == g["status"]


@pytest.mark.parametrize("spans_per_doc", [8, 12])
def test_span_array_and_row_derivations_agree(spark, spans_per_doc):
    """The array table (``spans_from_flat``) and the flagship's span
    rows (``span_rows_from_flat``) derive their fields through one
    helper: inlining the array gives exactly the rows."""
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.corpus import span_rows_from_flat, spans_from_flat

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inlined = spans_from_flat(docs, spans_per_doc=spans_per_doc).select(
        "doc_id", F.inline("spans")
    )
    rows = span_rows_from_flat(docs, spans_per_doc=spans_per_doc)
    assert inlined.columns == rows.columns
    assert inlined.count() == rows.count() > 0
    assert inlined.exceptAll(rows).count() == 0
    assert rows.exceptAll(inlined).count() == 0


def test_fused_stage_runs_one_task_per_core(spark):
    """A reassembly shuffle of more than cores but at most 2×cores
    partitions runs the doc stage as one Python task per core (each
    Python task pays a fixed worker set-up); smaller and larger counts
    keep their tasks; the output still equals the golden spec's rows."""
    from smartglass_ocr_spark.pipeline import explode_spans, run_pipeline_fused

    dp = spark.sparkContext.defaultParallelism
    docs = generate_docs(n_docs=40, seed=37, scramble=True)
    rows = explode_spans(docs_to_df(spark, docs))
    out = run_pipeline_fused(rows.repartition(2 * dp, "doc_id"))
    assert out.rdd.getNumPartitions() == dp
    assert run_pipeline_fused(rows.repartition(2, "doc_id")).rdd.getNumPartitions() == 2
    wide = run_pipeline_fused(rows.repartition(2 * dp + 1, "doc_id"))
    assert wide.rdd.getNumPartitions() == 2 * dp + 1
    want = {g["doc_id"]: g for g in golden_outputs(docs)}
    for df in (out, wide):
        assert {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()} == want


def test_markdown_rendering(spark):
    from smartglass_ocr_spark.pipeline import explode_spans, run_pipeline_fused, with_markdown

    df = docs_to_df(spark, generate_docs(n_docs=20, seed=5))
    out = with_markdown(run_pipeline_fused(explode_spans(df)))
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        md = r["markdown"]
        assert md.startswith(f"# {r['doc_id']}")
        assert "| Field | Value |" in md
        if r["summary"]:
            assert "## Summary" in md and "\n> " in md
        for s in r["spans"]:
            if s["media_ref"]:
                assert f"({s['media_ref']})" in md
    # deterministic
    again = {r["doc_id"]: r["markdown"] for r in out.collect()}
    assert again == {r["doc_id"]: r["markdown"] for r in rows}


def _short_span_mega_corpus(n_small: int, mega_spans: int) -> list[dict]:
    """Corpus whose mega doc is many TINY spans: its straggler cost is
    per-span classify/clean (~20 us/span of fixed regex-machinery
    cost), while the per-doc linear metadata pass stays small because
    the joined text is small. The max_doc_* cap bounds this shape and
    the opposite one — few spans, megabytes of text — alike (the
    reference's 16 MB clamp analogue)."""
    docs = generate_docs(n_docs=n_small, seed=31, scramble=True)
    spans = [
        {
            "kind": "pdf_line",
            "text": f"net {i % 97} go",
            "media_ref": None,
            "offset": i,
        }
        for i in range(mega_spans)
    ]
    return docs + [{"doc_id": "doc-mega-short", "spans": spans}]


def test_doc_cap_bounds_mega_task(spark):
    """The cap lever is the hard straggler bound (a 200k-span doc must
    not own a multi-second task): capped at 2000 spans, the mega doc
    runs the per-span rules on exactly 2000 spans, and the Spark path
    reports the other 198,000 as truncated. BASELINE.md §Keep only
    options something sets has the capped and uncapped walls."""
    from unittest import mock

    from smartglass_ocr_spark import golden

    docs = _short_span_mega_corpus(4, 200_000)
    mega = docs[-1]
    with mock.patch.object(golden, "process_span", wraps=golden.process_span) as spy:
        out = golden.process_document(mega, max_spans=2000)
    assert spy.call_count == 2000
    assert out["n_truncated_spans"] == 198_000

    rows = explode_spans(docs_to_df(spark, docs))
    got = {r["doc_id"]: r["n_truncated_spans"] for r in
           run_pipeline_fused(rows, max_doc_spans=2000).select(
               "doc_id", "n_truncated_spans").collect()}
    assert got == {d["doc_id"]: 198_000 if d is mega else 0 for d in docs}


def test_doc_span_cap_equals_pretruncated(spark):
    """The max_doc_spans/max_doc_bytes cap must equal processing a
    corpus truncated up front with golden.truncate_doc_spans (the
    reference's 16 MB ingest clamp analogue): the engine never sees —
    or emits — spans past the cap. Default (no cap) output is pinned
    byte-identical by the golden tests."""
    from smartglass_ocr_spark.golden import truncate_doc_spans
    from smartglass_ocr_spark.pipeline import explode_spans, run_pipeline_fused

    docs = generate_docs(n_docs=16, seed=13, scramble=True, mega_doc_spans=900)
    capped_corpus = [
        {"doc_id": d["doc_id"], "spans": truncate_doc_spans(d["spans"], 300, 20_000)}
        for d in docs
    ]
    a = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in run_pipeline_fused(
            explode_spans(docs_to_df(spark, docs)),
            max_doc_spans=300, max_doc_bytes=20_000,
        ).collect()
    }
    # every run reports what the clamp dropped (r3 VERDICT #6); that
    # observability column must equal the direct clamp arithmetic (0
    # on the capless run), and the payload must equal the
    # pre-truncated capless run exactly
    want_trunc = {
        d["doc_id"]: len(d["spans"]) - len(c["spans"])
        for d, c in zip(docs, capped_corpus)
    }
    got_trunc = {k: v.pop("n_truncated_spans") for k, v in a.items()}
    assert got_trunc == want_trunc
    b = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in run_pipeline_fused(
            explode_spans(docs_to_df(spark, capped_corpus))
        ).collect()
    }
    assert {v.pop("n_truncated_spans") for v in b.values()} == {0}
    assert a == b
    mega_id = docs[-1]["doc_id"]
    assert len(a[mega_id]["spans"]) <= 300


def test_structured_typed_column(spark):
    """Receipt docs carry the typed nested struct (items
    array<struct<name,quantity,price>>) and the markdown renderer
    emits the reference-style items table for them."""
    from smartglass_ocr_spark.pipeline import (
        explode_spans, run_pipeline_fused, with_markdown,
    )

    df = docs_to_df(spark, generate_docs(n_docs=80, seed=51, scramble=True))
    out = with_markdown(run_pipeline_fused(explode_spans(df)))
    rows = out.collect()
    receipts = [
        r for r in rows
        if (r["block_class_hist"] or {}).get("receipt", 0) > 0
        and r["structured_typed"] is not None
        and r["structured_typed"]["receipt"] is not None
    ]
    assert receipts, "corpus should contain receipt-dominant docs"
    found_items = False
    for r in receipts:
        t = r["structured_typed"]["receipt"]
        flat = dict(r["structured_info"] or {})
        assert t["merchant"] == flat.get("merchant")
        items = list(t["items"] or [])
        assert str(len(items)) == flat.get("items_count")
        for n, item in enumerate(items):
            assert item["name"] == flat[f"item_{n}_name"]
            assert item["quantity"] == flat[f"item_{n}_quantity"]
            assert item["price"] == flat[f"item_{n}_price"]
        if items:
            found_items = True
            assert "| Item | Quantity | Price |" in r["markdown"]
            assert "### Items" in r["markdown"]
    assert found_items
    tables = [
        r for r in rows
        if r["structured_typed"] is not None
        and r["structured_typed"]["table"] is not None
    ]
    assert tables
    for r in tables:
        t = r["structured_typed"]["table"]
        flat = dict(r["structured_info"] or {})
        assert "|".join(t["headers"]) == flat.get("headers")


def _hostile_corpus() -> list[dict]:
    """Spans that have broken text pipelines before: NULL and empty
    text, Unicode whitespace (U+00A0, U+2028, U+3000), astral-plane
    characters, a span over 1 MB, a NULL doc_id, and a mega doc that
    carries all of them, beside ordinary scrambled docs."""
    hostile = [
        ("para", None),
        ("para", ""),
        ("heading", "Total Due: $12.50"),
        ("list", "- first item - second item"),
        ("para", "Meeting　at　10:30　in room B."),
        ("para", "Astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 and 𠜎 ideographs, 𝟙𝟚𝟛 digits."),
        ("html", "<p>Chapter one 🚀</p>"),
        ("image", None),
    ]

    def span(i, kind, text):
        media = f"m-{i}" if kind == "image" else None
        return {"kind": kind, "text": text, "media_ref": media, "offset": i}

    sentence = "Invoice No. 4471 lists 12 items at $3.50 each, paid　in full 😀. "
    big = sentence * ((1 << 20) // len(sentence.encode()) + 1)
    mega = [span(i, *hostile[i % len(hostile)]) for i in range(120)]
    mega.append(span(120, "para", big))
    docs = generate_docs(n_docs=8, seed=17, scramble=True)
    return docs + [
        {"doc_id": "hostile-small", "spans": [span(i, *h) for i, h in enumerate(hostile)]},
        {"doc_id": None, "spans": [span(i, *h) for i, h in enumerate(hostile[2:6])]},
        {"doc_id": "hostile-mega", "spans": mega},
    ]


def test_extracted_span_rows_follow_the_doc_order(spark):
    """extracted_span_rows numbers a doc's spans in the fused output's
    order, NULL and tied offsets included, and classifies each span as
    golden.process_span does."""
    from smartglass_ocr_spark.golden import process_span, reading_order
    from smartglass_ocr_spark.pipeline import extracted_span_rows

    tied = [("para", "b", None, 3), ("para", "a", None, 3), ("heading", "a", None, 3),
            ("para", None, None, 3), ("image", None, "m-2", 3), ("image", None, "m-1", 3),
            ("para", "c", None, None), ("list", "c", None, None), ("para", "z", None, 1)]
    docs = _hostile_corpus() + [{"doc_id": "tied", "spans": [
        {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in tied]}]
    rows = explode_spans(docs_to_df(spark, docs))
    fused = {r["doc_id"]: _span_seq(r["spans"]) for r in run_pipeline_fused(rows).collect()}
    flat: dict = {}
    for r in extracted_span_rows(rows).collect():
        flat.setdefault(r["doc_id"], []).append(r)
    assert flat.keys() == fused.keys()
    for doc in docs:
        got = sorted(flat[doc["doc_id"]], key=lambda r: r["order"])
        assert [r["order"] for r in got] == list(range(len(got)))
        assert _span_seq(got) == fused[doc["doc_id"]], doc["doc_id"]
        raw = sorted(doc["spans"], key=reading_order)
        assert [r["block_class"] for r in got] == [
            process_span(s["kind"], s["text"])[0] for s in raw]


def test_hostile_spans_lockstep(spark):
    """fused == golden, row for row, on one corpus of hostile spans,
    including the NULL doc_id, the 1 MiB span and the mega doc."""
    docs = _hostile_corpus()
    assert max(len((s["text"] or "").encode()) for d in docs for s in d["spans"]) >= 1 << 20
    rows = explode_spans(docs_to_df(spark, docs))
    fused = {r["doc_id"]: r.asDict(recursive=True) for r in run_pipeline_fused(rows).collect()}
    want = {g["doc_id"]: g for g in golden_outputs(docs)}
    assert len(want) == len(docs) and None in want
    assert fused == want


_SPAN_TEXT = st.one_of(
    st.none(),
    st.text(
        alphabet=st.one_of(
            st.characters(categories=("Zs", "Zl", "Zp")),
            st.characters(min_codepoint=0x10000, codec="utf-8"),
            st.characters(codec="utf-8"),
        ),
        max_size=60,
    ),
)
_SPAN_KINDS = st.sampled_from(sorted(TEXT_KINDS) + sorted(MEDIA_KINDS))


@st.composite
def _small_corpus(draw) -> list[dict]:
    """At most 8 docs with unique doc_ids, at most one of them NULL;
    a doc's spans may be NULL or empty (every path omits such a doc).
    Its offsets may tie, and up to three of its spans have a NULL
    offset; golden.reading_order puts them in one order whatever order
    collect_list delivers them in."""
    ids = draw(st.lists(st.text("ab1-", min_size=1, max_size=4),
                        min_size=1, max_size=8, unique=True))
    null_at = draw(st.one_of(st.none(), st.integers(0, len(ids) - 1)))
    docs = []
    for i, doc_id in enumerate(ids):
        offsets = draw(st.permutations(
            draw(st.lists(st.integers(-1000, 1 << 20), max_size=6))
            + [None] * draw(st.integers(0, 3))
        ))
        spans = None if draw(st.integers(0, 7)) == 0 else [
            {"kind": draw(_SPAN_KINDS), "text": draw(_SPAN_TEXT),
             "media_ref": draw(st.one_of(st.none(), st.text("m0-", max_size=3))),
             "offset": o}
            for o in offsets
        ]
        docs.append({"doc_id": None if i == null_at else doc_id, "spans": spans})
    return docs


@settings(max_examples=10, deadline=None)
@given(docs=_small_corpus())
def test_hostile_spans_lockstep_generated(spark, docs):
    """The generated twin of test_hostile_spans_lockstep: fused ==
    golden == the doc-shaped stage the job and the stream run, row for
    row, on small corpora of Unicode-whitespace, astral-plane and NULL
    span text over every span kind, with NULL and empty span arrays."""
    df = docs_to_df(spark, docs)
    fused = {r["doc_id"]: r.asDict(recursive=True)
             for r in run_pipeline_fused(explode_spans(df)).collect()}
    assert fused == {g["doc_id"]: g for g in golden_outputs(docs)}
    staged = {r["doc_id"]: r.asDict(recursive=True) for r in fused_doc_stage(df).collect()}
    assert staged == fused


def test_doc_outputs_share_one_schema(spark, tmp_path):
    """Capped and uncapped fused runs and the extraction job's parquet
    all carry one schema (the job adds only its lineage columns)."""
    from smartglass_ocr_spark.checkpoint import run_extraction_job

    docs = generate_docs(n_docs=10, seed=21, scramble=True, mega_doc_spans=400)
    df = docs_to_df(spark, docs)
    rows = explode_spans(df)
    out = str(tmp_path / "out")
    run_extraction_job(
        spark, df, out, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        "run-1", n_partitions=4,
    )
    schemas = [
        run_pipeline_fused(rows, max_doc_spans=50).schema,
        run_pipeline_fused(rows).schema,
        spark.read.parquet(out).drop("n_spans", "partition_id").schema,
    ]
    assert all(s == schemas[0] for s in schemas), [s.simpleString() for s in schemas]
    assert schemas[0].fieldNames()[-1] == "n_truncated_spans"


def test_doc_paths_leave_no_persisted_rdds(spark, tmp_path):
    """No doc path leaves a cached RDD behind in the session: the
    persistent-RDD count is the same before and after a capped and an
    uncapped fused run and an extraction job over a mega-doc corpus."""
    from smartglass_ocr_spark.checkpoint import run_extraction_job

    docs = generate_docs(n_docs=10, seed=21, scramble=True, mega_doc_spans=400)
    df = docs_to_df(spark, docs)
    rows = explode_spans(df)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    paths = {
        "fused capped": lambda: run_pipeline_fused(rows, max_doc_spans=50).collect(),
        "fused uncapped": lambda: run_pipeline_fused(rows).collect(),
        "extraction job": lambda: run_extraction_job(
            spark, df, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            str(tmp_path / "metrics"), "run-1", n_partitions=4,
        ),
    }
    for name, run in paths.items():
        before = persisted().size()
        run()
        assert persisted().size() == before, name
