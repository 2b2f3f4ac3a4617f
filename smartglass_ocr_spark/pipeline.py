"""The Spark extraction pipeline (SURVEY.md §7.1 slice, widened).

Stages over ``documents(doc_id, spans array<struct<kind,text,
media_ref,offset>>)``:

1. ``explode_spans``     — ``inline(spans)``: one narrow stage.
2. ``classify_and_clean``— ONE Arrow-batched pandas UDF computing
   (block_class, clean_text); media rows pass through inside the
   batch (single scan — no filter/union double-read of the source).
3. ``reassemble``        — groupBy(doc_id) +
   ``array_sort(collect_list(struct(offset, ...)))``: the W1
   window-reassembly shuffle. ``two_phase=True`` adds a segment-level
   pre-assembly keyed by ``offset // segment`` so a mega-document's
   spans are combined in bounded chunks before the final per-doc merge
   (SURVEY.md §4 skew plan).
4. ``with_doc_metadata`` — per-doc derived columns (lang, structure,
   summary, insights, confidence, status, structured_info) via a
   second pandas UDF over the assembled doc text.

Per-span semantics = ``smartglass_ocr_spark.golden`` (the executable
spec); reference citations live in the rules modules.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, MapType, StringType, StructField,
    StructType,
)

from smartglass_ocr_spark.corpus import SPAN_STRUCT

SEGMENT_SPANS = 65536  # two-phase reassembly segment width (offsets)
# largest mega-doc id set the skew router broadcasts; above it the
# routing join shuffles instead of collecting the ids on the driver
MEGA_BROADCAST_MAX_IDS = 1_000_000

_CLASSIFY_SCHEMA = StructType(
    [
        StructField("block_class", StringType()),
        StructField("clean_text", StringType()),
    ]
)


@F.pandas_udf(_CLASSIFY_SCHEMA)
def _classify_clean_udf(kind: pd.Series, text: pd.Series) -> pd.DataFrame:
    # import inside the UDF so executors resolve the module from
    # --py-files without driver-side pickling of the rule tables
    from smartglass_ocr_spark.golden import process_span

    out_class: list[str] = []
    out_text: list[str | None] = []
    for k, t in zip(kind, text):
        c, ct = process_span(k, t if isinstance(t, str) else None)
        out_class.append(c)
        out_text.append(ct)
    return pd.DataFrame({"block_class": out_class, "clean_text": out_text})


# typed nested structured_info (r2 VERDICT #4): receipts as
# items array<struct<name,quantity,price>> (ref
# lib/information_extraction.py:236-274), tables as headers +
# per-row {header: value} maps (ref :366-369, :421-423) — the
# reference's actual JSON shapes, alongside the stable flattened map
_TYPED_INFO_TYPE = StructType(
    [
        StructField(
            "receipt",
            StructType(
                [
                    StructField("merchant", StringType()),
                    StructField("date", StringType()),
                    StructField("time", StringType()),
                    StructField("subtotal", StringType()),
                    StructField("tax", StringType()),
                    StructField("total", StringType()),
                    StructField("payment_method", StringType()),
                    StructField(
                        "items",
                        ArrayType(
                            StructType(
                                [
                                    StructField("name", StringType()),
                                    StructField("quantity", StringType()),
                                    StructField("price", StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField(
            "table",
            StructType(
                [
                    StructField("headers", ArrayType(StringType())),
                    StructField("rows", ArrayType(MapType(StringType(), StringType()))),
                ]
            ),
        ),
    ]
)

_META_SCHEMA = StructType(
    [
        StructField("formatted_text", StringType()),
        StructField("lang", StringType()),
        StructField("structure", StringType()),
        StructField("structured_info", MapType(StringType(), StringType())),
        StructField("structured_typed", _TYPED_INFO_TYPE),
        StructField("summary", StringType()),
        StructField("key_insights", ArrayType(StringType())),
        StructField("confidence", DoubleType()),
        StructField("confidence_level", StringType()),
        StructField("status", StringType()),
    ]
)


@F.pandas_udf(_META_SCHEMA)
def _doc_meta_udf(doc_text: pd.Series, class_hist: pd.Series) -> pd.DataFrame:
    # mirrors golden.process_document's doc-metadata block exactly
    # (the fused pipeline runs the golden spec itself; this staged twin
    # must stay in lockstep — tests assert bit-equality of the two)
    from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
    from smartglass_ocr_spark.rules.extract import (
        confidence_level, extract_structured, extract_structured_typed,
    )
    from smartglass_ocr_spark.rules.format import format_text
    from smartglass_ocr_spark.rules.langdetect import detect_language
    from smartglass_ocr_spark.rules.structure import detect_structure
    from smartglass_ocr_spark.rules.summarize import extract_key_insights, generate_summary

    special = ("id_card", "receipt", "form", "table")
    rows = []
    for text, hist in zip(doc_text, class_hist):
        text = text or ""
        hist = hist or {}
        formatted = format_text(text)
        dominant = max(special, key=lambda c: (hist.get(c, 0), -special.index(c)))
        extract_class = dominant if hist.get(dominant, 0) else "content"
        confidence = weighted_confidence(text)
        status = status_for(confidence, formatted)
        summary = ""
        insights: list[str] = []
        if status in ("success", "partial_success") and formatted:
            summary = generate_summary(formatted)
            if len(formatted) > 200:
                insights = extract_key_insights(formatted)
        rows.append(
            {
                "formatted_text": formatted,
                "lang": detect_language(formatted),
                "structure": detect_structure(formatted),
                "structured_info": extract_structured(extract_class, formatted),
                "structured_typed": extract_structured_typed(extract_class, formatted),
                "summary": summary,
                "key_insights": insights,
                "confidence": confidence,
                "confidence_level": confidence_level(confidence),
                "status": status,
            }
        )
    return pd.DataFrame(rows)


def explode_spans(documents: DataFrame) -> DataFrame:
    """spans array -> one row per span (narrow; generator exec)."""
    return documents.select("doc_id", F.inline("spans"))


def classify_and_clean(span_rows: DataFrame) -> DataFrame:
    """Adds block_class + clean_text in one Arrow round trip."""
    result = _classify_clean_udf(F.col("kind"), F.col("text"))
    return span_rows.withColumn("_cc", result).select(
        "doc_id",
        "kind",
        "media_ref",
        "offset",
        F.col("_cc.block_class").alias("block_class"),
        F.col("_cc.clean_text").alias("text"),
    )


def _ordered_span_struct() -> Column:
    # offset leads so the binary struct comparison of array_sort is
    # exactly "order by offset" (offsets are unique within a doc)
    return F.struct("offset", "kind", "text", "media_ref")


def _restore_field_order(sorted_col: Column) -> Column:
    return F.transform(
        sorted_col,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def reassemble(span_rows: DataFrame, two_phase: bool = False,
               segment_spans: int = SEGMENT_SPANS) -> DataFrame:
    """W1 ordered reassembly: doc_id -> spans sorted by offset, plus
    block_class_hist (the per-doc class histogram used downstream).

    Single-phase: one hash-partial collect_list shuffle on doc_id.
    Two-phase: pre-assemble per (doc_id, offset // segment_spans) so no
    single task materializes a mega-doc's full span list during the
    shuffle sort; the second, far smaller shuffle merges ~n/segment
    pre-sorted chunks per doc.
    """
    def hist_of(classes: Column) -> Column:
        # fold the class list into a count map, JVM-side
        return F.aggregate(
            classes,
            F.create_map().cast("map<string,int>"),
            lambda acc, c: F.map_zip_with(
                acc,
                F.create_map(c, F.lit(1)),
                lambda _, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
            ),
        )

    if not two_phase:
        grouped = span_rows.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(_ordered_span_struct())).alias("_sorted"),
            hist_of(F.collect_list("block_class")).alias("block_class_hist"),
        )
        return grouped.select(
            "doc_id",
            _restore_field_order(F.col("_sorted")).alias("spans"),
            "block_class_hist",
        )

    seg = span_rows.withColumn(
        "_seg", F.floor(F.col("offset") / F.lit(segment_spans)).cast("int")
    )
    stage1 = seg.groupBy("doc_id", "_seg").agg(
        F.array_sort(F.collect_list(_ordered_span_struct())).alias("_seg_spans"),
        F.count(F.lit(1)).alias("_n"),
        F.collect_list("block_class").alias("_classes"),
    )
    stage2 = stage1.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_seg", "_seg_spans"))),
                lambda x: x["_seg_spans"],
            )
        ).alias("_sorted"),
        hist_of(F.flatten(F.collect_list("_classes"))).alias("block_class_hist"),
    )
    return stage2.select(
        "doc_id",
        _restore_field_order(F.col("_sorted")).alias("spans"),
        "block_class_hist",
    )


def with_doc_metadata(reassembled: DataFrame) -> DataFrame:
    """Adds the per-doc derived columns (FIXTURES.md §3)."""
    texts = F.transform("spans", lambda s: s["text"])
    doc_text = F.array_join(
        F.filter(texts, lambda t: t.isNotNull() & (t != F.lit(""))), "\n\n"
    )
    meta = _doc_meta_udf(doc_text, F.col("block_class_hist"))
    return reassembled.withColumn("_m", meta).select(
        "doc_id",
        "spans",
        "block_class_hist",
        F.col("_m.formatted_text").alias("formatted_text"),
        F.col("_m.lang").alias("lang"),
        F.col("_m.structure").alias("structure"),
        F.col("_m.structured_info").alias("structured_info"),
        F.col("_m.structured_typed").alias("structured_typed"),
        F.col("_m.summary").alias("summary"),
        F.col("_m.key_insights").alias("key_insights"),
        F.col("_m.confidence").alias("confidence"),
        F.col("_m.confidence_level").alias("confidence_level"),
        F.col("_m.status").alias("status"),
    )


_SPAN_STRUCT_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

_DOC_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(_SPAN_STRUCT_TYPE)),
        StructField("block_class_hist", MapType(StringType(), IntegerType())),
        StructField("formatted_text", StringType()),
        StructField("lang", StringType()),
        StructField("structure", StringType()),
        StructField("structured_info", MapType(StringType(), StringType())),
        StructField("structured_typed", _TYPED_INFO_TYPE),
        StructField("summary", StringType()),
        StructField("key_insights", ArrayType(StringType())),
        StructField("confidence", DoubleType()),
        StructField("confidence_level", StringType()),
        StructField("status", StringType()),
    ]
)


def reassemble_raw(span_rows: DataFrame, two_phase: bool = False,
                   segment_spans: int = SEGMENT_SPANS) -> DataFrame:
    """Collect each doc's RAW spans into one array — unsorted: the
    fused doc stage sorts by offset in Python (cheaper than a JVM
    array_sort + field-reorder round trip). This is the pipeline's
    single wide operation; when the input is already hash-partitioned
    by doc_id (or derived narrowly from doc-shaped rows, which
    Generate preserves), EnsureRequirements inserts NO exchange.

    ``two_phase``: mega-doc skew path — pre-collect per
    (doc_id, offset // segment_spans) so no single shuffle-map task
    buffers a mega-doc's full span list; the second agg merges a few
    hundred segment arrays per doc. (The final per-doc row is still
    whole — a doc must fit an executor either way; two-phase bounds
    the *shuffle* memory, same as the staged pipeline's plan.)"""
    span_struct = F.struct("kind", "text", "media_ref", "offset")
    if not two_phase:
        return span_rows.groupBy("doc_id").agg(
            F.collect_list(span_struct).alias("spans")
        )
    seg = span_rows.withColumn(
        "_seg", F.floor(F.col("offset") / F.lit(segment_spans)).cast("int")
    )
    stage1 = seg.groupBy("doc_id", "_seg").agg(
        F.collect_list(span_struct).alias("_seg_spans")
    )
    return stage1.groupBy("doc_id").agg(
        F.flatten(F.collect_list("_seg_spans")).alias("spans")
    )


def fused_doc_stage(assembled: DataFrame,
                    max_doc_spans: int | None = None,
                    max_doc_bytes: int | None = None) -> DataFrame:
    """classify + clean + reassembly-order + all doc metadata in ONE
    Arrow round trip per batch of whole documents, by running the
    golden executable spec (`golden.process_document`) directly —
    output equality with the staged pipeline is by construction.

    Why fused: ArrowEvalPython does not propagate outputPartitioning,
    so any pandas-UDF stage *before* the reassembly groupBy forces a
    second full-payload shuffle; running every Python rule *after* the
    single raw-span shuffle keeps the plan at one exchange total and
    one Arrow crossing instead of two.

    ``max_doc_spans`` / ``max_doc_bytes``: per-doc work cap
    (``golden.truncate_doc_spans`` — the reference's 16 MB ingest
    clamp re-expressed as a per-document lever). Default off: output
    stays byte-identical to the uncapped spec. This bounds the
    straggler cost of pathological mega-docs (BASELINE.md §skew: one
    200k-span doc = 18 s in a single Python task); for LOSSLESS
    mega-doc handling use :func:`run_pipeline_skew_routed`.

    Truncation observability (r3 VERDICT #6): when either cap is set,
    the output gains an ``n_truncated_spans`` int column (spans the
    clamp dropped for that doc — the cleaned spans array has exactly
    one entry per KEPT span, so the count is input minus output
    length) which :func:`~smartglass_ocr_spark.checkpoint.
    run_extraction_job` rolls into the per-partition metrics table, so
    a 100-TB run can audit what the clamp cost. Capless runs keep the
    byte-identical uncapped schema.

    One Python task runs per partition of ``assembled``, and each pays
    a fixed worker set-up (BASELINE.md §per-task set-up); the caller
    picks the count — :func:`run_pipeline_fused` trims small shuffles
    to one task per core, :func:`~smartglass_ocr_spark.checkpoint.
    run_extraction_job` keeps its scan's splits."""
    capped = max_doc_spans is not None or max_doc_bytes is not None

    def run(batches):
        from smartglass_ocr_spark.golden import process_document

        for pdf in batches:
            # Arrow hands each struct element as a dict with exactly
            # the span keys — feed them to the spec directly, no
            # per-span rebuild
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                row = process_document(
                    {"doc_id": doc_id, "spans": spans},
                    max_spans=max_doc_spans,
                    max_bytes=max_doc_bytes,
                )
                if capped:
                    row["n_truncated_spans"] = len(spans) - len(row["spans"])
                rows.append(row)
            yield pd.DataFrame(rows)

    schema = _DOC_OUT_SCHEMA
    if capped:
        schema = StructType(
            _DOC_OUT_SCHEMA.fields + [StructField("n_truncated_spans", IntegerType())]
        )
    return assembled.mapInPandas(run, schema)


def _planned_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, from planning alone
    (nothing runs). Under AQE it is the initial plan's count, before
    any runtime coalescing; 0 when the plan does not know it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.outputPartitioning().numPartitions()


def run_pipeline_fused(span_rows: DataFrame,
                       partitions: int | None = None,
                       two_phase: bool = False,
                       max_doc_spans: int | None = None,
                       max_doc_bytes: int | None = None) -> DataFrame:
    """Optimized end-to-end pipeline: ONE shuffle (raw-span
    reassembly), ONE Arrow crossing (fused classify/clean/meta).
    Bit-identical output to ``run_pipeline_rows(with_metadata=True)``
    (asserted in tests). Use the staged pipeline when intermediate
    span rows are needed relationally; use this for throughput.
    ``two_phase`` enables the mega-doc segment pre-assembly;
    ``max_doc_spans``/``max_doc_bytes`` cap per-doc work (see
    :func:`fused_doc_stage`).

    Few short tasks per core: when the reassembly shuffle plans more
    than ``defaultParallelism`` but at most twice as many partitions,
    the doc stage is coalesced to ``defaultParallelism`` — one Python
    task per core — since each Python task pays a fixed worker set-up
    (≈0.1–0.24 s on a 4-vCPU host: on CPython 3.11
    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and every cached ``zipimporter``
    re-reads its archive; BASELINE.md §per-task set-up), and 2×cores
    partitions paid two waves of it per pass. ``coalesce`` is narrow:
    the plan keeps its single hash exchange, the final aggregate still
    runs once per shuffle partition inside the merged task, and
    ``mapInPandas`` still streams bounded Arrow batches. The gain was
    measured only on ``local[4]`` with 8 partitions and passes of a
    few seconds (both gated benchmark workloads have that shape). Larger
    shuffles keep every partition as its own task, so retries,
    speculation and dynamic allocation keep their granularity. The
    cost side: a partition holding a mega doc shares its task with a
    neighbour; route skewed input through
    :func:`run_pipeline_skew_routed`."""
    if partitions:
        span_rows = span_rows.repartition(partitions, "doc_id")
    assembled = reassemble_raw(span_rows, two_phase=two_phase)
    cores = assembled.sparkSession.sparkContext.defaultParallelism
    if cores < _planned_partitions(assembled) <= 2 * cores:
        assembled = assembled.coalesce(cores)
    return fused_doc_stage(
        assembled,
        max_doc_spans=max_doc_spans,
        max_doc_bytes=max_doc_bytes,
    )


def run_pipeline_skew_routed(span_rows: DataFrame,
                             mega_doc_spans: int = 32768,
                             partitions: int | None = None) -> DataFrame:
    """Mega-doc straggler mitigation, LOSSLESS (r2 VERDICT #3): docs
    at or under ``mega_doc_spans`` spans take the fused one-exchange
    path; heavier docs are routed through the STAGED path, where the
    dominant per-doc cost — per-span classify/clean, ~0.7 ms/span, so
    a 200k-span doc is ~2 min of Python in ONE fused task — runs
    distributed across the cluster (a round-robin repartition spreads
    the mega spans; the two-phase re-assembly shuffle touches only
    the mega subset). Output is bit-identical to the fused path
    (asserted in tests): per-span classification is context-free and
    the staged metadata stage is in lockstep with the golden spec.

    Routing: one cheap partial-combining count agg finds the mega
    doc_ids (compact (doc_id, n) rows); the — by definition of a
    heavy TAIL — small id set is persisted (it is tiny and both
    branch plans reference it; the cache lives for the session, the
    caller-owned-unpersist contract) and BROADCAST-joined back as a
    routing flag (r4 VERDICT #2: the former collected-``isin`` form
    shipped up to 100k id literals in every task closure of both
    branches and needed a hard ``max_mega_docs`` ceiling; the join
    form has no driver collect, no closure payload, and no ceiling),
    so each branch shuffles only its own subset exactly once and no
    exchange-reuse gamble is taken (r2 finding: AQE does not reuse
    union-branch exchanges). A NULL ``doc_id`` never matches the
    join key, so such rows fall through to the small branch exactly
    as the old ``coalesce(isin, False)`` routing sent them (pinned
    in tests). The mega branch is: round-robin spread
    -> Arrow classify/clean -> ``applyInPandas`` per doc running only
    the per-doc metadata tail (``golden.document_metadata``) —
    deliberately NOT the staged ``reassemble``/``with_doc_metadata``
    pair (interpreted HOF hist-fold + field-reorder lambdas cost more
    per mega span than the classification they save), and not a JVM
    ``collect_list`` either (flat columnar Arrow transfer into the
    grouped pandas stage benched ~15% faster than building the span
    structs JVM-side and converting the nested array).

    The residual serial floor per mega-doc is the per-doc metadata
    pass (format/structure/summary — linear passes over the joined
    text); the ``max_doc_*`` cap levers bound that if a tail of
    pathological documents makes even the linear passes matter."""
    if partitions:
        span_rows = span_rows.repartition(partitions, "doc_id")
    mega_ids = (
        span_rows.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > mega_doc_spans)
        .select("doc_id")
        .persist()
    )
    # the count() both answers "any megas at all?" and eagerly fills
    # the cache so the agg over span_rows runs ONCE, not once per
    # branch plan (AQE does not reuse union-branch exchanges)
    n_mega = mega_ids.count()
    if n_mega == 0:
        mega_ids.unpersist()
        return run_pipeline_fused(span_rows)
    # NULL-SAFE routing: a NULL doc_id never matches the broadcast
    # join key, leaves _mega NULL, and coalesce(False) sends the row
    # to the small branch, where the fused groupBy keeps such rows as
    # one group exactly like an unrouted run would (r3 ADVICE).
    # The broadcast hint is gated on the measured id count: a mis-set
    # threshold that catches millions of "megas" must degrade to a
    # shuffle join, not force an unbounded driver collect (the old
    # ceiling's failure mode without its hard error). Above the gate
    # the shuffle-hash hint also keeps the planner from broadcasting
    # the ids on its own size estimate.
    flag = mega_ids.withColumn("_mega", F.lit(True))
    if n_mega <= MEGA_BROADCAST_MAX_IDS:
        flag = F.broadcast(flag)
    else:
        flag = flag.hint("shuffle_hash")
    routed = span_rows.join(flag, "doc_id", "left")
    is_mega = F.coalesce(F.col("_mega"), F.lit(False))
    small_out = run_pipeline_fused(
        routed.filter(~is_mega).select(*span_rows.columns)
    )
    n_parts = span_rows.sparkSession.sparkContext.defaultParallelism
    cleaned = classify_and_clean(
        routed.filter(is_mega).select(*span_rows.columns).repartition(n_parts)
    )

    def meta_tail(key, pdf):
        # per-doc metadata tail over ALREADY classified flat span rows:
        # sort by offset, fold the class histogram, and run the exact
        # post-classification half of the golden spec — output equals
        # the fused path bit-for-bit (asserted in tests)
        from smartglass_ocr_spark.golden import document_metadata

        pdf = pdf.sort_values("offset")
        out_spans = [
            {"kind": k, "text": t, "media_ref": m, "offset": int(o)}
            for k, t, m, o in zip(
                pdf["kind"].tolist(), pdf["text"].tolist(),
                pdf["media_ref"].tolist(), pdf["offset"].tolist(),
            )
        ]
        # histogram in span-offset iteration order (NOT value_counts's
        # count-descending order): golden.process_document inserts keys
        # at first occurrence in span order, and the routed output is
        # meant to be byte-identical even under a serialization that
        # preserves dict order (r3 ADVICE)
        hist: dict[str, int] = {}
        for c in pdf["block_class"].tolist():
            hist[c] = hist.get(c, 0) + 1
        return pd.DataFrame([document_metadata(key[0], out_spans, hist)])

    mega_out = cleaned.groupBy("doc_id").applyInPandas(meta_tail, _DOC_OUT_SCHEMA)
    return small_out.unionByName(mega_out)


def with_organized_text(pipeline_out: DataFrame) -> DataFrame:
    """Opt-in ``organize_text`` stage (the reference's dead-code
    ``_enhance_text_organization`` family, rules/format.py): adds an
    ``organized_text`` column keyed by each doc's dominant special
    block class. NOT part of the golden path — the reference never
    runs it — but exposed for users who want the per-class line
    machines applied at scale. One Arrow crossing, off the equality
    path (same pattern as :func:`with_markdown`)."""

    def run(batches):
        from smartglass_ocr_spark.rules.format import organize_text

        special = ("id_card", "receipt", "form", "table")
        for pdf in batches:
            organized = []
            for row in pdf.to_dict("records"):
                hist = row.get("block_class_hist") or {}
                dominant = max(
                    special, key=lambda c: (hist.get(c, 0), -special.index(c))
                )
                cls = dominant if hist.get(dominant, 0) else "content"
                organized.append(organize_text(row.get("formatted_text") or "", cls))
            pdf = pdf.copy()
            pdf["organized_text"] = organized
            yield pdf

    schema = StructType(
        pipeline_out.schema.fields + [StructField("organized_text", StringType())]
    )
    return pipeline_out.mapInPandas(run, schema)


def with_markdown(pipeline_out: DataFrame) -> DataFrame:
    """Adds the F14 rendered-report column (rules.markdown) to a
    pipeline output frame — one Arrow crossing, off the equality
    path. At scale this is the column written to the report sink
    (ref sink S4, one .md file per doc, becomes one column in the
    results table)."""

    def run(batches):
        from smartglass_ocr_spark.rules.markdown import render_markdown

        for pdf in batches:
            pdf = pdf.copy()
            pdf["markdown"] = [
                render_markdown(row) for row in pdf.to_dict("records")
            ]
            yield pdf

    schema = StructType(pipeline_out.schema.fields + [StructField("markdown", StringType())])
    return pipeline_out.mapInPandas(run, schema)


def run_pipeline_rows(span_rows: DataFrame, two_phase: bool = False,
                      with_metadata: bool = True,
                      partitions: int | None = None) -> DataFrame:
    """Pipeline from already-exploded span rows (doc_id, kind, text,
    media_ref, offset) -> cleaned + reassembled (+ metadata) output.
    Start here when the source is row-shaped (e.g.
    :func:`~smartglass_ocr_spark.corpus.span_rows_from_flat`) — it
    skips the array build + explode round trip.

    ``partitions``: hash-repartition by doc_id up front. Set this when
    the source arrives in too few splits (small files, a crossJoin-
    replicated input, a single kafka partition): the pandas-UDF stages
    then run at full parallelism AND the reassembly groupBy reuses the
    hash partitioning, so the repartition replaces — not adds to — the
    aggregation shuffle. Leave None when the scan already yields
    enough splits (the 100 TB case: parquet row-group splits)."""
    if partitions:
        span_rows = span_rows.repartition(partitions, "doc_id")
    cleaned = classify_and_clean(span_rows)
    out = reassemble(cleaned, two_phase=two_phase)
    if with_metadata:
        out = with_doc_metadata(out)
    return out


def run_pipeline(documents: DataFrame, two_phase: bool = False,
                 with_metadata: bool = True) -> DataFrame:
    """documents(doc_id, spans array) -> cleaned + reassembled
    (+ metadata) output."""
    return run_pipeline_rows(
        explode_spans(documents), two_phase=two_phase, with_metadata=with_metadata
    )


def extracted_span_rows(documents: DataFrame | None = None,
                        span_rows: DataFrame | None = None) -> DataFrame:
    """Flat per-span output (doc_id, order, kind, text, media_ref,
    block_class) — the exploded view of the pipeline for relational
    consumers; order = rank of offset within doc (dense 0..n-1)."""
    from pyspark.sql.window import Window

    if span_rows is None:
        span_rows = explode_spans(documents)
    cleaned = classify_and_clean(span_rows)
    w = Window.partitionBy("doc_id").orderBy("offset")
    return cleaned.withColumn("order", F.row_number().over(w) - 1).select(
        "doc_id", "order", "kind", "text", "media_ref", "block_class", "offset"
    )
