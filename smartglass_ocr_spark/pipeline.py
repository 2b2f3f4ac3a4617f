"""The Spark extraction pipeline (SURVEY.md §7.1 slice, widened).

One doc path over span rows ``(doc_id, kind, text, media_ref,
offset)`` — from :func:`explode_spans` over ``documents(doc_id, spans
array<struct<kind,text,media_ref,offset>>)`` or straight from
:func:`~smartglass_ocr_spark.corpus.span_rows_from_flat`:

1. ``reassemble_raw``  — groupBy(doc_id) + ``collect_list`` of the raw
   spans: the W1 reassembly shuffle, the path's only exchange.
   ``two_phase=True`` pre-collects per ``(doc_id, offset // segment)``
   so no shuffle task buffers a mega-document's whole span list
   (SURVEY.md §4 skew plan).
2. ``fused_doc_stage`` — ONE ``mapInPandas`` crossing running the
   golden spec (``golden.process_document``) per doc: offset sort,
   per-span classify/clean, and every per-doc column (lang,
   structure, summary, insights, confidence, status,
   structured_info).

:func:`run_pipeline_fused` chains the two; :func:`run_pipeline_skew_routed`
sends heavy-tail mega docs through a distributed per-span
``classify_and_clean`` branch and the golden per-doc tail instead.
Per-span semantics = ``smartglass_ocr_spark.golden`` (the executable
spec); reference citations live in the rules modules.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, MapType, StringType, StructField,
    StructType,
)

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
    only the *shuffle* memory.)"""
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
    output equality with the spec is by construction.

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
    """The end-to-end doc pipeline: ONE shuffle (raw-span
    reassembly), ONE Arrow crossing (fused classify/clean/meta).
    Output rows equal ``golden.golden_outputs`` field for field
    (asserted in tests). For per-span rows without the doc metadata
    use :func:`extracted_span_rows`. ``two_phase`` enables the
    mega-doc segment pre-assembly; ``max_doc_spans``/``max_doc_bytes``
    cap per-doc work (see :func:`fused_doc_stage`).

    Few short tasks per core: when the reassembly shuffle plans more
    than ``defaultParallelism`` but at most twice as many partitions,
    the doc stage is coalesced to ``defaultParallelism`` — one Python
    task per core — since each wave of Python tasks pays a fixed worker
    set-up, and 2×cores partitions paid two waves per pass. On a
    4-vCPU host a trivial ``mapInPandas`` pass costs 0.20 s with 4
    tasks and 0.25 s with 8 under :mod:`smartglass_ocr_spark.daemon`,
    against 0.44 s and 0.63 s under the stock daemon, whose workers
    re-read pyspark.zip and the spark-core jar on every task
    (BASELINE.md §Per-task set-up); with the zip-free daemon the
    coalesce still won 3/3 corpus_unique benchmark pairs. ``coalesce``
    is narrow: the plan keeps its single hash exchange, the final
    aggregate still runs once per shuffle partition inside the merged
    task, and ``mapInPandas`` still streams bounded Arrow batches. The
    gain was
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
    path; heavier docs take a mega branch where the dominant per-doc
    cost — per-span classify/clean, ~0.7 ms/span, so a 200k-span doc
    is ~2 min of Python in ONE fused task — runs distributed across
    the cluster (a round-robin repartition spreads the mega spans;
    the per-doc regrouping shuffle touches only the mega subset).
    Output is bit-identical to the fused path (asserted in tests):
    per-span classification is context-free and the per-doc tail is
    the golden spec's own ``golden.document_metadata``.

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
    deliberately not a JVM ``array_sort``/``collect_list`` (an
    interpreted HOF hist-fold + field-reorder lambdas cost more per
    mega span than the classification they save, and flat columnar
    Arrow transfer into the grouped pandas stage benched ~15% faster
    than building the span structs JVM-side and converting the nested
    array).

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
        from smartglass_ocr_spark.golden import dominant_class
        from smartglass_ocr_spark.rules.format import organize_text

        for pdf in batches:
            organized = []
            for row in pdf.to_dict("records"):
                cls = dominant_class(row.get("block_class_hist") or {})
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


def extracted_span_rows(span_rows: DataFrame) -> DataFrame:
    """Flat per-span output (doc_id, order, kind, text, media_ref,
    block_class) — the exploded view of the pipeline for relational
    consumers; order = rank of offset within doc (dense 0..n-1)."""
    from pyspark.sql.window import Window

    cleaned = classify_and_clean(span_rows)
    w = Window.partitionBy("doc_id").orderBy("offset")
    return cleaned.withColumn("order", F.row_number().over(w) - 1).select(
        "doc_id", "order", "kind", "text", "media_ref", "block_class", "offset"
    )
