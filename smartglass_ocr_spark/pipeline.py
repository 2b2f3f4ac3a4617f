"""The Spark extraction pipeline (SURVEY.md §7.1 slice, widened).

One doc path over span rows ``(doc_id, kind, text, media_ref,
offset)`` — from :func:`explode_spans` over ``documents(doc_id, spans
array<struct<kind,text,media_ref,offset>>)`` or straight from
:func:`~smartglass_ocr_spark.corpus.span_rows_from_flat`:

1. ``reassemble_raw``  — groupBy(doc_id) + ``collect_list`` of the raw
   spans: the W1 reassembly shuffle, the path's only exchange.
2. ``fused_doc_stage`` — ONE ``mapInPandas`` crossing running the
   golden spec (``golden.process_document``) per doc: offset sort,
   per-span classify/clean, and every per-doc column (lang,
   structure, summary, insights, confidence, status,
   structured_info, n_truncated_spans).

:func:`run_pipeline_fused` chains the two. Mega-doc skew (SURVEY.md
§4) has one lever, the ``max_doc_spans``/``max_doc_bytes`` cap. Every
doc output — capped or not, or written by the extraction job — has the
one schema ``_DOC_OUT_SCHEMA``, whose ``n_truncated_spans`` is 0
wherever no cap dropped a span.
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
        # spans the max_doc_* cap dropped (input minus output length)
        StructField("n_truncated_spans", IntegerType()),
    ]
)


def reassemble_raw(span_rows: DataFrame) -> DataFrame:
    """Collect each doc's RAW spans into one array — unsorted: the
    fused doc stage sorts by offset in Python (cheaper than a JVM
    array_sort + field-reorder round trip). This is the pipeline's
    single wide operation; when the input is already hash-partitioned
    by doc_id (or derived narrowly from doc-shaped rows, which
    Generate preserves), EnsureRequirements inserts NO exchange.

    A mega doc's row is whole here, as it must be for the doc stage
    anyway; its straggler cost is the per-span Python work, which the
    doc stage's ``max_doc_*`` cap bounds (BASELINE.md §Mega-doc
    handling without forks: a segmented pre-collect added a second
    exchange and no measurable wall-time or peak-memory saving)."""
    return span_rows.groupBy("doc_id").agg(
        F.collect_list(F.struct("kind", "text", "media_ref", "offset")).alias("spans")
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
    straggler cost of pathological mega-docs (one 200k-tiny-span doc
    ran 4.5–7.5 s in a single Python task, BASELINE.md §Mega-doc
    handling without forks). It is the only mega-doc lever (BASELINE.md
    §One doc path).

    Truncation observability (r3 VERDICT #6): every output row carries
    ``n_truncated_spans`` (spans the clamp dropped for that doc, 0
    when uncapped), which :func:`~smartglass_ocr_spark.checkpoint.
    run_extraction_job` rolls into the per-partition metrics table, so
    a 100-TB run can audit what the clamp cost. The schema is the same
    capped or not, so runs with different caps can share an output
    path.

    One Python task runs per partition of ``assembled``, and each pays
    a fixed worker set-up (BASELINE.md §per-task set-up); the caller
    picks the count — :func:`run_pipeline_fused` trims small shuffles
    to one task per core, :func:`~smartglass_ocr_spark.checkpoint.
    run_extraction_job` keeps its scan's splits."""

    def run(batches):
        from smartglass_ocr_spark.golden import process_document

        for pdf in batches:
            # Arrow hands each struct element as a dict with exactly
            # the span keys — feed them to the spec directly, no
            # per-span rebuild
            rows = [
                process_document(
                    {"doc_id": doc_id, "spans": spans},
                    max_spans=max_doc_spans,
                    max_bytes=max_doc_bytes,
                )
                for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])
            ]
            # a doc without spans has no row; a batch of only such docs
            # yields nothing rather than a frame with no columns
            rows = [r for r in rows if r is not None]
            if rows:
                yield pd.DataFrame(rows)

    return assembled.mapInPandas(run, _DOC_OUT_SCHEMA)


def _planned_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, from planning alone
    (nothing runs). Under AQE it is the initial plan's count, before
    any runtime coalescing; 0 when the plan does not know it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.outputPartitioning().numPartitions()


def run_pipeline_fused(span_rows: DataFrame,
                       max_doc_spans: int | None = None,
                       max_doc_bytes: int | None = None) -> DataFrame:
    """The end-to-end doc pipeline: ONE shuffle (raw-span
    reassembly), ONE Arrow crossing (fused classify/clean/meta).
    Output rows equal ``golden.golden_outputs`` field for field
    (asserted in tests). For per-span rows without the doc metadata
    use :func:`extracted_span_rows`. ``max_doc_spans``/``max_doc_bytes``
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
    neighbour; bound skewed input with the
    ``max_doc_spans``/``max_doc_bytes`` cap."""
    assembled = reassemble_raw(span_rows)
    cores = assembled.sparkSession.sparkContext.defaultParallelism
    if cores < _planned_partitions(assembled) <= 2 * cores:
        assembled = assembled.coalesce(cores)
    return fused_doc_stage(
        assembled,
        max_doc_spans=max_doc_spans,
        max_doc_bytes=max_doc_bytes,
    )


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
    block_class, offset) — the exploded view of the pipeline for
    relational consumers, each span classified and cleaned in one Arrow
    round trip. ``order`` (0..n-1 in a doc) is the doc output's span
    order, ``golden.reading_order`` on the raw span: offset ascending,
    NULL last, then kind, text and media_ref ascending, NULL first
    (Spark's binary UTF-8 string order is Python's code-point order)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("offset").asc_nulls_last(),
        *[F.col(c).asc_nulls_first() for c in ("kind", "text", "media_ref")],
    )
    result = _classify_clean_udf(F.col("kind"), F.col("text"))
    return (
        span_rows.withColumn("order", F.row_number().over(w) - 1)
        .withColumn("_cc", result)
        .select(
            "doc_id",
            "order",
            "kind",
            F.col("_cc.clean_text").alias("text"),
            "media_ref",
            F.col("_cc.block_class").alias("block_class"),
            "offset",
        )
    )
