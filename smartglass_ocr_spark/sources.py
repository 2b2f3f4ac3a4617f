"""Sources & sinks for the span corpus (SURVEY.md §2.1 S1-S5).

The canonical storage is parquet/Iceberg, but a 100 TB ingest edge
sees more shapes: JSONL crawl dumps, CSV flat exports. Readers here
pin the schema explicitly — streaming and 10^12-row batch scans must
never pay (or trust) schema inference — and the one writer round-trips
losslessly (verified in tests). Bucketed managed tables are written
by ``ops.storage.write_bucketed_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from smartglass_ocr_spark.corpus import SPAN_STRUCT

DOCS_SCHEMA = f"doc_id string, spans array<{SPAN_STRUCT}>"
FLAT_SCHEMA = "doc_id bigint, text string"


def read_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Span-corpus reader, schema pinned. ``fmt``: parquet | json
    (JSONL, one doc per line). CSV cannot carry the nested spans
    array — use :func:`read_flat_documents` for flat exports."""
    if fmt == "parquet":
        return spark.read.schema(DOCS_SCHEMA).parquet(path)
    if fmt == "json":
        return spark.read.schema(DOCS_SCHEMA).json(path)
    raise ValueError(f"unsupported documents format: {fmt}")


def read_flat_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Flat (doc_id, text) reader: parquet | csv | json. CSV uses
    explicit quoting/escaping so embedded newlines survive."""
    if fmt == "parquet":
        return spark.read.schema(FLAT_SCHEMA).parquet(path)
    if fmt == "json":
        return spark.read.schema(FLAT_SCHEMA).json(path)
    if fmt == "csv":
        return (
            spark.read.schema(FLAT_SCHEMA)
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(path)
        )
    raise ValueError(f"unsupported flat format: {fmt}")


def write_documents(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """The one S1 writer, overwriting ``path``: parquet | json for
    either shape, csv for flat ``(doc_id, text)`` frames, quoted and
    escaped as :func:`read_flat_documents` reads them back (Spark's
    csv writer rejects a nested spans array)."""
    w = df.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", "true").option("quote", '"').option("escape", '"').csv(path)
    else:
        raise ValueError(f"unsupported documents format: {fmt}")
