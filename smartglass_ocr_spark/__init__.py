"""smartglass_ocr_spark — a brand-new PySpark-native document
extraction engine with the query/data-processing capabilities of
zachran-recodex/smartglass-ocr-api, re-expressed Spark-first.

The reference processes one image/PDF per HTTP request through OCR +
rule-based post-processing (``/root/reference/lib/smartglass_ocr.py``).
This engine runs the same *text-level* semantics batched over an
Iceberg/parquet table of interleaved text+media documents::

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

as one doc path: explode spans -> reassemble per doc_id (the one
shuffle) -> classify, clean (per-block-class regex pipelines), offset
order and per-doc metadata in one Arrow crossing running the golden
spec, guaranteeing span-sequence equality (kind, text, media_ref,
order) against golden outputs.

Layout:
- ``rules/``    pure-Python rule modules — the executable spec shared
                by the golden generator and the pandas UDFs.
- ``pipeline``  the Spark doc path (reassemble raw spans, then the
                fused golden doc stage; a per-doc span/byte cap for mega docs).
- ``corpus``    deterministic synthetic spans-corpus generators.
- ``golden``    pure-Python golden generator (reference semantics).
- ``ops/``      training-data-scale operators: dedup (exact/minhash/
                simhash/jaccard), similarity search, text stats.
- ``checkpoint`` per-partition lineage/metrics + idempotent resume.
"""

__version__ = "0.1.0"
