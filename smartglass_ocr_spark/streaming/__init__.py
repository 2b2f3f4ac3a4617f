"""Structured Streaming surface of the engine.

The reference has NO streaming semantics (SURVEY.md §2.9): its async
task queue (`app/api/routes.py:263-391`, `:1036-1063`) is a latency
device, not a dataflow. This module is therefore additive capability,
built the Spark way:

- :func:`stream_documents` / :func:`stream_extract` — incremental
  ingest of span-corpus files; each doc-shaped micro-batch runs the
  SAME fused doc stage via ``foreachBatch``, with no reassembly
  shuffle (exactly-once per batch with a checkpointed source; every
  output column equals the batch run's in tests). This is how the
  10^12-doc corpus keeps extracting as new partitions land, without
  re-reading history.
- :func:`windowed_event_counts` — watermarked tumbling-window
  aggregation (late data bounded by the watermark).
- :func:`session_window_agg` — built-in ``session_window`` gap
  sessionization; works identically over batch frames (oracle-checked
  vs DuckDB) and streams.
"""

from smartglass_ocr_spark.streaming.pipeline import (
    running_user_totals,
    session_window_agg,
    stream_dedup_exact,
    stream_documents,
    stream_extract,
    windowed_event_counts,
)

__all__ = [
    "running_user_totals",
    "session_window_agg",
    "stream_dedup_exact",
    "stream_documents",
    "stream_extract",
    "windowed_event_counts",
]
