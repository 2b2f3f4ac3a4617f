"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed with Arrow-batched ``mapInPandas`` stages.

The reference decodes real images with OpenCV/PIL and rasterizes PDFs
(`lib/image_processing.py:30-101` analyze, `lib/image_processing.py:971-988`
max-dimension clamp, `lib/smartglass_ocr.py:912-993` PDF page
rasterize).  This container has no image/audio libraries, so the
*decode* step is a clearly-marked deterministic fake (or PIL when
importable) — but everything Spark-side is real and tested: the
schema, the partitioning, the mapInPandas signatures, the Arrow batch
shapes and the frame-sampling explode.

Design for 100 TB:

- media payloads live in their own table keyed by ``media_ref``
  (spans carry only the reference — the north-rule passthrough), so
  the text pipeline never shuffles image bytes;
- per-media metadata is a typed struct column, derivable/filterable
  JVM-side (partition pruning on ``media_type`` works);
- decode/feature stages are ``mapInPandas`` so one task streams many
  Arrow batches without materializing the partition;
- frame sampling is a JVM-side ``explode(sequence(...))`` — the
  fan-out happens before Python ever sees a row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

MEDIA_KINDS = ("image", "video", "audio")

_CODECS = {"image": "png", "video": "h264", "audio": "pcm16"}


def _meta_field(ref: Column, salt: str, lo: int, hi: int, meta_hash: str) -> Column:
    """Deterministic int in [lo, hi) derived from the media_ref —
    pure JVM expression so the catalog needs no Python and no RNG.
    ``meta_hash="md5"`` uses the 32-bit md5-prefix construction that
    DuckDB reproduces exactly (oracle mode); ``"xxhash64"`` is the
    cheaper flagship default."""
    key = F.concat(ref, F.lit(":" + salt))
    if meta_hash == "xxhash64":
        h = F.xxhash64(key)
    else:
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return (F.pmod(h, F.lit(hi - lo)) + lo).cast("int")


def media_catalog(source: DataFrame, meta_hash: str = "xxhash64") -> DataFrame:
    """Media table derived from the spans corpus: one row per media
    span, with a deterministic binary payload (64 bytes = unhex of
    sha2-512 of the ref — a stand-in for real object-store bytes) and
    typed metadata. At production scale this table is the ingest
    target for the actual bytes; everything downstream only depends on
    (media_ref, media_type, content, meta).

    ``source`` may be the array-shaped documents table (a ``spans``
    column — exploded here) or already-exploded span rows; prefer
    rows derived via ``corpus.span_rows_from_flat`` when available
    (exploding an expression-derived array re-evaluates interpreted
    lambdas under GenerateExec).

    ``meta_hash``: hash behind the synthetic typed metadata —
    ``"md5"`` makes every meta field DuckDB-reproducible (the
    contract oracle); the operator logic is hash-agnostic."""
    if meta_hash not in ("xxhash64", "md5"):
        raise ValueError(f"meta_hash must be 'xxhash64' or 'md5', got {meta_hash!r}")
    ref = F.col("media_ref")
    rows = source.select(F.inline("spans")) if "spans" in source.columns else source
    media = (
        rows.filter(F.col("kind").isin(*MEDIA_KINDS) & ref.isNotNull())
        .select(ref, F.col("kind").alias("media_type"))
        .dropDuplicates(["media_ref"])
    )
    is_img = F.col("media_type") == "image"
    is_aud = F.col("media_type") == "audio"
    content = F.unhex(F.sha2(ref, 512))
    codec = (
        F.when(is_img, F.lit(_CODECS["image"]))
        .when(is_aud, F.lit(_CODECS["audio"]))
        .otherwise(F.lit(_CODECS["video"]))
    )
    return media.select(
        "media_ref",
        "media_type",
        content.alias("content"),
        F.struct(
            F.when(~is_aud, _meta_field(ref, "w", 64, 4096, meta_hash)).alias("width"),
            F.when(~is_aud, _meta_field(ref, "h", 64, 4096, meta_hash)).alias("height"),
            F.when(~is_img, _meta_field(ref, "d", 1000, 600_000, meta_hash)).alias("duration_ms"),
            F.when(is_aud, F.lit(16_000).cast("int")).alias("sample_rate"),
            codec.alias("codec"),
            F.length(content).cast("int").alias("n_bytes"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------
# decode / feature extraction (mapInPandas; decode itself is stubbed)
# --------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = (
    "media_ref string, width int, height int, aspect_ratio double, "
    "brightness double, contrast double, edge_density double, decoder string"
)


def _fake_decode_stats(content: bytes) -> tuple[float, float, float]:
    """STUB decode: deterministic byte-level statistics standing in
    for the reference's cv2 image stats (`lib/image_processing.py:30-101`
    brightness/contrast/edge_density). Replace with PIL/cv2 decode in a
    real deployment; the Spark plumbing around it does not change."""
    if not content:
        return 0.0, 0.0, 0.0
    b = memoryview(content)
    n = len(b)
    mean = sum(b) / n
    var = sum((x - mean) ** 2 for x in b) / n
    edges = sum(1 for i in range(1, n) if abs(b[i] - b[i - 1]) > 32) / max(1, n - 1)
    return round(mean, 4), round(var ** 0.5, 4), round(edges, 4)


def image_features(media: DataFrame) -> DataFrame:
    """Per-image analyze stage (reference `analyze_image`,
    `lib/image_processing.py:30-101`) as a mapInPandas stream: each
    Arrow batch in, one feature batch out; no partition-wide
    materialization. Real decode is stubbed (no image libs in this
    container) — see :func:`_fake_decode_stats`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - PIL absent in this container
            from PIL import Image  # noqa: F401

            decoder = "pil"
        except Exception:
            decoder = "stub"
        for pdf in batches:
            stats = [_fake_decode_stats(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "width": pdf["width"].astype("int32"),
                    "height": pdf["height"].astype("int32"),
                    "aspect_ratio": (pdf["width"] / pdf["height"]).round(4),
                    "brightness": [s[0] for s in stats],
                    "contrast": [s[1] for s in stats],
                    "edge_density": [s[2] for s in stats],
                    "decoder": decoder,
                }
            )

    imgs = media.filter(F.col("media_type") == "image").select(
        "media_ref", "content", F.col("meta.width").alias("width"), F.col("meta.height").alias("height")
    )
    return imgs.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def resize_plan(media: DataFrame, max_dim: int = 3000) -> DataFrame:
    """Aspect-preserving clamp to ``max_dim`` (reference
    `lib/image_processing.py:971-988`). The *geometry* is a pure JVM
    expression; only the (stubbed) re-encode would run in Python, so
    at scale the no-op rows (already small enough) never cross the
    Arrow boundary — filter first, resize the remainder."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.lit(float(max_dim)) / F.greatest(w, h)
    needs = F.greatest(w, h) > max_dim
    return media.filter(F.col("media_type") == "image").select(
        "media_ref",
        w.alias("width"),
        h.alias("height"),
        needs.alias("needs_resize"),
        F.when(needs, F.round(w * scale).cast("int")).otherwise(w).alias("target_width"),
        F.when(needs, F.round(h * scale).cast("int")).otherwise(h).alias("target_height"),
    )


def sample_frames(media: DataFrame, every_ms: int = 10_000) -> DataFrame:
    """Video → frame rows at a fixed stride: ``explode(sequence(0,
    duration, step))`` entirely JVM-side, so a 10-minute video becomes
    ~60 rows *before* any Python decode runs. frame_ref is the stable
    per-frame key for a downstream decode/caption stage."""
    vids = media.filter(F.col("media_type") == "video")
    return vids.select(
        "media_ref",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    ).select(
        "media_ref",
        "duration_ms",
        "frame_ts_ms",
        (F.col("frame_ts_ms") / every_ms).cast("int").alias("frame_idx"),
        F.concat_ws("#", "media_ref", F.col("frame_ts_ms").cast("string")).alias("frame_ref"),
    )


def audio_chunks(media: DataFrame, chunk_ms: int = 30_000) -> DataFrame:
    """Audio → fixed windows for a downstream ASR stage; same JVM-side
    fan-out pattern as :func:`sample_frames`."""
    aud = media.filter(F.col("media_type") == "audio")
    return aud.select(
        "media_ref",
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms") - 1, F.lit(chunk_ms))
        ).alias("chunk_start_ms"),
    ).select(
        "media_ref",
        "sample_rate",
        "chunk_start_ms",
        F.least(F.col("chunk_start_ms") + chunk_ms, F.col("duration_ms")).alias("chunk_end_ms"),
    )
