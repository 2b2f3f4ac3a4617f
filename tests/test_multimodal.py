"""Multimodal ops: schema, determinism, batch plumbing, fan-out.

The decode step is stubbed (no image libs in this container); these
tests pin the Spark-side contract — media table schema, mapInPandas
Arrow round trip, JVM-side frame/chunk fan-out, and every image span
finding its features by media_ref.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartglass_ocr_spark.corpus import docs_to_df, generate_docs
from smartglass_ocr_spark.ops import multimodal as mm


@pytest.fixture(scope="module")
def docs_df(spark):
    return docs_to_df(spark, generate_docs(n_docs=60, seed=7)).cache()


@pytest.fixture(scope="module")
def catalog(docs_df):
    return mm.media_catalog(docs_df).cache()


def test_catalog_schema_and_keys(catalog, docs_df):
    assert catalog.schema.simpleString() == (
        "struct<media_ref:string,media_type:string,content:binary,"
        "meta:struct<width:int,height:int,duration_ms:int,"
        "sample_rate:int,codec:string,n_bytes:int>>"
    )
    n_refs = (
        docs_df.select(F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref").isNotNull())
        .select("s.media_ref")
        .distinct()
        .count()
    )
    assert catalog.count() == n_refs
    # payload is the deterministic 64-byte stand-in
    lens = catalog.select(F.length("content").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [64]


def test_catalog_deterministic(catalog, docs_df):
    again = mm.media_catalog(docs_df)
    a = {r.media_ref: (bytes(r.content), r.meta.asDict()) for r in catalog.collect()}
    b = {r.media_ref: (bytes(r.content), r.meta.asDict()) for r in again.collect()}
    assert a == b


def test_metadata_typed_per_kind(catalog):
    rows = catalog.collect()
    for r in rows:
        if r.media_type == "image":
            assert r.meta.width and r.meta.height and r.meta.duration_ms is None
        elif r.media_type == "video":
            assert r.meta.width and r.meta.duration_ms and r.meta.sample_rate is None
        elif r.media_type == "audio":
            assert r.meta.width is None and r.meta.sample_rate == 16000
        assert r.meta.n_bytes == 64


def test_image_features_batch_plumbing(docs_df, catalog):
    feats = mm.image_features(catalog)
    n_imgs = catalog.filter(F.col("media_type") == "image").count()
    rows = feats.collect()
    assert len(rows) == n_imgs
    for r in rows:
        assert r.decoder in ("stub", "pil")
        assert 0.0 <= r.brightness <= 255.0
        assert r.contrast >= 0.0
        assert 0.0 <= r.edge_density <= 1.0
        assert r.aspect_ratio == pytest.approx(r.width / r.height, abs=1e-3)
    # deterministic across runs
    again = {r.media_ref: r.brightness for r in mm.image_features(catalog).collect()}
    assert again == {r.media_ref: r.brightness for r in rows}
    # every image span's media_ref finds its features
    img_spans = docs_df.select(F.inline("spans")).filter(F.col("kind") == "image")
    joined = img_spans.join(feats, "media_ref", "left")
    assert joined.count() == img_spans.count() > 0
    assert joined.filter(F.col("brightness").isNull()).count() == 0


def test_resize_plan_geometry(catalog):
    plan = mm.resize_plan(catalog, max_dim=1000).collect()
    assert plan
    for r in plan:
        if max(r.width, r.height) > 1000:
            assert r.needs_resize
            assert max(r.target_width, r.target_height) == 1000
            # aspect preserved within rounding
            assert r.target_width / r.target_height == pytest.approx(
                r.width / r.height, rel=0.02
            )
        else:
            assert not r.needs_resize
            assert (r.target_width, r.target_height) == (r.width, r.height)


def test_frame_sampling_counts(catalog):
    frames = mm.sample_frames(catalog, every_ms=10_000)
    per = frames.groupBy("media_ref").agg(
        F.count("*").alias("n"), F.first("duration_ms").alias("d")
    )
    for r in per.collect():
        assert r.n == -(-r.d // 10_000)  # ceil(duration/stride)
    # frame_refs are unique
    assert frames.select("frame_ref").distinct().count() == frames.count()


def test_audio_chunk_bounds(catalog):
    chunks = mm.audio_chunks(catalog, chunk_ms=30_000)
    bad = chunks.filter(
        (F.col("chunk_end_ms") <= F.col("chunk_start_ms"))
        | (F.col("chunk_start_ms") % 30_000 != 0)
    )
    assert chunks.count() > 0 and bad.count() == 0
