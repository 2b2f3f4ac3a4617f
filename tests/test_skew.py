"""Power-law skew evidence for the dedup family (r4 VERDICT #6): the
realistic 100-TB failure shape is one template duplicated 10^4-10^6
times, not uniformly-sized clusters. These tests build that fixture
and pin each mechanism that bounds the blowup:

- exact dedup on a 10^4-copy template: pure hash agg, no pairs — the
  op that MUST absorb verbatim mega-clusters;
- MinHash bucket cap at the boundary: a template cluster one over the
  cap emits ZERO candidate pairs (quadratic explosion suppressed), at
  the cap it emits the full clique — both sides pinned;
- connected components + keep-list + split on a >= 10^4-member
  component (star edges — linear, the shape a capped candidate
  generator actually emits): converges in a few rounds (diameter 2), min_id keep,
  all members land in ONE split.

Measured wall (local[8] dev box, AQE + skew-join enabled, see
conftest): the 10^4-copy exact-dedup agg and the 10^4-member
component pipeline each complete in single-digit seconds; the
asserted ceilings are ~5x those observations to absorb CI noise.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


N_MEGA = 10_000


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """One template duplicated N_MEGA times (power-law head) plus 200
    distinct tail docs."""
    mega = spark.range(N_MEGA).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate template text repeated verbatim "
              "across the whole crawl again and again").alias("text"),
    )
    tail = spark.range(N_MEGA, N_MEGA + 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document number "), F.col("id").cast("string"),
                 F.lit(" with its own words and content")).alias("text"),
    )
    return mega.unionByName(tail)


def test_exact_dedup_absorbs_mega_cluster(skewed_docs):
    """10^4 verbatim copies collapse in ONE hash agg — no pair
    generation anywhere — keeping the min id; wall bounded."""
    from smartglass_ocr_spark.ops.dedup import exact_duplicate_clusters

    t0 = time.perf_counter()
    clusters = {
        r["text_md5"]: r
        for r in exact_duplicate_clusters(skewed_docs, min_size=2).collect()
    }
    wall = time.perf_counter() - t0
    assert len(clusters) == 1
    (c,) = clusters.values()
    assert c["n_docs"] == N_MEGA and c["keep_doc_id"] == 0
    assert wall < 30, f"mega exact dedup took {wall:.1f}s"


def test_minhash_cap_boundary_on_template_cluster(spark):
    """The degenerate-bucket cap at its boundary: a template cluster
    AT the cap emits the full clique, ONE MORE copy and the bucket is
    dropped — zero pairs, no quadratic blowup. (Cap parameterized
    small so the at-cap clique stays test-sized; the production
    default 1000 behaves identically by construction.)"""
    from smartglass_ocr_spark.ops.dedup import minhash_lsh_candidates

    def corpus(n_copies):
        return spark.range(n_copies).select(
            F.col("id").alias("doc_id"),
            F.lit("template text shared by every copy of this "
                  "boilerplate cluster exactly").alias("text"),
        )

    cap = 50
    at_cap = minhash_lsh_candidates(
        corpus(cap), bands=4, n=3, max_bucket_docs=cap
    ).count()
    assert at_cap == cap * (cap - 1) // 2  # full clique survives
    over_cap = minhash_lsh_candidates(
        corpus(cap + 1), bands=4, n=3, max_bucket_docs=cap
    ).count()
    assert over_cap == 0  # cap fires: no pairs from the hot bucket


def test_component_pipeline_on_giant_component(spark, skewed_docs):
    """A >= 10^4-member duplicate component (star edges, the linear
    shape capped candidate generators emit) through components ->
    keep-list -> leakage-safe split: min-label propagation converges,
    min_id keeps exactly doc 0 plus the 200-doc tail, and every
    member of the giant component lands in the SAME split (the
    leakage guarantee under skew); wall bounded."""
    from smartglass_ocr_spark.ops.dedup import (
        dedup_keep_list, duplicate_components,
    )
    from smartglass_ocr_spark.ops.sampling import leakage_safe_split

    pairs = spark.range(1, N_MEGA).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    t0 = time.perf_counter()
    comps = duplicate_components(pairs)
    labels = {r["doc_id"]: r["component_id"] for r in comps.collect()}
    assert len(labels) == N_MEGA
    assert set(labels.values()) == {0}  # one giant component, label 0

    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_list(skewed_docs, comps, keep="min_id").collect()
    )
    assert kept == [0] + list(range(N_MEGA, N_MEGA + 200))

    splits = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(skewed_docs, comps)
        .select("doc_id", "split").collect()
    }
    giant = {splits[d] for d in range(N_MEGA)}
    assert len(giant) == 1  # the whole component splits together
    wall = time.perf_counter() - t0
    assert wall < 60, f"giant-component pipeline took {wall:.1f}s"
