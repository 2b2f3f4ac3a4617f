"""Sparse lexical retrieval — BM25 top-k over whitespace tokens.

The retrieval slot in a training-data pipeline: eval-set mining
("find the corpus documents most relevant to these benchmark
questions"), targeted corpus slicing for domain mixtures, and
relevance-ranked quality auditing. The reference has no retrieval
surface (its queries are per-document transforms); this family comes
from the driver brief's text-analysis tier.

Determinism discipline (the repo's pinned rules):

- Per-term scores are floored onto the integer **ppm grid** before
  the per-(query, doc) sum, so the sum is exact integer arithmetic —
  a float sum's value depends on aggregation order, which no
  distributed engine (or the DuckDB oracle) reproduces.
- The default IDF is the **rational** Robertson argument
  ``(N - df + 0.5) / (df + 0.5)`` with ``ln`` kept OUT of the
  operator: ``ln`` is a cross-engine libm last-ulp hazard (the trap
  pinned by ``collocations``/``lm_score``). Every per-term score is
  then a short fixed chain of single IEEE double ops, identical in
  any engine. ``idf="log"`` gives the standard Lucene-shaped
  ``ln(1 + rational)`` for production use (same-engine reproducible;
  pytest-pinned against a pure-Python reference, not oracled).

Shape (100 TB): the corpus is scanned exactly twice — once for the
slim per-doc length frame (a narrow no-shuffle projection, persisted
because its two consumers — the corpus totals and the score join —
would otherwise each rescan: Catalyst never reuses branch subtrees)
and once for the token explode, which a **broadcast LEFT SEMI join
on the query-term set** prunes in the scan stage, so only postings
of query terms ever reach the tf aggregation. Document frequencies
are then derived from that pruned tf frame (one row per (doc, term)
⇒ ``count`` per term IS the df) and broadcast back — never a
vocabulary-wide aggregation. The only corpus-sized exchanges are the
tf groupBy and the final per-(query, doc) sum; the top-k window
partitions by query over the already-aggregated score rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _persist, _tokens

__all__ = ["bm25_topk"]


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    idf: str = "rational",
) -> DataFrame:
    """Top-``k`` documents per query under BM25 (Robertson/Walker,
    TREC-3) with ``k1 = 1.2`` and ``b = 0.75``, scored on the integer
    ppm grid.

    Per query term ``t`` in document ``d``::

        idf(t) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl/avgdl))

    floored to millionths and summed per (query, doc) as exact
    integers; ranking ties break to the smaller doc_id. Repeated
    query terms count once (short-query convention — query tf
    weighting is a no-op for the mining use cases this serves).

    ``idf="rational"`` (default, oracle-exact) scores with the raw
    Robertson argument; ``idf="log"`` wraps it in the Lucene-shaped
    ``ln(1 + ·)`` — monotone per-term, so single-term rankings agree;
    multi-term sums legitimately differ (documented deviation).

    Three internal frames (doc lengths, query terms, pruned postings)
    are persisted because each has two consumers in the returned plan
    and Catalyst never reuses branch subtrees; the caller owns the
    caches (:func:`dedup._persist`).
    """
    if idf not in ("rational", "log"):
        raise ValueError(f"idf must be 'rational' or 'log', got {idf!r}")
    arr = _tokens()

    # corpus scan 1: slim (doc_id, dl) — persisted, two consumers
    dl = _persist(docs.select("doc_id", F.size(arr).alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_tok")
    )

    # tiny by contract; consumers: term prune + score join
    qt = _persist(
        queries.select(
            "query_id",
            F.explode(_tokens("query_text")).alias("tok"),
        ).distinct()
    )
    qterms = qt.select("tok").distinct()

    # corpus scan 2: token explode, pruned to query terms IN the scan
    # stage by the broadcast semi join — postings only past this point
    toks = docs.select("doc_id", F.explode(arr).alias("tok"))
    hits = toks.join(F.broadcast(qterms), "tok", "left_semi")
    # consumers: df derivation + score join
    tf = _persist(hits.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    # one row per (doc, term) ⇒ count per term IS the document
    # frequency; |query terms| rows — broadcast back, never a
    # vocabulary-wide agg
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    avgdl = F.col("n_tok") / F.col("n_docs")
    idf_c: Column = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    if idf == "log":
        idf_c = F.log(idf_c + F.lit(1.0))
    k1, b = 1.2, 0.75
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / avgdl)
    )
    term = idf_c * ((F.col("tf") * (F.lit(k1) + F.lit(1.0))) / den)
    per_term = (
        tf.join(F.broadcast(dfq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            F.floor(term * F.lit(1_000_000.0)).cast("bigint").alias("score_ppm"),
        )
    )
    scored = (
        per_term.join(F.broadcast(qt), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_ppm").alias("score_ppm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
