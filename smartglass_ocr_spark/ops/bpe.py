"""Distributed BPE tokenizer training + application.

The vocabulary-training step of a pretraining data pipeline (Sennrich
et al. 2016), built the way production tokenizer trainers actually
scale: the corpus is scanned ONCE into a word-frequency table —
vocabulary-bounded, orders of magnitude below corpus size — and the
merge loop then iterates over that table only. A naive per-round
corpus re-tokenization would be n_merges full corpus scans; this is
one scan plus n_merges rounds over ~10-100M rows at web scale.

Per round: adjacent symbol pairs explode from the word table weighted
by word count (built-in expressions, codegen), ONE partial-combining
agg finds the global top pair (count desc, then lexicographic — fully
deterministic), and the winning merge is applied to every word's
symbol array by an Arrow-batched pandas UDF (per-word Python over the
vocab-bounded table, never over the corpus — the same boundary the
pipeline's metadata stage draws). Lineage is truncated per round
exactly like the connected-components loops, because a 50-round plan
tree would otherwise re-execute from the scan.

BPE training is genuinely non-SQL-expressible (round r's input
depends on round r-1's argmax), so there is no DuckDB oracle; the
operator is pinned by pytest byte-equality against a pure-Python
reference implementation on hand corpora instead — the same evidence
tier as the streaming state machines.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StringType

from .dedup import _tokens


# Java's ASCII \s, which the JVM-side word split and alphabet use:
# str.split() would also split on Unicode whitespace (U+00A0, U+0085,
# ...) that the alphabet keeps as symbols
_WORD_SEP_RX = re.compile(r"[ \t\n\x0b\f\r]+")

# a merge needs its pair to occur at least this often
_MIN_PAIR_COUNT = 2


def _words(text: str) -> list[str]:
    """``text``'s words as the JVM side splits them, empties dropped."""
    return [w for w in _WORD_SEP_RX.split(text) if w]


def _merge_word(syms: list[str], a: str, b: str) -> list[str]:
    """Standard BPE greedy left-to-right, non-overlapping merge of
    the pair (a, b) within one word's symbol sequence."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    driver_vocab_threshold: int = 1_000_000,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns
    ``[(rank, left, right, pair_count), ...]`` in merge order (the
    artifact a tokenizer ships). Stops early when no pair occurs
    ``_MIN_PAIR_COUNT`` times. The returned list is driver-side by
    design: a merge table is ~10k-100k rows — model artifact, not data.

    Hybrid execution, same result bit-for-bit (pytest-pinned): the
    corpus-scale work is ONLY the word-frequency agg. When the
    distinct-word table fits (``driver_vocab_threshold``; production
    tokenizer trainers run single-machine from exactly this table —
    even a web-scale vocabulary is ~10-100M rows), it is collected
    once and the merge loop runs locally — zero per-round jobs.
    Above the threshold the loop runs distributed over the cached
    table (one codegen pair-agg + one Arrow merge pass per round,
    lineage truncated per round); 2 jobs/round of pure scheduling
    overhead is the measured price, which is why the driver path is
    the default whenever it is legal.
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split("w", "").alias("syms"), "cnt")
        .persist()
    )
    n_vocab = words.count()
    if n_vocab <= driver_vocab_threshold:
        rows = words.collect()
        words.unpersist()
        return _bpe_loop_local(
            [(list(r["syms"]), int(r["cnt"])) for r in rows], n_merges
        )
    merge_pd = _make_merge_udf()
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    try:
        for rank in range(1, n_merges + 1):
            top = (
                # single-symbol words have no pairs — and MUST be
                # filtered before the explode: sequence(1, 0) is a
                # DESCENDING [1, 0] in Spark, and element_at(syms, 2)
                # then throws under ANSI
                cur.filter(F.size("syms") >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.sequence(F.lit(1), F.size("syms") - F.lit(1))
                    ).alias("i"),
                    F.col("syms").alias("_s"),
                )
                .select(
                    F.element_at("_s", F.col("i")).alias("a"),
                    F.element_at("_s", F.col("i") + 1).alias("b"),
                    "cnt",
                )
                .groupBy("a", "b")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < _MIN_PAIR_COUNT:
                break
            a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
            merges.append((rank, a, b, c))
            nxt = cur.select(
                merge_pd(F.col("syms"), F.lit(a), F.lit(b)).alias("syms"), "cnt"
            ).localCheckpoint(eager=True)
            if cur is not words:
                cur.unpersist()
            cur = nxt
    finally:
        if cur is not words:
            cur.unpersist()
        words.unpersist()
    return merges


def _bpe_loop_local(
    vocab: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The merge loop over a collected word table — identical
    semantics to the distributed loop (same count-desc/lexicographic
    argmax, same greedy left-to-right merge)."""
    from collections import Counter

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < _MIN_PAIR_COUNT:
            break
        merges.append((rank, a, b, int(c)))
        vocab = [(_merge_word(syms, a, b), cnt) for syms, cnt in vocab]
    return merges


def _make_merge_udf():
    @F.pandas_udf(ArrayType(StringType()))
    def merge_pd(syms: pd.Series, a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.iloc[0], b.iloc[0]
        return syms.map(lambda s: _merge_word(list(s), av, bv))

    return merge_pd


def bpe_merges_table(
    spark: SparkSession, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """The learned merges as a DataFrame (rank, left, right,
    pair_count) — joinable/broadcastable for downstream audits."""
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def bpe_alphabet(docs: DataFrame) -> list[str]:
    """The base-symbol vocabulary: every distinct non-whitespace
    character in the corpus, sorted by code point. One corpus scan
    into a distinct agg whose result is alphabet-sized (bounded by
    the character set, not the corpus) — collected because it IS the
    model artifact the encoder broadcasts."""
    return sorted(
        r["ch"]
        for r in docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.coalesce(F.col("text"), F.lit("")), r"\s+", ""
                    ),
                    "",
                )
            ).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    alphabet: list[str] | None = None,
) -> DataFrame:
    """Apply learned merges and emit the token-ID sequence a training
    pipeline actually exports: ``(doc_id, ids array<int>)``; a doc's
    token count is ``size(ids)``.

    Vocabulary ids are deterministic pure functions of the inputs, so
    a SQL oracle can replay them: base characters take ids
    ``0..len(alphabet)-1`` in code-point order, and the token created
    by the ``i``-th merge in ``merges`` (list order) takes id
    ``len(alphabet) + i``. If two merges produce the same token
    string the FIRST id wins (a trained merge list never does this —
    a merged pair cannot reappear — but arbitrary caller lists can).
    A symbol outside the vocabulary encodes as ``-1`` (UNK); NULL
    text encodes as an empty sequence, keeping the doc row (a packing
    stage downstream sees ``n=0`` instead of losing the doc).

    Segmentation is the standard greedy left-to-right non-overlapping
    replay of the merge list in order — byte-equal to iterating
    ``_merge_word`` (pytest-pinned against the pure-Python twin, and
    oracle-checked against a DuckDB ``replace``-chain replay of a
    fixed merge list).

    Shape (100 TB): merge list + vocab broadcast once; ONE corpus
    scan, one Arrow crossing, ZERO shuffle — id rows inherit the
    scan's partitioning (plan-pinned). The per-batch word cache makes
    the per-word Python amortize over Zipfian text (the cache hit rate
    is the point). ``alphabet`` defaults to
    :func:`bpe_alphabet` over ``docs`` (one extra slim scan); pass
    the trained artifact to skip it.
    """
    from pyspark.sql.types import IntegerType

    spark = docs.sparkSession
    if alphabet is None:
        alphabet = bpe_alphabet(docs)
    vocab: dict[str, int] = {ch: i for i, ch in enumerate(alphabet)}
    n_alpha = len(vocab)
    for i, (_, a, b, _) in enumerate(merges):
        vocab.setdefault(a + b, n_alpha + i)
    bc = spark.sparkContext.broadcast(([(a, b) for _, a, b, _ in merges], vocab))

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(texts: pd.Series) -> pd.Series:
        pairs, voc = bc.value
        cache: dict[str, list[int]] = {}

        def seg(w: str) -> list[int]:
            got = cache.get(w)
            if got is None:
                syms = list(w)
                for a, b in pairs:
                    if len(syms) < 2:
                        break
                    syms = _merge_word(syms, a, b)
                got = cache[w] = [voc.get(s, -1) for s in syms]
            return got

        return texts.map(
            lambda t: [i for w in _words(t) for i in seg(w)] if t else []
        )

    return docs.select("doc_id", enc(F.col("text")).alias("ids"))
