"""Deterministic sampling / dataset-split operators — the
training-data counterparts of the dedup/textstats ops (driver brief:
"operations a large-scale training-data pipeline would need").

Everything is keyed on md5 of a stable id (+ a salt), so:

- results are reproducible across runs, engines and row order — no
  RNG, no ``rand()`` (the repo-wide determinism ban, SURVEY.md §4),
  and every op has an exact DuckDB oracle twin;
- membership is a pure per-row predicate/projection — the split and
  the Bernoulli sample add NO shuffle at any scale (they run inside
  the scan stage, and parquet row-group pruning applies upstream);
- changing the salt re-draws the sample without touching the data.

The stratified sample is the one shuffled op (row_number per stratum
— one hash exchange on the stratum key), which is the unavoidable
minimum for exact per-stratum counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import _tokens

# md5-bucket resolution: rates are exact multiples of 1/10000
_BUCKETS = 10_000


def _hash_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 10000) from md5(key ':' salt) — the same
    32-bit-prefix construction as the LSH planes (cross-engine: DuckDB
    ('0x' || substr(md5(..),1,8))::BIGINT gives identical values)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", key.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return h % _BUCKETS


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """Adds a deterministic ``split`` column ('train'/'val'/... per
    ``weights``, default 90/5/5). A document's split depends only on
    its key (salted ``"split"``): stable under reshuffles, appends,
    and engine — the property a 10^12-doc corpus needs so later
    ingests can't leak val docs into train. Pure projection, zero shuffle."""
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if total <= 0:
        raise ValueError(f"weights must sum to > 0, got {weights}")
    bucket = _hash_bucket(F.col(key_col), "split")
    expr: Column | None = None
    acc = 0.0
    *head, (last_name, _) = list(weights.items())
    for name, w in head:
        acc += w / total
        threshold = int(round(acc * _BUCKETS))
        cond = bucket < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    return df.withColumn("split", expr)


def hash_sample(
    df: DataFrame,
    rate: float,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic Bernoulli(rate) sample: keep rows whose md5
    bucket falls under rate. A pure scan-stage predicate (no shuffle,
    no state); two samples with different salts are independent."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(_hash_bucket(F.col("doc_id"), salt) < int(round(rate * _BUCKETS)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (fewer if the
    stratum is smaller), chosen by md5 rank — deterministic and
    order-independent. One hash exchange on the stratum key;
    WindowGroupLimit pushes the per-partition rank cutoff below the
    shuffle, so only ~n rows per (stratum, input partition) move."""
    rank_key = F.md5(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("strata"))
    )
    w = Window.partitionBy(strata_col).orderBy(rank_key, F.col("doc_id").cast("string"))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def length_buckets(docs: DataFrame) -> DataFrame:
    """Token-length histogram for sequence packing / batch shaping:
    (bucket, n_docs, total_tokens), bucket = smallest edge >= token
    count (whitespace tokens), top bucket open-ended. One partial-
    combining hash-agg over |edges|+1 groups — aggregate state is a
    handful of rows regardless of corpus size."""
    edges = (64, 128, 256, 512, 1024)
    n_tokens = F.size(_tokens())
    bucket: Column = F.lit(f">{edges[-1]}")
    for e in reversed(edges):
        bucket = F.when(n_tokens <= e, F.lit(f"<={e}")).otherwise(bucket)
    return (
        docs.select(bucket.alias("bucket"), n_tokens.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """Domain-mixture resampling — the data-mixing step of a
    pretraining pipeline: downsample each source so the surviving
    corpus approaches the target mixture ``weights`` over the
    ``source`` column (relative proportions; unlisted sources get
    weight 1.0, weight 0 drops the source). Deterministic Bernoulli per
    source: no source is ever upsampled, so the achievable mixture is
    capped by the scarcest source relative to its weight — that source
    keeps 100% (rate 1.0) and every other source keeps ``w_s * C / n_s`` where
    ``C = min_t(n_t / w_t)``.

    Scale shape: per-source counts are ONE partial-combining hash agg
    over |sources| groups (bytes moved ~ one row per source per input
    partition), the rates frame is |sources| rows broadcast back, and
    membership is the same scan-stage md5-bucket predicate as
    ``hash_sample`` — the corpus itself is never shuffled. Two scans
    of the source column total (counts + the filtered pass); at
    production scale the counts frame is the catalog statistic you
    already have.
    """
    if not weights:
        raise ValueError("weights must name at least one source")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")

    def _w_of(col: Column) -> Column:
        expr: Column | None = None
        for name, w in weights.items():
            cond = col == F.lit(name)
            expr = (
                F.when(cond, F.lit(float(w)))
                if expr is None
                else expr.when(cond, F.lit(float(w)))
            )
        return expr.otherwise(F.lit(1.0))

    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", _w_of(F.col("source")))
    )
    cap = counts.filter(F.col("_w") > 0).agg(
        F.min(F.col("_n") / F.col("_w")).alias("_cap")
    )
    rates = counts.crossJoin(F.broadcast(cap)).select(
        "source",
        F.when(
            F.col("_w") > 0,
            F.least(F.lit(1.0), F.col("_w") * F.col("_cap") / F.col("_n")),
        )
        .otherwise(F.lit(0.0))
        .alias("_rate"),
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            _hash_bucket(F.col("doc_id"), "mixture")
            < F.round(F.col("_rate") * _BUCKETS)
        )
        .drop("_rate")
    )
    # restore the caller's column order (join moved source first)
    return kept.select(*docs.columns)


def sequence_pack(
    doc_tokens: DataFrame,
    window: int = 2048,
    group_size: int = 100_000,
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Sequence packing for pretraining (the GPT-style
    concat-then-chunk layout): lay every document's tokens end to end
    in ``doc_id`` order and cut a context window every ``window``
    tokens. Each doc gets the pack where it STARTS plus its offset in
    that pack, and a flag for docs straddling a window boundary
    (the ones an attention-masked packer would split or re-pad).

    Input is a narrow ``(doc_id, n_tokens)`` frame — in a real pipeline
    the already-materialized ``token_counts`` output — NOT the text
    table: packing needs only the counts, and the layout below scans
    its input twice, which is cheap on two BIGINT columns and ruinous
    on text.

    Scale shape: the naive form is one cumulative-sum window over a
    GLOBAL order — a single-partition sort of the whole corpus, the
    canonical scale-killer. Instead the prefix sum is split by
    associativity into (1) per-group token totals (one hash agg on
    ``floor(id / group_size)`` — deterministic contiguous ranges, not
    sampled range partitioning), (2) a running prefix over the tiny
    per-group totals frame (the only single-partition window, one row
    per group — 10^6 rows at 10^12 docs / group_size 10^6), broadcast
    back, and (3) a within-group cumsum window whose partitions are
    ``group_size`` rows. Result is bit-equal to the global-order
    cumsum (the oracle computes exactly that), with no corpus-wide
    ordering anywhere.
    """
    grp = F.floor(F.col("doc_id") / F.lit(group_size))
    flat = doc_tokens.select(F.col("doc_id"), F.col(tokens_col), grp.alias("grp"))
    totals = flat.groupBy("grp").agg(F.sum(tokens_col).alias("_tot"))
    run = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, 0)
    prefixes = totals.select(
        "grp", (F.sum("_tot").over(run) - F.col("_tot")).alias("_prefix")
    )
    within = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (
        F.col("_prefix") + F.sum(tokens_col).over(within) - F.col(tokens_col)
    )
    packed = flat.join(F.broadcast(prefixes), "grp").withColumn("_start", start)
    off = F.col("_start") % window
    return packed.select(
        "doc_id",
        tokens_col,
        F.floor(F.col("_start") / window).alias("pack_id"),
        off.alias("pack_offset"),
        ((off + F.col(tokens_col)) > window).cast("int").alias("spans_boundary"),
    )


def shuffle_shard(
    df: DataFrame,
    n_shards: int,
    seed: str = "epoch0",
    pre_partition: bool = False,
) -> DataFrame:
    """Deterministic global shuffle for training export: every row
    gets a ``shard`` in [0, n_shards) and a 1-based ``pos`` within its
    shard, both pure functions of (key, seed) — a new ``seed`` is a
    new epoch permutation, reproducible on any engine and any input
    layout (the property that lets a 10^12-doc run resume mid-epoch).
    Shard = 32-bit md5 prefix mod ``n_shards`` (the repo's standard
    cross-engine bucket construction); within-shard order = the full
    md5 string with the key as tie-break.

    There is no global sort anywhere: the only wide operation is ONE
    hash exchange on ``shard`` feeding the per-shard ``row_number``
    sort. Size ``n_shards`` like the output file count (10^4-10^5 at
    100 TB) and each window partition is corpus/n_shards rows.
    ``pre_partition=True`` repartitions to exactly ``n_shards``
    tasks first — the window then finds its clustering requirement
    already satisfied (no second exchange), which is how
    :func:`write_shuffle_shards` gets sorted one-file-per-shard
    output for the price of the single exchange.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    k = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed)))
    out = df.withColumn("_sk", k).withColumn(
        "shard",
        (F.conv(F.substring(F.col("_sk"), 1, 8), 16, 10).cast("bigint")
         % n_shards).cast("int"),
    )
    if pre_partition:
        out = out.repartition(n_shards, "shard")
    w = Window.partitionBy("shard").orderBy("_sk", F.col("doc_id").cast("string"))
    return out.withColumn("pos", F.row_number().over(w)).drop("_sk")


def write_shuffle_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
) -> None:
    """Materialize one epoch of :func:`shuffle_shard` (its default
    key and seed) as a
    ``shard=K/`` partitioned parquet table with exactly one file per
    shard, rows inside each file already in ``pos`` order (the window
    sort doubles as the write order — training readers stream the
    file sequentially, no shuffle at read time). One exchange total:
    the pre-partition satisfies the window's clustering requirement
    AND lands each shard wholly in one task, so every ``shard=K/``
    directory holds exactly one file."""
    (
        shuffle_shard(df, n_shards, pre_partition=True)
        .write.partitionBy("shard")
        .parquet(path)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the pre-embedding step of a
    RAG / retrieval pipeline and the long-doc splitter of an
    annotation pipeline: one row per chunk of ``chunk_tokens``
    whitespace tokens, consecutive chunks overlapping by ``overlap``.

    Chunk count per doc is ``1 + ceil(max(0, n - chunk) / stride)``
    (``stride = chunk - overlap``) — the last chunk always reaches
    the end of the document and every non-final chunk contributes
    ``stride`` new tokens, so no chunk is ever fully contained in its
    predecessor (the degenerate trailing window a naive
    start <= n loop emits). The ceil is integer arithmetic
    (``floor((a + stride - 1) / stride)``), exact in any engine.

    Returns ``(doc_id, chunk_id, chunk_text, n_chunk_tokens)``.

    Shape (100 TB): one scan, one codegen explode, ZERO shuffle —
    chunk rows inherit the scan's partitioning, which is exactly what
    the downstream embedding UDF wants (Arrow batches of chunk
    text, no exchange in between).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # NULL text must yield NO chunks: greatest/least ignore NULL
    # operands, so without this filter a NULL-text doc emitted one
    # bogus chunk with empty text and n_chunk_tokens = chunk_tokens
    # (r4 ADVICE). Scan-stage isnotnull, free.
    docs = docs.filter(F.col("text").isNotNull())
    stride = chunk_tokens - overlap
    w = _tokens()
    n = F.size(w)
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.lit(0), n - F.lit(chunk_tokens)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    start = F.lit(1) + F.col("chunk_id") * F.lit(stride)
    return (
        docs.select(
            "doc_id",
            w.alias("_w"),
            n.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(
                " ", F.slice(F.col("_w"), start, F.lit(chunk_tokens))
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.col("_n") - start + F.lit(1)).alias(
                "n_chunk_tokens"
            ),
        )
    )


def leakage_safe_split(docs: DataFrame, components: DataFrame) -> DataFrame:
    """:func:`hash_split` (default weights) with the near-duplicate
    leak closed: every member of a duplicate component hashes on its
    COMPONENT label, not its own id, so near-identical documents can
    never straddle train and eval (the contamination mode whole-corpus dedup papers
    flag — splitting before/without dedup leaks eval text into train
    verbatim-ish). ``components`` is any (doc_id, component_id)
    labeling — :func:`ops.dedup.duplicate_components` over
    MinHash/SimHash/Jaccard pairs, or
    :func:`ops.similarity.semantic_dedup`'s labels for the embedding
    variant; docs absent from it (singletons) hash on their own id,
    which is exactly what the label would be.

    Shape (100 TB): the components frame holds only docs that HAVE a
    near-duplicate (orders smaller than the corpus — mass duplication
    belongs to exact dedup first, the repo's standing guidance), so
    the join broadcasts; the split itself stays a pure projection on
    ``md5(coalesce(component_id, doc_id) || salt)`` — zero corpus
    shuffle, same stability contract as ``hash_split`` (appends and
    engine changes cannot move a document between splits, and a NEW
    duplicate of a train doc lands in train by construction).
    """
    comp = F.broadcast(
        components.select("doc_id", F.col("component_id").alias("_cid"))
    )
    joined = docs.join(comp, "doc_id", "left")
    effective = F.coalesce(F.col("_cid"), F.col("doc_id"))
    out = hash_split(
        joined.withColumn("_split_key", effective), key_col="_split_key"
    )
    return out.drop("_cid", "_split_key")
