"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes each implemented operator (SURVEY.md §2 + the
training-data ops) over the driver testdata; ``oracle_sql()`` gives
the DuckDB twin for every SQL-expressible one. Column names/aliases
match pairwise; floating aggregates are rounded identically on both
sides; hashes are md5 (identical in Spark and DuckDB); timestamps are
emitted as epoch microseconds so no timestamp normalization is needed.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive the interleaved spans corpus from the flat
    sf0.001 documents table (one narrow stage), run the extraction
    pipeline (reassemble -> classify/clean + metadata in one Arrow
    crossing), and return per-doc results with flattened span stats."""
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import run_pipeline_fused

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    out = run_pipeline_fused(span_rows_from_flat(docs))
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.md5(F.to_json("spans")).alias("spans_md5"),
        # F8 reconstruction output, fingerprinted
        F.md5(F.coalesce("formatted_text", F.lit(""))).alias("formatted_md5"),
        "lang",
        "structure",
        "summary",
        "confidence",
        "status",
    )


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------

def _q_w1_ordered_reassembly(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import ordered_reassembly

    return ordered_reassembly(_t(spark, sf_dir, "events"))


def _q_w2_gap_sessionize(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import gap_sessionize

    return gap_sessionize(_t(spark, sf_dir, "events"))


def _q_a3_topk_per_group(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import topk_per_group

    return topk_per_group(_t(spark, sf_dir, "events"))


def _q_a10_ordered_group_concat(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import ordered_group_concat

    return ordered_group_concat(_t(spark, sf_dir, "lineitem"))


def _q_tumbling_counts(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import tumbling_counts

    return tumbling_counts(_t(spark, sf_dir, "events"))


def _q_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_q3_top_revenue_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q_q5_nation_revenue(spark, sf_dir):
    """Broadcast the dim chain region<-nation<-customer into the fact
    join — the classic small-dims pattern."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: LEFT SEMI join — orders with at least one
    high-discount lineitem, counted by priority (the synthetic
    lineitem has no commit/receipt dates; the join/agg shape is
    identical)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation —
    distribution of customers by order count (including zero)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _q_parts_never_bulk_ordered(spark, sf_dir):
    """LEFT ANTI join (q16-ish negative membership, the J5
    resume-anti-join pattern on data tables): parts with no
    high-quantity lineitem."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
    )


def _q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation over (returnflag, linestatus) — subtotals +
    grand total in one pass (SURVEY §2.4 noted Spark gives these
    free; the corpus analogue is rollups over (lang, structure))."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


def _q_o3_normalized_dedupe(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import normalized_dedupe

    return normalized_dedupe(_t(spark, sf_dir, "documents"))


def _q_dedup_exact(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import exact_duplicate_clusters

    return exact_duplicate_clusters(_t(spark, sf_dir, "documents"), min_size=1)


def _q_dedup_jaccard(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), n=5, threshold=0.2, max_shingle_docs=None)


def _q_dedup_minhash_lsh(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"), bands=8, n=5)


def _q_dedup_simhash(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import simhash32

    return simhash32(_t(spark, sf_dir, "documents"))


def _q_dedup_simhash_pairs(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3, bands=4)


def _q_dedup_components(spark, sf_dir):
    # cluster the MinHash candidate pairs into duplicate components
    # (min-reachable-doc_id labeling); deterministic fixpoint
    from smartglass_ocr_spark.ops.dedup import (
        duplicate_components, minhash_lsh_candidates,
    )

    pairs = minhash_lsh_candidates(_t(spark, sf_dir, "documents"), bands=8, n=5)
    return duplicate_components(pairs)


def _q_dedup_keep_list(spark, sf_dir):
    # the end-to-end dedup composition a pipeline actually runs:
    # MinHash candidates -> connected components -> keep one doc per
    # component (the min id), drop the rest — emitted as the surviving
    # corpus id list via LEFT ANTI join against the drop set
    from smartglass_ocr_spark.ops.dedup import (
        dedup_keep_list, duplicate_components, minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    comps = duplicate_components(minhash_lsh_candidates(docs, bands=8, n=5))
    return dedup_keep_list(docs, comps, keep="min_id")


def _q_dedup_keep_longest(spark, sf_dir):
    # non-default keep policy (r3 VERDICT #5): keep the LONGEST doc of
    # each component (ties -> smaller doc_id), the policy a training
    # pipeline actually wants — oracled via a ranked window in DuckDB
    from smartglass_ocr_spark.ops.dedup import (
        dedup_keep_list, duplicate_components, minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    comps = duplicate_components(minhash_lsh_candidates(docs, bands=8, n=5))
    return dedup_keep_list(docs, comps, keep="longest")


def _q_doc_fingerprint(spark, sf_dir):
    from smartglass_ocr_spark.ops.dedup import fingerprint_min_shingle

    return fingerprint_min_shingle(_t(spark, sf_dir, "documents"))


def _q_sequence_pack(spark, sf_dir):
    # packing composes on the token_counts output (the narrow frame a
    # real pipeline would have materialized); window=512 so sf0.01's
    # ~30k tokens spread over ~60 packs, group_size=64 so the
    # two-phase prefix exercises multiple groups
    from smartglass_ocr_spark.ops.sampling import sequence_pack
    from smartglass_ocr_spark.ops.textstats import token_counts

    toks = token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )
    return sequence_pack(toks, window=512, group_size=64)


def _q_mixture_sample(spark, sf_dir):
    # target mixture: 3x weight on src0/src1, drop src2, rest 1x —
    # exercises the cap (upweighted sources bind at rate 1.0), the
    # downsample path, and the weight-0 drop in one query
    from smartglass_ocr_spark.ops.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"src0": 3.0, "src1": 3.0, "src2": 0.0}
    ).select("doc_id", "source")


def _q_vocab_topk(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


def _q_collocations(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import collocations

    return _owned(collocations, _t(spark, sf_dir, "documents"), min_count=5, k=50)


def _q_pii_scrub(spark, sf_dir):
    # the synthetic corpus has no digits at all, so the PII signal is
    # injected deterministically from doc_id (one category per doc by
    # doc_id % 3) — the oracle performs the identical augmentation,
    # then both engines run the SAME RE2-legal patterns
    from smartglass_ocr_spark.ops.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    did = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                m == 0,
                F.concat(
                    F.lit(" reach user"), did, F.lit("@mail.example.com now")
                ),
            ).otherwise(F.lit("")),
            F.when(
                m == 1,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                    F.lit(" up"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                m == 2,
                F.concat(
                    F.lit(" call +1 555-01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                    F.lit(" today"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug)


def _q_repetition_signals(spark, sf_dir):
    # Gopher-style repetition filters; thresholds lowered to where the
    # synthetic corpus has real flag signal (11 docs at sf0.01)
    from smartglass_ocr_spark.ops.textstats import repetition_signals

    return repetition_signals(
        _t(spark, sf_dir, "documents"),
        top_bigram_thresh=0.1,
        dup_trigram_thresh=0.05,
    )


def _q_decontaminate(spark, sf_dir):
    # benchmark decontamination: the "eval suite" is a deterministic
    # slice of the same table (sources src18/src19 — no external
    # data), the corpus is everything else; n=4 word-grams give the
    # synthetic corpus a real overlap signal (48/450 docs at sf0.01)
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source").isin("src18", "src19"))
    corpus = docs.filter(~F.col("source").isin("src18", "src19"))
    return decontaminate(corpus, bench, n=4)


def _q_passage_dedup(spark, sf_dir):
    # cross-doc duplicated-passage removal: 4-grams in >2 docs are
    # corpus boilerplate (100 hot grams of 24k at sf0.01 — removes
    # real spans without flattening the corpus)
    from smartglass_ocr_spark.ops.dedup import passage_dedup

    return passage_dedup(_t(spark, sf_dir, "documents"), n=4, max_df=2)


def _q_lm_score(spark, sf_dir):
    # LM quality scoring against a two-source reference corpus: small
    # enough that the stupid-backoff path (1018 rows at sf0.01) and
    # the OOV path (26 rows) BOTH fire on the scored corpus — a
    # full-corpus train covers every bigram of the shared synthetic
    # vocabulary and would leave backoff dead in the contract
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.textstats import lm_score

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source").isin("src0", "src1"))
    return _owned(lm_score, docs, train=train)


def _q_leakage_safe_split(spark, sf_dir):
    # dedup-aware split: near-duplicate components hash on their
    # component label, so near-identical docs can never straddle
    # train/val/test (same minhash params as the keep-list query)
    from smartglass_ocr_spark.ops.dedup import (
        duplicate_components, minhash_lsh_candidates,
    )
    from smartglass_ocr_spark.ops.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    comps = duplicate_components(minhash_lsh_candidates(docs, bands=8, n=5))
    return leakage_safe_split(docs, comps).select("doc_id", "split")


def _q_chunk_documents(spark, sf_dir):
    # RAG-style sliding-window chunking: 32-token windows, 8 overlap
    from smartglass_ocr_spark.ops.sampling import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def _q_bm25_topk(spark, sf_dir):
    # BM25 eval-set mining: every 50th doc donates its first 5 tokens
    # as a query; rational Robertson IDF on the ppm grid (ln stays out
    # of the operator — the pinned cross-engine libm hazard)
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.retrieval import bm25_topk
    from smartglass_ocr_spark.ops.dedup import _tokens

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(_tokens("text"), 1, 5)).alias("query_text"),
    )
    return _owned(bm25_topk, docs, queries, k=5)


def _q_lm_contrast(spark, sf_dir):
    # DSIR importance weights: target = the same two-source slice the
    # lm_score contract trains on, background = the full corpus
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.textstats import lm_contrast

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    return _owned(lm_contrast, docs, target)


def _q_shuffle_shard(spark, sf_dir):
    # one epoch of the deterministic training shuffle: 8 shards,
    # md5(key:seed) order within each
    from smartglass_ocr_spark.ops.sampling import shuffle_shard

    return shuffle_shard(
        _t(spark, sf_dir, "documents"), n_shards=8, seed="epoch0"
    ).select("doc_id", "shard", "pos")


def _q_bpe_merges(spark, sf_dir):
    # distributed BPE tokenizer training (no oracle: round r's input
    # depends on round r-1's argmax — genuinely non-SQL-expressible,
    # the documented iterative-algorithm class; pinned instead by
    # pytest byte-equality vs a pure-Python reference trainer)
    from smartglass_ocr_spark.ops.bpe import bpe_merges_table, bpe_train

    return bpe_merges_table(
        spark, bpe_train(_t(spark, sf_dir, "documents"), n_merges=16)
    )


# Fixed merge list for the oracle-able ENCODE contract: training is
# the non-SQL part (bpe_merges, pytest-pinned); applying a FIXED list
# is pure replay, which DuckDB reproduces with a replace chain over a
# wrapped-symbol string (see _bpe_encode_oracle). Tokens are chosen to
# actually fire on the corpus vocabulary (table/query/order/scan...).
_BPE_FIXED_MERGES = [
    (1, "t", "a", 0),
    (2, "ta", "b", 0),
    (3, "tab", "l", 0),
    (4, "tabl", "e", 0),
    (5, "q", "u", 0),
    (6, "e", "r", 0),
    (7, "o", "r", 0),
    (8, "s", "c", 0),
]


def _q_bpe_encode(spark, sf_dir):
    # token-ID export under the fixed merge list; the contract row is
    # scalar (count + md5 of the comma-joined id sequence) because the
    # driver's value hash is defined over scalar columns
    from smartglass_ocr_spark.ops.bpe import bpe_encode

    ids = bpe_encode(_t(spark, sf_dir, "documents"), _BPE_FIXED_MERGES)
    return ids.select(
        "doc_id",
        F.size("ids").alias("n_ids"),
        F.md5(F.concat_ws(",", F.col("ids").cast("array<string>"))).alias(
            "ids_md5"
        ),
    )


def _bpe_encode_oracle() -> str:
    """DuckDB replay of the fixed merge list. Each word becomes a
    wrapped-symbol string chr(1)<sym>chr(2)... ; applying merge (a,b)
    is one replace() of the wrapped pair with the wrapped concat —
    replace's leftmost non-overlapping scan that resumes AFTER the
    replacement is exactly _merge_word's greedy semantics, and the
    wrappers make cross-symbol false matches impossible (chr(1) only
    ever precedes a full symbol). Ids: code-point-ranked base chars,
    then len(alphabet)+i for merge i — the same deterministic scheme
    bpe_encode builds. Assumes corpus text contains no chr(1)/chr(2)
    (control chars; holds for the testdata by construction)."""
    expr = "chr(1) || array_to_string(string_split(w, ''), chr(2) || chr(1)) || chr(2)"
    for _, a, b, _ in _BPE_FIXED_MERGES:
        expr = (
            f"replace({expr}, chr(1) || '{a}' || chr(2) || chr(1) || '{b}' || chr(2),"
            f" chr(1) || '{a}{b}' || chr(2))"
        )
    cases = " ".join(
        f"WHEN tok = '{a}{b}' THEN {i}"
        for i, (_, a, b, _) in enumerate(_BPE_FIXED_MERGES)
    )
    return f"""
        WITH alph AS (
            SELECT DISTINCT ch FROM (
                SELECT unnest(string_split(
                    regexp_replace(coalesce(text, ''), '\\s+', '', 'g'), ''
                )) AS ch
                FROM documents
            ) WHERE ch <> ''
        ), amap AS (
            SELECT ch, CAST(row_number() OVER (ORDER BY ch ASC) - 1 AS INT) AS cid
            FROM alph
        ), na AS (SELECT count(*) AS n FROM amap),
        words AS (
            SELECT doc_id, pos, w FROM (
                SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos
                FROM (
                    SELECT doc_id,
                           regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS a
                    FROM documents
                )
            ) WHERE w <> ''
        ), seg AS (
            SELECT doc_id, pos,
                   string_split(substr(s, 2, len(s) - 2), chr(2) || chr(1)) AS toks
            FROM (SELECT doc_id, pos, {expr} AS s FROM words)
        ), tok AS (
            SELECT doc_id, pos, tpos, tok, CASE {cases} ELSE NULL END AS mrank
            FROM (
                SELECT doc_id, pos, unnest(toks) AS tok,
                       generate_subscripts(toks, 1) AS tpos
                FROM seg
            )
        ), ids AS (
            SELECT t.doc_id,
                   list(CAST(CASE WHEN t.mrank IS NOT NULL THEN na.n + t.mrank
                                  ELSE coalesce(a.cid, -1) END AS VARCHAR)
                        ORDER BY t.pos, t.tpos) AS id_list
            FROM tok t LEFT JOIN amap a ON t.tok = a.ch CROSS JOIN na
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(len(i.id_list), 0) AS INT) AS n_ids,
               md5(coalesce(array_to_string(i.id_list, ','), '')) AS ids_md5
        FROM documents d LEFT JOIN ids i USING (doc_id)
    """


def _q_bpe_pack(spark, sf_dir):
    # the composition a pretraining exporter runs: encode to real
    # token ids under the fixed merges, then lay the id counts end to
    # end into 512-token context windows — sequence_pack consuming
    # bpe_encode's output instead of whitespace counts
    from smartglass_ocr_spark.ops.bpe import bpe_encode
    from smartglass_ocr_spark.ops.sampling import sequence_pack

    ids = bpe_encode(_t(spark, sf_dir, "documents"), _BPE_FIXED_MERGES)
    counts = ids.select("doc_id", F.size("ids").alias("n_ids"))
    # group_size=64 as in the sibling pack queries: contract-SF doc
    # ids are < 100k, so the default group size would put every doc in
    # group 0 and never exercise the two-phase multi-group prefix
    return sequence_pack(counts, window=512, group_size=64, tokens_col="n_ids")


def _bpe_pack_oracle() -> str:
    # encode oracle as a CTE, then the global-order cumsum the
    # two-phase pack must equal by associativity (HUGEINT-cast
    # discipline per the r4 sequence_pack post-mortem)
    return f"""
        WITH enc AS ({_bpe_encode_oracle()}),
        c AS (
            SELECT doc_id, n_ids,
                   CAST(sum(n_ids) OVER (
                       ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                   ) - n_ids AS BIGINT) AS s
            FROM enc
        )
        SELECT doc_id, n_ids,
               CAST(s // 512 AS BIGINT) AS pack_id,
               CAST(s % 512 AS BIGINT) AS pack_offset,
               (s % 512 + n_ids > 512)::int AS spans_boundary
        FROM c
    """


def _q_curation_end_to_end(spark, sf_dir):
    """The REAL pipeline a curation run chains (r4 VERDICT #4) —
    quality gate -> exact dedup -> MinHash keep-list -> benchmark
    decontamination -> leakage-safe split -> token counts -> sequence
    packing — as ONE contract query, so interface drift between
    families verified only in isolation fails the driver gate.
    Every stage reuses its oracle-green operator with the SAME
    parameters as that stage's standalone contract query.

    Scale shape: the quality verdict rides ONE corpus scan
    (passthrough carries source/text — no join-back); exact dedup is
    one md5-keyed window exchange; the dedup/decontaminate/split
    stages inherit their operators' bucketed/broadcast shapes; the
    two multi-consumer frames (post-exact-dedup corpus, final
    survivor set) are persisted because Catalyst never reuses branch
    subtrees. The returned frame owns them and the MinHash components'
    local checkpoint: they are released when the caller drops it
    (:func:`_owning`)."""
    from pyspark.sql import Window

    from smartglass_ocr_spark.ops.dedup import (
        decontaminate,
        dedup_keep_list,
        duplicate_components,
        minhash_lsh_candidates,
    )
    from smartglass_ocr_spark.ops.sampling import (
        leakage_safe_split,
        sequence_pack,
    )
    from smartglass_ocr_spark.ops.textstats import quality_filter, token_counts

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source").isin("src18", "src19"))
    corpus = docs.filter(~F.col("source").isin("src18", "src19"))
    # language gate DISABLED (langs=()): the synthetic corpus is
    # keyword soup, predicted 'other' for every doc — with the gate on
    # the composition is vacuously 0 rows. Disabled, the quality stage
    # meaningfully partitions the corpus (stopword rule still drops
    # ~1/3 at sf0.01); the oracle filters the 'language' token out of
    # the reasons list to match.
    kept1 = (
        quality_filter(corpus, langs=(), passthrough=("source", "text"))
        .filter(F.col("verdict") == "keep")
        .select("doc_id", "source", "text")
    )
    w_md5 = Window.partitionBy(F.md5(F.col("text")))
    kept2 = (
        kept1.withColumn("_keep", F.min("doc_id").over(w_md5))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
        .persist()
    )
    comps = duplicate_components(minhash_lsh_candidates(kept2, bands=8, n=5))
    # keep-list emits surviving ids only; semi-join them back against
    # the (cached) corpus frame to carry text into the later stages
    kept3 = kept2.join(
        dedup_keep_list(kept2, comps, keep="min_id"), "doc_id", "left_semi"
    )
    clean = decontaminate(kept3, bench, n=4)
    kept4 = kept3.join(
        clean.filter(F.col("contaminated") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    ).persist()
    split = leakage_safe_split(kept4, comps).select("doc_id", "split")
    toks = token_counts(kept4).select("doc_id", "n_tokens")
    packed = sequence_pack(toks, window=512, group_size=64)
    return _owning(
        packed.join(split, "doc_id").select(
            "doc_id", "split", "n_tokens", "pack_id", "pack_offset", "spans_boundary"
        ),
        kept2, kept4, checkpoints=(comps,),
    )


def _owning(
    out: DataFrame, *cached: DataFrame, checkpoints: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """``out``, owning the ``persist()``ed frames ``cached`` and the
    local checkpoints the ``checkpoints`` frames read: they are
    released once the caller drops the ``out`` object, unless the
    session has stopped by then. A frame derived from ``out`` does not
    keep them alive: it recomputes a released ``persist()``, but fails
    on a released local checkpoint."""
    from pyspark import SparkContext

    from smartglass_ocr_spark.ops.dedup import release_local_checkpoints

    def release() -> None:
        if SparkContext._active_spark_context is not None:
            for df in cached:
                df.unpersist()
            for df in checkpoints:
                release_local_checkpoints(df)

    weakref.finalize(out, release).atexit = False
    return out


def _owned(query: Callable[..., DataFrame], *args, **kwargs) -> DataFrame:
    """``query(*args, **kwargs)``, owning (:func:`_owning`) every frame
    the operators it calls cache through ``ops.dedup._persist``. Spark
    keys a cache by plan, so releasing one also drops an identical
    cache made elsewhere, which then recomputes."""
    from smartglass_ocr_spark.ops.dedup import _HELD

    token = _HELD.set([])
    try:
        return _owning(query(*args, **kwargs), *_HELD.get())
    finally:
        _HELD.reset(token)


def _curation_oracle() -> str:
    """One DuckDB CTE stack composing the stages' oracle SQL: the
    quality body re-sourced to the benchmark-free corpus, the MinHash
    pair CTEs re-sourced to the post-exact-dedup survivors (names
    prefixed to avoid colliding with the quality body's), then the
    recursive component closure, keep-list anti-filter,
    decontamination, component-hashed split, and the global-order
    cumsum pack (HUGEINT-cast discipline throughout)."""
    import re as _re

    quality = _QUALITY_BODY.replace("FROM documents", "FROM corpus0")
    mh = _MINHASH_PAIRS_CTE.replace("FROM documents", "FROM kept2")
    for name in ("toks", "sh", "sigs", "bwidth", "mh_pairs"):
        mh = _re.sub(rf"\b{name}\b", f"mh_{name}", mh)
    # string-surgery guards: the snippets are shared spec text edited
    # elsewhere — if a future edit changes the FROM spelling or adds a
    # CTE name this rename loop doesn't know, fail HERE at import time
    # with a clear message, not downstream with a wrong composed query
    # (raised, not asserted: ``python -O`` strips asserts)
    if "FROM documents" in quality or "FROM documents" in mh:
        raise ValueError(
            "curation oracle: a shared CTE body gained an un-re-sourced "
            "'FROM documents' — update _curation_oracle's replaces"
        )
    declared = set(_re.findall(r"(\w+) AS \(", mh))
    if declared != {"mh_toks", "mh_sh", "mh_sigs", "mh_bwidth", "mh_mh_pairs"}:
        raise ValueError(
            f"curation oracle: _MINHASH_PAIRS_CTE declares unexpected CTEs "
            f"{declared} — update the rename list"
        )
    return rf"""
        WITH RECURSIVE corpus0 AS (
            SELECT * FROM documents WHERE source NOT IN ('src18', 'src19')
        ), {quality}, q AS (
            -- language gate disabled on the Spark side (langs=());
            -- the shared quality body hardcodes the rule, so strip
            -- its token from the reasons list instead
            SELECT doc_id FROM r
            WHERE len(list_filter(string_split(reasons, ','),
                                  x -> x NOT IN ('language', ''))) = 0
        ), kept1 AS (
            SELECT d.* FROM corpus0 d JOIN q USING (doc_id)
        ), x AS (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM kept1
        ), kept2 AS (
            SELECT d.* FROM kept1 d JOIN x ON d.doc_id = x.doc_id AND x.doc_id = x.keep_id
        ), {mh}, edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM mh_mh_pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM mh_mh_pairs
        ), reach(node, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.src, rr.label FROM edges e JOIN reach rr ON e.dst = rr.node
        ), comps AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM reach GROUP BY node
        ), kept3 AS (
            SELECT k.* FROM kept2 k
            WHERE k.doc_id NOT IN (
                SELECT doc_id FROM comps WHERE doc_id <> component_id
            )
        ), bgt AS (
            SELECT regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents WHERE source IN ('src18', 'src19')
        ), bg AS (
            SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS shingle
            FROM bgt, UNNEST(range(1, greatest(1, len(w) - 3) + 1)) AS t(i)
        ), ct AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM kept3
        ), cg AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS shingle
            FROM ct, UNNEST(range(1, greatest(1, len(w) - 3) + 1)) AS t(i)
        ), cont AS (
            SELECT cg.doc_id, count(bg.shingle) AS n_cont
            FROM cg LEFT JOIN bg ON cg.shingle = bg.shingle
            GROUP BY cg.doc_id
        ), kept4 AS (
            SELECT k.* FROM kept3 k JOIN cont c
              ON k.doc_id = c.doc_id AND c.n_cont = 0
        ), spl AS (
            SELECT d.doc_id,
                   CASE WHEN ('0x' || substr(md5(
                            coalesce(c.component_id, d.doc_id) || ':split'
                        ), 1, 8))::BIGINT % 10000 < 9000 THEN 'train'
                        WHEN ('0x' || substr(md5(
                            coalesce(c.component_id, d.doc_id) || ':split'
                        ), 1, 8))::BIGINT % 10000 < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM kept4 d LEFT JOIN comps c USING (doc_id)
        ), tokn AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
            FROM kept4
        ), cum AS (
            SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                   ) - n_tokens AS BIGINT) AS s
            FROM tokn
        )
        SELECT c.doc_id, s.split, c.n_tokens,
               CAST(c.s // 512 AS BIGINT) AS pack_id,
               CAST(c.s % 512 AS BIGINT) AS pack_offset,
               (c.s % 512 + c.n_tokens > 512)::int AS spans_boundary
        FROM cum c JOIN spl s USING (doc_id)
    """


# RAG retrieval composition: a FIXED query text (corpus-vocabulary
# words) embedded with the same deterministic signed-lane scheme as
# the chunks, so the whole text -> chunk -> embed -> top-k chain is
# oracle-exact integer arithmetic end to end.
_RAG_QUERY_TEXT = "table scan query order key"
_RAG_DIMS = 8
_RAG_K = 10


def _rag_query_vec() -> list[int]:
    # lane j of a token = +-1 by nibble j of ONE md5 (the simhash lane
    # discipline — one digest per token, not one per lane); the query
    # vector is the token-wise lane sum. hashlib md5 == Spark md5 ==
    # DuckDB md5 on the same bytes.
    import hashlib

    toks = _RAG_QUERY_TEXT.split()
    return [
        sum(
            1 if hashlib.md5(t.encode()).hexdigest()[j] >= "8" else -1
            for t in toks
        )
        for j in range(_RAG_DIMS)
    ]


def _q_rag_end_to_end(spark, sf_dir):
    """Text -> RAG retrieval in one contract row: sliding-window
    chunking, deterministic signed-lane chunk embeddings (integer
    vectors — md5 nibble lanes, the simhash shape), and top-k chunks
    for the fixed query by INNER PRODUCT (MIPS — exact integer
    scores, no sqrt/libm anywhere, hence oracle-exact; cosine is the
    production swap and shares the plan shape).

    Scale shape: chunks inherit the scan's partitioning (zero
    shuffle), the token x lane explode feeds ONE fused codegen agg —
    score = sum(s * q_j) directly, never a materialized per-lane
    embedding join — and the global top-k is orderBy+limit, which
    Spark executes as TakeOrderedAndProject (per-partition partial
    top-k merged on the driver: k rows, not a global sort). Pinned:
    1 hash exchange, TakeOrderedAndProject, no interpreted lambdas."""
    from smartglass_ocr_spark.ops.sampling import chunk_documents
    from smartglass_ocr_spark.ops.dedup import _tokens

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    tok = chunks.select(
        "doc_id",
        "chunk_id",
        F.explode(_tokens("chunk_text")).alias("tok"),
    )
    lanes = tok.select(
        "doc_id",
        "chunk_id",
        F.explode(F.sequence(F.lit(0), F.lit(_RAG_DIMS - 1))).alias("j"),
        F.md5(F.col("tok")).alias("_h"),
    ).select(
        "doc_id",
        "chunk_id",
        "j",
        F.when(
            F.substring(F.col("_h"), F.col("j") + 1, 1) >= "8", F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    q = _rag_query_vec()
    qj = F.element_at(
        F.array(*[F.lit(v) for v in q]), F.col("j") + 1
    )
    scored = (
        lanes.groupBy("doc_id", "chunk_id")
        .agg(F.sum(F.col("s") * qj).alias("score"))
    )
    return scored.orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("chunk_id")
    ).limit(_RAG_K)


def _rag_oracle() -> str:
    qv = ", ".join(f"({j}, {v})" for j, v in enumerate(_rag_query_vec()))
    return rf"""
        WITH d AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents
        ), sz AS (
            SELECT doc_id, w, len(w) AS n,
                   1 + CAST(floor(
                       (greatest(0, len(w) - 32) + 23) / 24
                   ) AS INT) AS n_chunks
            FROM d
        ), chunks AS (
            SELECT doc_id, i AS chunk_id,
                   array_to_string(w[1 + i * 24 : 1 + i * 24 + 31], ' ')
                       AS chunk_text
            FROM sz, UNNEST(range(0, n_chunks)) AS t(i)
        ), tok AS (
            SELECT doc_id, chunk_id,
                   unnest(regexp_split_to_array(trim(chunk_text), '\s+')) AS tok
            FROM chunks
        ), lanes AS (
            SELECT doc_id, chunk_id, j,
                   CASE WHEN substr(md5(tok), CAST(j + 1 AS INT), 1) >= '8'
                        THEN 1 ELSE -1 END AS s
            FROM tok, UNNEST(range(0, {_RAG_DIMS})) AS t(j)
        ), qv(j, q) AS (
            VALUES {qv}
        )
        SELECT doc_id, chunk_id, CAST(sum(s * q) AS BIGINT) AS score
        FROM lanes JOIN qv USING (j)
        GROUP BY doc_id, chunk_id
        ORDER BY score DESC, doc_id ASC, chunk_id ASC
        LIMIT {_RAG_K}
    """


def _q_dedup_incremental(spark, sf_dir):
    # continuous-ingestion dedup: the standing corpus is src0-17 (its
    # signature index computed in-query; production reads it from
    # write_minhash_index), the increment is src18/19 — output is
    # every candidate pair touching at least one new doc
    from pyspark.sql import functions as F

    from smartglass_ocr_spark.ops.dedup import (
        minhash_band_signatures, minhash_lsh_candidates_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("source").isin("src18", "src19"))
    old = docs.filter(~F.col("source").isin("src18", "src19"))
    store = minhash_band_signatures(old, bands=8, n=5)
    return minhash_lsh_candidates_incremental(new, store, bands=8, n=5)


def _q_lang_id_counts(spark, sf_dir):
    # confusion counts in ONE corpus scan: the label column rides the
    # lang_id projection instead of joining back to the source
    from smartglass_ocr_spark.ops.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return (
        lang_id(docs, keep=("lang",))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_token_counts(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _q_quality_scores(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def _q_quality_filter(spark, sf_dir):
    # the composed Gopher/C4 keep-drop verdict: default thresholds,
    # en+id allowed (the synthetic corpus's two languages), PII
    # counted but not dropping (the corpus is digit-free — the pii
    # rule is pytest-pinned instead)
    from smartglass_ocr_spark.ops.textstats import quality_filter

    return quality_filter(_t(spark, sf_dir, "documents"), langs=("en", "id"))


def _q_quality_report(spark, sf_dir):
    # per-source curation dashboard: verdict counts, token volume,
    # and the fixed-vocabulary drop-reason histogram
    from smartglass_ocr_spark.ops.textstats import quality_report

    return quality_report(
        _t(spark, sf_dir, "documents"),
        group_cols=("source",),
        langs=("en", "id"),
    )


def _q_knn_cosine(spark, sf_dir):
    from smartglass_ocr_spark.ops.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, [float(x) for x in query], k=10)


def _q_knn_lsh(spark, sf_dir):
    from smartglass_ocr_spark.ops.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return lsh_bucketed_topk(emb, [float(x) for x in query], k=10, bits=4)


def _q_knn_ivf(spark, sf_dir):
    # Oracle-mode IVF (r2 VERDICT ask): the coarse quantizer is the
    # FIXED md5-derived centroid set (exact in both engines, like the
    # LSH planes) and assignment/probe similarities are rounded to a
    # shared 6-dp grid, so the full assign -> nprobe-probe -> rerank
    # machinery has a DuckDB twin. The Lloyd-refined data-trained
    # quantizer (ivf_build_centroids) stays pytest-pinned instead —
    # its iterated fp means have no sound cross-engine oracle.
    from smartglass_ocr_spark.ops.similarity import fixed_random_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    cents = fixed_random_centroids(8, len(query))
    return ivf_topk(emb, query, k=10, nprobe=4, centroids=cents, round_dp=6)


def _q_embedding_near_dup(spark, sf_dir):
    from smartglass_ocr_spark.ops.similarity import cosine_self_near_dup

    # synthetic embeddings are near-orthogonal (max pairwise cos ~0.51
    # at sf0.01); 0.3 yields a non-trivial candidate set here while the
    # operator's production threshold would sit at ~0.9
    return cosine_self_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.3, bits=4)


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup composition: fixed md5 quantizer (8 clusters) ->
    # within-cluster cosine pairs on the shared 6-dp grid ->
    # components -> keep the most-peripheral member per component
    # (the paper's diversity-preserving policy). Threshold 0.3 per
    # the embedding_near_dup note (synthetic vectors near-orthogonal)
    from smartglass_ocr_spark.ops.similarity import (
        fixed_random_centroids, semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents = fixed_random_centroids(8, dim)
    return _owned(
        semantic_dedup, emb, cents, threshold=0.3, keep="peripheral", round_dp=6
    )


def _q_pipeline_extract(spark, sf_dir):
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import extracted_span_rows

    docs = _t(spark, sf_dir, "documents")
    rows = extracted_span_rows(span_rows=span_rows_from_flat(docs))
    return rows.select(
        "doc_id", "order", "kind", "block_class",
        F.coalesce(F.md5("text"), F.lit("")).alias("text_md5"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
    )


def _q_pipeline_doc_meta(spark, sf_dir):
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import run_pipeline_fused

    docs = _t(spark, sf_dir, "documents")
    out = run_pipeline_fused(span_rows_from_flat(docs))
    return out.select(
        "doc_id", F.size("spans").alias("n_spans"), "lang", "structure",
        F.round("confidence", 4).alias("confidence"), "status",
    )


def _q_pipeline_skeleton(spark, sf_dir):
    # r3 VERDICT #1: the three pipeline_* queries stay no-oracle only
    # because their regex BODY uses lookbehind (not in DuckDB's RE2) —
    # but the part of them that exercises SPARK (span derivation ->
    # explode -> offset-ordered reassembly -> span/kind/media counts ->
    # length-gated status) is plain SQL. This query runs exactly that
    # skeleton pre-cleaning on the md5 derivation path: per doc, the
    # span count, media-span count, total raw text length, an md5 over
    # the reading-ordered (kind, offset, media_ref, text-md5) sequence
    # (reference reading-order reassembly: lib/ocr_engines.py:205), and
    # a length-gated status — so the shuffle/assembly path of the
    # un-oracled pipeline queries is itself hash-pinned to DuckDB.
    from smartglass_ocr_spark.corpus import span_rows_from_flat

    rows = span_rows_from_flat(_t(spark, sf_dir, "documents"), kind_hash="md5")
    entry = F.concat_ws(
        ":",
        "kind",
        F.col("offset").cast("string"),
        F.coalesce("media_ref", F.lit("")),
        F.coalesce(F.md5("text"), F.lit("")),
    )
    per_doc = rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            F.when(F.col("kind").isin("image", "video", "audio"), 1).otherwise(0)
        ).alias("n_media"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("n_text_chars"),
        # offsets are unique per doc (offset = 7i + h%5, strides never
        # overlap), so sorting (offset, entry) structs is a total order
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", entry.alias("e")))),
                    lambda s: s["e"],
                ),
                "|",
            )
        ).alias("seq_md5"),
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_media",
        "n_text_chars",
        "seq_md5",
        F.when(F.col("n_text_chars") >= 20, "ok")
        .when(F.col("n_text_chars") > 0, "short")
        .otherwise("empty")
        .alias("len_status"),
    )


def _q_session_window(spark, sf_dir):
    from smartglass_ocr_spark.streaming import session_window_agg

    out = session_window_agg(_t(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("session_start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("session_end_us"),
        "n_events",
        "session_value",
    )


def _q_entity_harvest(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import entity_harvest

    # array columns break the driver's pandas canonicalizer (lists are
    # unhashable under sort_values) — join to '|'-delimited strings and
    # mirror with array_to_string in the oracle.
    return entity_harvest(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_join("names", "|").alias("names"),
        F.array_join("dates", "|").alias("dates"),
    )


def _q_signage_content(spark, sf_dir):
    from smartglass_ocr_spark.ops.textstats import signage_classify

    return (
        signage_classify(_t(spark, sf_dir, "documents"))
        .groupBy("signage_class", "description")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_pipeline_fused(spark, sf_dir):
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.pipeline import run_pipeline_fused

    docs = _t(spark, sf_dir, "documents")
    out = run_pipeline_fused(span_rows_from_flat(docs))
    return out.select(
        "doc_id", F.size("spans").alias("n_spans"), "lang", "structure",
        # F8 formatted output, fingerprinted (full text exercised by
        # the golden-equality pytest; the driver checks determinism)
        F.md5(F.coalesce("formatted_text", F.lit(""))).alias("formatted_md5"),
        F.round("confidence", 4).alias("confidence"), "status",
    )


def _q_w3_paragraph_fold(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import paragraph_fold

    return paragraph_fold(_t(spark, sf_dir, "documents"))


def _q_w5_header_sections(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import header_sections

    return header_sections(_t(spark, sf_dir, "documents"))


def _q_w6_bullet_fold(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import bullet_fold

    return bullet_fold(_t(spark, sf_dir, "documents"))


def _q_asof_join(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import asof_join

    return asof_join(_t(spark, sf_dir, "events"))


def _q_range_join(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import range_join_buckets

    return range_join_buckets(_t(spark, sf_dir, "events"))


def _q_hierarchical_rollup(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import hierarchical_rollup

    return hierarchical_rollup(_t(spark, sf_dir, "events"))


def _q_value_percentiles(spark, sf_dir):
    from smartglass_ocr_spark.ops.windows import value_percentiles

    return value_percentiles(_t(spark, sf_dir, "events"))


def _q_sample_split(spark, sf_dir):
    from smartglass_ocr_spark.ops.sampling import hash_split

    # full membership check: one row per doc with its assigned split
    return hash_split(_t(spark, sf_dir, "documents")).select("doc_id", "split")


def _q_sample_bernoulli(spark, sf_dir):
    from smartglass_ocr_spark.ops.sampling import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), rate=0.25).select("doc_id")


def _q_stratified_sample(spark, sf_dir):
    from smartglass_ocr_spark.ops.sampling import stratified_sample

    out = stratified_sample(_t(spark, sf_dir, "documents"), "lang", 20)
    return out.select("doc_id", "lang")


def _q_length_buckets(spark, sf_dir):
    from smartglass_ocr_spark.ops.sampling import length_buckets

    return length_buckets(_t(spark, sf_dir, "documents"))


def _q_response_clean(spark, sf_dir):
    # F11 clean_response_text (ref lib/utils.py:404-432) as pure
    # codegen expressions — the Python twin lives in rules/format.py
    docs = _t(spark, sf_dir, "documents")
    c = F.regexp_replace("text", r"\n+", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(F.regexp_replace(c, r"\\", ""))
    return docs.select("doc_id", c.alias("response_text"))


def _q_media_catalog(spark, sf_dir):
    # Oracle mode (r2 VERDICT ask): the kind interleaving and meta
    # derivation run on the hash-parameterized md5 path, so media-row
    # MEMBERSHIP and every meta field have a DuckDB twin. The flagship
    # pipeline keeps the faster xxhash64+sha1 derivation (golden-
    # pinned); the operator logic is identical either way.
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.ops.multimodal import media_catalog

    rows = span_rows_from_flat(_t(spark, sf_dir, "documents"), kind_hash="md5")
    cat = media_catalog(rows, meta_hash="md5")
    return cat.select(
        "media_ref", "media_type",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.codec").alias("codec"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def _q_frame_sample(spark, sf_dir):
    from smartglass_ocr_spark.corpus import span_rows_from_flat
    from smartglass_ocr_spark.ops.multimodal import media_catalog, sample_frames

    rows = span_rows_from_flat(_t(spark, sf_dir, "documents"), kind_hash="md5")
    cat = media_catalog(rows, meta_hash="md5")
    return sample_frames(cat, every_ms=10_000)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "w1_ordered_reassembly": _q_w1_ordered_reassembly,
        "w2_gap_sessionize": _q_w2_gap_sessionize,
        "a3_topk_per_group": _q_a3_topk_per_group,
        "a10_ordered_group_concat": _q_a10_ordered_group_concat,
        "tumbling_counts": _q_tumbling_counts,
        "q1_pricing_summary": _q_q1_pricing_summary,
        "q3_top_revenue_orders": _q_q3_top_revenue_orders,
        "q5_nation_revenue": _q_q5_nation_revenue,
        "q4_order_priority": _q_q4_order_priority,
        "q13_customer_distribution": _q_q13_customer_distribution,
        "parts_never_bulk_ordered": _q_parts_never_bulk_ordered,
        "rollup_revenue": _q_rollup_revenue,
        "o3_normalized_dedupe": _q_o3_normalized_dedupe,
        "dedup_exact": _q_dedup_exact,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "doc_fingerprint": _q_doc_fingerprint,
        "decontaminate": _q_decontaminate,
        "passage_dedup": _q_passage_dedup,
        "lm_score": _q_lm_score,
        "bm25_topk": _q_bm25_topk,
        "chunk_documents": _q_chunk_documents,
        "lm_contrast": _q_lm_contrast,
        "leakage_safe_split": _q_leakage_safe_split,
        "shuffle_shard": _q_shuffle_shard,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "bpe_pack": _q_bpe_pack,
        "curation_end_to_end": _q_curation_end_to_end,
        "rag_end_to_end": _q_rag_end_to_end,
        "dedup_incremental": _q_dedup_incremental,
        "repetition_signals": _q_repetition_signals,
        "sequence_pack": _q_sequence_pack,
        "mixture_sample": _q_mixture_sample,
        "pii_scrub": _q_pii_scrub,
        "vocab_topk": _q_vocab_topk,
        "collocations": _q_collocations,
        "dedup_components": _q_dedup_components,
        "dedup_keep_list": _q_dedup_keep_list,
        "dedup_keep_longest": _q_dedup_keep_longest,
        "lang_id_counts": _q_lang_id_counts,
        "token_counts": _q_token_counts,
        "quality_scores": _q_quality_scores,
        "quality_filter": _q_quality_filter,
        "quality_report": _q_quality_report,
        "knn_cosine": _q_knn_cosine,
        "knn_lsh": _q_knn_lsh,
        "knn_ivf": _q_knn_ivf,
        "embedding_near_dup": _q_embedding_near_dup,
        "semantic_dedup": _q_semantic_dedup,
        "pipeline_extract": _q_pipeline_extract,
        "pipeline_doc_meta": _q_pipeline_doc_meta,
        "pipeline_skeleton": _q_pipeline_skeleton,
        "session_window": _q_session_window,
        "entity_harvest": _q_entity_harvest,
        "signage_content": _q_signage_content,
        "pipeline_fused": _q_pipeline_fused,
        "media_catalog": _q_media_catalog,
        "frame_sample": _q_frame_sample,
        "w3_paragraph_fold": _q_w3_paragraph_fold,
        "w5_header_sections": _q_w5_header_sections,
        "w6_bullet_fold": _q_w6_bullet_fold,
        "response_clean": _q_response_clean,
        "sample_split": _q_sample_split,
        "sample_bernoulli": _q_sample_bernoulli,
        "stratified_sample": _q_stratified_sample,
        "length_buckets": _q_length_buckets,
        "asof_join": _q_asof_join,
        "range_join": _q_range_join,
        "hierarchical_rollup": _q_hierarchical_rollup,
        "value_percentiles": _q_value_percentiles,
    }


# --------------------------------------------------------------------
# oracles (DuckDB). Omitted ONLY for the three pipeline_* queries:
# the regex/rule extraction pipeline is not SQL-expressible — it is
# verified instead by (a) golden-equality pytest against the seeded
# corpus, (b) tests/test_reference_parity.py, which EXECUTES the
# reference implementation (OCR deps stubbed) and asserts byte
# equality per rule family, and (c) the fused path's rows asserted
# equal to golden.golden_outputs field for field (the golden-equality
# tests in tests/test_pipeline.py). Everything else — including
# knn_ivf (fixed md5 quantizer + rounded-sim grid, r3) and
# media_catalog / frame_sample (hash-parameterized md5 derivation,
# r3) — has a value-hash DuckDB oracle below.
# --------------------------------------------------------------------

# SimHash fingerprints (shared by the fingerprint query and the
# banded Hamming-pair query)
def _lm_side_cte(sfx: str, train_where: str) -> str:
    """One stupid-backoff train-side CTE set (the lm_score oracle's
    tr/pr/P/uni/tot/big chain) with suffixed names, so lm_contrast's
    twin builds both models without duplicating the SQL by hand."""
    return f"""
            tr{sfx} AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents {train_where}
            ), pr{sfx} AS (
                SELECT w[i] AS tok_a, w[i+1] AS tok_b
                FROM tr{sfx}, UNNEST(range(0, len(w) + 1)) AS t(i)
            ), P{sfx} AS (
                SELECT tok_a, tok_b, count(*) AS c FROM pr{sfx} GROUP BY 1, 2
            ), uni{sfx} AS (
                SELECT tok_a, CAST(sum(c) AS BIGINT) AS c1
                FROM P{sfx} WHERE tok_a IS NOT NULL GROUP BY 1
            ), tot{sfx} AS (
                SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM uni{sfx}
            ), big{sfx} AS (
                SELECT tok_a AS w1, tok_b AS w2, c AS c_ab
                FROM P{sfx} WHERE tok_a IS NOT NULL AND tok_b IS NOT NULL
            )"""


def _lm_score_case(sfx: str) -> str:
    return f"""
                       CASE WHEN r.w2 IS NOT NULL THEN
                           CAST(floor(
                               CASE WHEN b{sfx}.c_ab IS NOT NULL
                                    THEN b{sfx}.c_ab / u1{sfx}.c1
                                    ELSE (0.4::DOUBLE * coalesce(u2{sfx}.c1, 0))
                                         / t{sfx}.n_tok
                               END * 1000000.0) AS BIGINT)
                       END"""


# body-only (no WITH) so compositions can re-source and inline it;
# _QUALITY_CTE below keeps the original prepended-WITH form
_QUALITY_BODY = r"""
            f AS (
                SELECT doc_id, source,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                       length(text) AS n_chars,
                       length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
                       length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' to ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' in ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' a ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' that ') THEN 1 ELSE 0 END) AS stop_hits,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' with ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' that ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' for ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' this ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' have ') THEN 1 ELSE 0 END) AS en,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' yang ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dan ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dengan ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' untuk ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dari ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' adalah ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' ini ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' pada ') THEN 1 ELSE 0 END) AS ind,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(text,
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     + len(regexp_extract_all(text, '\+?\d[\d\- ]{7,}\d')) AS n_pii
                FROM documents
            ), feat AS (
                SELECT doc_id, source, n_tokens,
                       round(CAST(nonspace AS DOUBLE) / n_tokens, 4) AS mean_word_len,
                       round(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
                       stop_hits,
                       CASE WHEN ind >= 2 AND ind > en THEN 'id'
                            WHEN en >= 2 THEN 'en'
                            ELSE 'other' END AS predicted_lang,
                       n_pii
                FROM f
            ), toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
            ), bc AS (
                SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g, count(*) AS c
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 1) + 1)) AS t(i)
                GROUP BY doc_id, g
            ), b AS (
                SELECT doc_id, max(c) / sum(c) AS top_bigram_frac
                FROM bc GROUP BY doc_id
            ), tc AS (
                SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g, count(*) AS c
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 2) + 1)) AS t(i)
                GROUP BY doc_id, g
            ), t3 AS (
                SELECT doc_id,
                       sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS dup_trigram_frac
                FROM tc GROUP BY doc_id
            ), j AS (
                SELECT * FROM feat
                JOIN (SELECT doc_id, top_bigram_frac, dup_trigram_frac
                      FROM b JOIN t3 USING (doc_id)) USING (doc_id)
            ), r AS (
                SELECT *, concat_ws(',',
                    CASE WHEN n_tokens < 10 THEN 'too_short' END,
                    CASE WHEN n_tokens > 100000 THEN 'too_long' END,
                    CASE WHEN mean_word_len < 3.0::DOUBLE
                           OR mean_word_len > 12.0::DOUBLE THEN 'word_length' END,
                    CASE WHEN punct_ratio > 0.2::DOUBLE THEN 'punctuation' END,
                    CASE WHEN stop_hits < 2 THEN 'stopwords' END,
                    CASE WHEN predicted_lang NOT IN ('en', 'id') THEN 'language' END,
                    CASE WHEN top_bigram_frac > 0.2::DOUBLE THEN 'rep_bigram' END,
                    CASE WHEN dup_trigram_frac > 0.3::DOUBLE THEN 'rep_trigram' END
                ) AS reasons FROM j
            )
"""

_QUALITY_CTE = "\nWITH " + _QUALITY_BODY

_SIMHASH_CTE = """
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY doc_id, tok
    ), lanes AS (
        SELECT doc_id, i,
               CASE WHEN substr(md5(tok), CAST(i + 1 AS INT), 1)
                         IN ('8','9','a','b','c','d','e','f')
                    THEN w ELSE -w END AS signed
        FROM tf, UNNEST(range(0, 32)) AS t(i)
    ), s AS (
        SELECT doc_id, i, sum(signed) AS s FROM lanes GROUP BY doc_id, i
    ), sims AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM s GROUP BY doc_id
    )
"""


# 64-bit SimHash (ops/dedup.simhash64): two lanes per md5 nibble —
# lane i = high bit (digit >= '8'), lane 32+i = bit 2 ('4'..'7' or
# >= 'c'); hex digits are ASCII-ordered so the range compares are
# engine-identical. Lane 63's value is -2^63 (sign bit); DuckDB
# sum(BIGINT) accumulates in HUGEINT so no overflow before the cast.
_SIMHASH64_CTE = """
    toks64 AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ), tf64 AS (
        SELECT doc_id, tok, count(*) AS w FROM toks64 GROUP BY doc_id, tok
    ), lanes64 AS (
        SELECT doc_id, i,
               CASE WHEN (i < 32 AND substr(md5(tok), CAST((i % 32) + 1 AS INT), 1) >= '8')
                      OR (i >= 32 AND (
                           (substr(md5(tok), CAST((i % 32) + 1 AS INT), 1) >= '4'
                            AND substr(md5(tok), CAST((i % 32) + 1 AS INT), 1) < '8')
                           OR substr(md5(tok), CAST((i % 32) + 1 AS INT), 1) >= 'c'))
                    THEN w ELSE -w END AS signed
        FROM tf64, UNNEST(range(0, 64)) AS t(i)
    ), s64 AS (
        SELECT doc_id, i, sum(signed) AS s FROM lanes64 GROUP BY doc_id, i
    ), sims64 AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN
                        CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                             ELSE (1::BIGINT << i) END
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM s64 GROUP BY doc_id
    )
"""


# MinHash band-signature candidate pairs (shared by the pair query
# and the components query): band b permutation = nibble-group
# rotation of one shared md5 per shingle. The bwidth filter models
# the engine's max_bucket_docs=1000 degenerate-bucket cap (r3 ADVICE:
# the engine ran capped while the oracle generated pairs uncapped —
# a latent divergence on any >1000-member duplicate bucket).
_MINHASH_PAIRS_CTE = """
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ), sh AS (
        SELECT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS h
        FROM toks, UNNEST(range(1, greatest(1, len(w) - 4) + 1)) AS t(i)
    ), sigs AS (
        SELECT doc_id, band,
               min(substr(h, CAST(4 * band + 1 AS INT), CAST(32 - 4 * band AS INT))
                   || substr(h, 1, CAST(4 * band AS INT))) AS sig
        FROM sh, UNNEST(range(0, 8)) AS t(band)
        GROUP BY doc_id, band
    ), bwidth AS (
        SELECT band, sig, count(*) AS k FROM sigs GROUP BY band, sig
    ), mh_pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        JOIN bwidth w ON w.band = a.band AND w.sig = a.sig AND w.k <= 1000
    )
"""


# DuckDB twin of corpus.span_rows_from_flat(kind_hash='md5') +
# ops/multimodal.media_catalog(meta_hash='md5'): the md5-path span
# interleaving (bucket/offset from the 32-bit md5 prefix of
# 'doc_id:i', media kinds = buckets 12/13/14), media_ref =
# 'm-' + md5('doc_id:offset')[:12], and the md5-derived typed meta.
_MEDIA_CTE = r"""
    WITH base AS (
        SELECT printf('doc-%012d', doc_id) AS doc_id,
               len(regexp_split_to_array(text, '\s+')) AS nw
        FROM documents
    ), sized AS (
        SELECT doc_id, greatest(1, least(8, nw)) AS n FROM base
    ), idx AS (
        SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM sized
    ), hashed AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(doc_id || ':' || i), 1, 8))::BIGINT AS h32
        FROM idx
    ), mspans AS (
        SELECT doc_id,
               (h32 % 16) AS bucket,
               CAST(i * 7 + (h32 % 5) AS INT) AS off
        FROM hashed WHERE (h32 % 16) IN (12, 13, 14)
    ), media AS (
        SELECT DISTINCT
               'm-' || substr(md5(doc_id || ':' || off), 1, 12) AS media_ref,
               CASE bucket WHEN 12 THEN 'image' WHEN 13 THEN 'video'
                           ELSE 'audio' END AS media_type
        FROM mspans
    ), catalog AS (
        SELECT media_ref, media_type,
               CASE WHEN media_type <> 'audio' THEN CAST(
                   ('0x' || substr(md5(media_ref || ':w'), 1, 8))::BIGINT
                       % 4032 + 64 AS INT) END AS width,
               CASE WHEN media_type <> 'audio' THEN CAST(
                   ('0x' || substr(md5(media_ref || ':h'), 1, 8))::BIGINT
                       % 4032 + 64 AS INT) END AS height,
               CASE WHEN media_type <> 'image' THEN CAST(
                   ('0x' || substr(md5(media_ref || ':d'), 1, 8))::BIGINT
                       % 599000 + 1000 AS INT) END AS duration_ms,
               CASE media_type WHEN 'image' THEN 'png'
                               WHEN 'audio' THEN 'pcm16'
                               ELSE 'h264' END AS codec,
               CAST(64 AS INT) AS n_bytes
        FROM media
    )
"""


# DuckDB twin of ops/windows.doc_lines: wrap every 6 words, 0-based
# line number, md5-derived line class/decoration (identical values to
# Spark's conv(substr(md5,1,8),16,10) % 7)
_LINES_CTE = r"""
    WITH wrapped AS (
        SELECT doc_id,
               regexp_replace(text, '((?:\S+\s+){5}\S+)\s+',
                              '\1' || chr(10), 'g') AS t
        FROM documents
    ), split AS (
        SELECT doc_id, string_split(t, chr(10)) AS parts FROM wrapped
    ), lines0 AS (
        SELECT doc_id,
               unnest(generate_series(0, len(parts) - 1)) AS ln,
               unnest(parts) AS raw
        FROM split
    ), classed AS (
        SELECT doc_id, ln, kind,
               CASE kind WHEN 'bullet' THEN '- ' || raw
                         WHEN 'heading' THEN upper(raw)
                         WHEN 'empty' THEN ''
                         ELSE raw END AS line
        FROM (
            SELECT *, CASE ('0x' || substr(md5(doc_id || ':' || ln), 1, 8))::BIGINT % 7
                        WHEN 0 THEN 'bullet' WHEN 1 THEN 'heading'
                        WHEN 2 THEN 'empty' ELSE 'regular' END AS kind
            FROM lines0
        )
    )
"""


# DuckDB twin of ops/similarity.plane_matrix + _bucket_udf (bits=4,
# the setting both LSH queries use): hyperplane components from
# md5('lane:dim'), sign-of-dot bucket per vector.
# fp note: the sign test compares a numpy (BLAS, pairwise-summed) dot
# against DuckDB's sequential sum — the bucket could differ only if a
# plane dot lands within float summation error of 0 (~1e-13 on O(1)
# magnitudes; none of the driver corpus's 500x4 dots is closer than
# 1e-3). knn_ivf stays un-oracled because its iterated mean
# re-centering COMPOUNDS such error across Lloyd steps.
_BUCKETS_CTE = """
    WITH dims AS (SELECT len(embedding) AS nd FROM embeddings LIMIT 1),
    comps AS (
        SELECT lane, d,
               ('0x' || substr(md5(lane || ':' || d), 1, 8))::BIGINT
                   / 2147483648.0 - 1.0 AS comp
        FROM (SELECT unnest(generate_series(0, 3)) AS lane),
             (SELECT unnest(generate_series(0, (SELECT nd - 1 FROM dims))) AS d)
    ),
    planes AS (SELECT lane, list(comp ORDER BY d) AS p FROM comps GROUP BY lane),
    bucketed AS (
        SELECT vec_id, embedding,
               CAST(sum(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), p) > 0
                             THEN (1::BIGINT << lane) ELSE 0 END) AS INT) AS bucket
        FROM embeddings, planes GROUP BY vec_id, embedding
    )
"""


def oracle_sql() -> dict[str, str]:
    return {
        "w1_ordered_reassembly": """
            SELECT user_id,
                   string_agg(event_type, '→' ORDER BY ts, event_id) AS event_seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "w2_gap_sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, event_id, ts, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
                FROM flagged
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   round(sum(value), 2) AS session_value,
                   min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
            FROM sess GROUP BY user_id, session_idx
        """,
        "a3_topk_per_group": """
            SELECT event_type, rank, event_id, value FROM (
                SELECT event_type, event_id, value,
                       CAST(row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS INT) AS rank
                FROM events
            ) WHERE rank <= 3
        """,
        "a10_ordered_group_concat": """
            SELECT l_orderkey,
                   string_agg(l_partkey::VARCHAR, ',' ORDER BY l_linenumber, l_partkey) AS part_seq,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(sum(l_extendedprice), 2) AS total_price,
                   count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "tumbling_counts": """
            SELECT CAST(floor(epoch_us(ts) / 3600000000) * 3600 AS BIGINT) AS window_start_s,
                   event_type, count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_discount > 0.05
            )
            GROUP BY o_orderpriority
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "parts_never_bulk_ordered": """
            SELECT p_partkey, p_name
            FROM part
            WHERE NOT EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_partkey = p_partkey AND l_quantity >= 45
            )
        """,
        "rollup_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "o3_normalized_dedupe": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
            FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
                  FROM documents)
            GROUP BY norm
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_jaccard": """
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 4) + 1)) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
            ), swidth AS (
                -- engine's max_bucket_docs=1000 bucket-width cap: a
                -- shingle's bucket width IS its document frequency;
                -- over-cap shingles drop from pair generation but
                -- still count toward n_shingles (sizes above)
                SELECT shingle, count(*) AS k FROM sh GROUP BY shingle
            ), common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                JOIN swidth w ON w.shingle = a.shingle AND w.k <= 1000
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.2
        """,
        "dedup_minhash_lsh": "WITH " + _MINHASH_PAIRS_CTE + """
            SELECT doc_a, doc_b FROM mh_pairs
        """,
        # duplicate components: min-reachable-doc_id labeling of the
        # MinHash pair graph — recursive closure over bidirectional
        # edges mirrors the engine's min-label propagation fixpoint
        "dedup_components": "WITH RECURSIVE " + _MINHASH_PAIRS_CTE + """
            , edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
            ), reach(node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
            )
            SELECT node AS doc_id, min(label) AS component_id
            FROM reach GROUP BY node
        """,
        "dedup_keep_list": "WITH RECURSIVE " + _MINHASH_PAIRS_CTE + """
            , edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
            ), reach(node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
            ), comps AS (
                SELECT node AS doc_id, min(label) AS component_id
                FROM reach GROUP BY node
            )
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (
                SELECT 1 FROM comps c
                WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component_id
            )
        """,
        "dedup_keep_longest": "WITH RECURSIVE " + _MINHASH_PAIRS_CTE + """
            , edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
            ), reach(node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
            ), comps AS (
                SELECT node AS doc_id, min(label) AS component_id
                FROM reach GROUP BY node
            ), ranked AS (
                SELECT c.doc_id,
                       row_number() OVER (
                           PARTITION BY c.component_id
                           ORDER BY length(d.text) DESC, c.doc_id
                       ) AS rk
                FROM comps c JOIN documents d ON d.doc_id = c.doc_id
            )
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (
                SELECT 1 FROM ranked r WHERE r.doc_id = d.doc_id AND r.rk > 1
            )
        """,
        # dedup-aware split twin: minhash pairs -> recursive closure
        # -> md5 bucket on coalesce(component label, own id) with the
        # hash_split 9000/9500 thresholds
        "leakage_safe_split": "WITH RECURSIVE " + _MINHASH_PAIRS_CTE + """
            , edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
            ), reach(node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
            ), comps AS (
                SELECT node AS doc_id, min(label) AS component_id
                FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   CASE WHEN ('0x' || substr(md5(
                            coalesce(c.component_id, d.doc_id) || ':split'
                        ), 1, 8))::BIGINT % 10000 < 9000 THEN 'train'
                        WHEN ('0x' || substr(md5(
                            coalesce(c.component_id, d.doc_id) || ':split'
                        ), 1, 8))::BIGINT % 10000 < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents d LEFT JOIN comps c USING (doc_id)
        """,
        "dedup_simhash": "WITH " + _SIMHASH_CTE + """
            SELECT doc_id, simhash FROM sims
        """,
        # banded Hamming pairs over the 64-bit simhash: any pair with
        # distance <= 3 shares one of the 4 whole 16-bit bands
        # (pigeonhole); verify with bit_count(xor). Arithmetic >> +
        # mask and the two's-complement sign-bit lane agree between
        # engines (checked: (-2^63 >> 48) & 65535 = 32768 in both)
        "dedup_simhash_pairs": "WITH " + _SIMHASH64_CTE + """
            , banded AS (
                SELECT doc_id, simhash, band,
                       (simhash >> (band * 16)) & 65535 AS bits
                FROM sims64, (SELECT unnest(generate_series(0, 3)) AS band)
            ), bwidth AS (
                -- engine's max_bucket_docs=1000 degenerate-bucket cap
                SELECT band, bits, count(*) AS k FROM banded GROUP BY band, bits
            ), cands AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.simhash AS sa, b.simhash AS sb
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
                JOIN bwidth w ON w.band = a.band AND w.bits = a.bits AND w.k <= 1000
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cands WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "doc_fingerprint": """
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 4) + 1)) AS t(i)
            )
            SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
        """,
        "decontaminate": """
            WITH toksb AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents WHERE source IN ('src18', 'src19')
            ), bg AS (
                SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS shingle
                FROM toksb, UNNEST(range(1, greatest(1, len(w) - 3) + 1)) AS t(i)
            ), toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents WHERE source NOT IN ('src18', 'src19')
            ), cg AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS shingle
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 3) + 1)) AS t(i)
            )
            SELECT cg.doc_id,
                   count(*) AS n_grams,
                   count(bg.shingle) AS n_contaminated,
                   (count(bg.shingle) > 0)::int AS contaminated
            FROM cg LEFT JOIN bg ON cg.shingle = bg.shingle
            GROUP BY cg.doc_id
        """,
        # incremental dedup: same nibble-rotation signatures with an
        # is_new flag per doc; a pair survives iff it shares a band
        # signature, respects the combined-width cap (identical to
        # the batch cap on store ∪ increment), and touches >= 1 new
        # doc — old-old pairs were emitted when those docs were the
        # increment
        "dedup_incremental": """
            WITH toks AS (
                SELECT doc_id,
                       (source IN ('src18', 'src19'))::int AS is_new,
                       regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id, is_new,
                       md5(array_to_string(w[i:i+4], ' ')) AS h
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 4) + 1)) AS t(i)
            ), sigs AS (
                SELECT doc_id, min(is_new) AS is_new, band,
                       min(substr(h, CAST(4 * band + 1 AS INT), CAST(32 - 4 * band AS INT))
                           || substr(h, 1, CAST(4 * band AS INT))) AS sig
                FROM sh, UNNEST(range(0, 8)) AS t(band)
                GROUP BY doc_id, band
            ), bwidth AS (
                SELECT band, sig, count(*) AS k FROM sigs GROUP BY band, sig
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            JOIN bwidth w ON w.band = a.band AND w.sig = a.sig AND w.k <= 1000
            WHERE a.is_new = 1 OR b.is_new = 1
        """,
        # epoch shuffle: shard = 32-bit md5 prefix mod 8 (the repo's
        # standard cross-engine bucket), pos = row_number over the
        # full md5 with the key as tie-break
        "shuffle_shard": """
            WITH keyed AS (
                SELECT doc_id,
                       md5(doc_id || ':epoch0') AS sk,
                       CAST(('0x' || substr(md5(doc_id || ':epoch0'), 1, 8))::BIGINT
                            % 8 AS INT) AS shard
                FROM documents
            )
            SELECT doc_id, shard,
                   row_number() OVER (
                       PARTITION BY shard ORDER BY sk, doc_id::VARCHAR
                   ) AS pos
            FROM keyed
        """,
        # LM scoring: sentinel-padded adjacent pairs (w[0]/w[len+1]
        # are NULL in DuckDB 1-based lists, mirroring Spark's
        # out-of-range F.get), stupid-backoff per-bigram scores
        # floored onto the ppm grid BEFORE summing (float sums are
        # order-dependent; int sums are not), every division a single
        # int/int IEEE op, 0.4 forced ::DOUBLE (bare decimal literals
        # divide on the DECIMAL grid in DuckDB), sums cast off
        # HUGEINT before dividing.
        "lm_score": """
            WITH tr AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents WHERE source IN ('src0', 'src1')
            ), pr AS (
                SELECT w[i] AS tok_a, w[i+1] AS tok_b
                FROM tr, UNNEST(range(0, len(w) + 1)) AS t(i)
            ), P AS (
                SELECT tok_a, tok_b, count(*) AS c FROM pr GROUP BY 1, 2
            ), uni AS (
                SELECT tok_a, CAST(sum(c) AS BIGINT) AS c1
                FROM P WHERE tok_a IS NOT NULL GROUP BY 1
            ), tot AS (
                SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM uni
            ), big AS (
                SELECT tok_a AS w1, tok_b AS w2, c AS c_ab
                FROM P WHERE tok_a IS NOT NULL AND tok_b IS NOT NULL
            ), dr AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents
            ), trows AS (
                SELECT doc_id, w[i] AS w1, w[i+1] AS w2
                FROM dr, UNNEST(range(1, len(w) + 1)) AS t(i)
            ), scored AS (
                SELECT r.doc_id,
                       CASE WHEN u1.c1 IS NULL THEN 1 ELSE 0 END AS oov,
                       CASE WHEN r.w2 IS NOT NULL THEN
                           CAST(floor(
                               CASE WHEN b.c_ab IS NOT NULL
                                    THEN b.c_ab / u1.c1
                                    ELSE (0.4::DOUBLE * coalesce(u2.c1, 0)) / t.n_tok
                               END * 1000000.0) AS BIGINT)
                       END AS score_ppm
                FROM trows r
                LEFT JOIN uni u1 ON r.w1 = u1.tok_a
                LEFT JOIN uni u2 ON r.w2 = u2.tok_a
                LEFT JOIN big b ON r.w1 = b.w1 AND r.w2 = b.w2
                CROSS JOIN tot t
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(oov) AS BIGINT) AS n_oov,
                   CAST(sum(oov) AS BIGINT) / count(*) AS oov_rate,
                   CASE WHEN count(score_ppm) > 0
                        THEN CAST(sum(score_ppm) AS BIGINT) / count(score_ppm)
                   END AS avg_score_ppm
            FROM scored GROUP BY doc_id
        """,
        # DSIR contrast twin: two suffixed train-side chains from
        # _lm_side_cte, ONE shared corpus trows, per-side ppm CASEs
        # identical to lm_score's, weight = the same two divisions
        # subtracted (each a single BIGINT/BIGINT IEEE op)
        "lm_contrast": "WITH "
        + _lm_side_cte("_t", "WHERE source IN ('src0', 'src1')")
        + ","
        + _lm_side_cte("_b", "")
        + """
            , dr AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents
            ), trows AS (
                SELECT doc_id, w[i] AS w1, w[i+1] AS w2
                FROM dr, UNNEST(range(1, len(w) + 1)) AS t(i)
            ), scored AS (
                SELECT r.doc_id,
                       """
        + _lm_score_case("_t")
        + """ AS s_t,
                       """
        + _lm_score_case("_b")
        + """ AS s_b
                FROM trows r
                LEFT JOIN uni_t u1_t ON r.w1 = u1_t.tok_a
                LEFT JOIN uni_t u2_t ON r.w2 = u2_t.tok_a
                LEFT JOIN big_t b_t ON r.w1 = b_t.w1 AND r.w2 = b_t.w2
                LEFT JOIN uni_b u1_b ON r.w1 = u1_b.tok_a
                LEFT JOIN uni_b u2_b ON r.w2 = u2_b.tok_a
                LEFT JOIN big_b b_b ON r.w1 = b_b.w1 AND r.w2 = b_b.w2
                CROSS JOIN tot_t t_t
                CROSS JOIN tot_b t_b
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CASE WHEN count(s_t) > 0
                        THEN CAST(sum(s_t) AS BIGINT) / count(s_t)
                   END AS target_avg_ppm,
                   CASE WHEN count(s_b) > 0
                        THEN CAST(sum(s_b) AS BIGINT) / count(s_b)
                   END AS background_avg_ppm,
                   CASE WHEN count(s_t) > 0
                        THEN CAST(sum(s_t) AS BIGINT) / count(s_t)
                   END
                 - CASE WHEN count(s_b) > 0
                        THEN CAST(sum(s_b) AS BIGINT) / count(s_b)
                   END AS weight
            FROM scored GROUP BY doc_id
        """,
        # sliding-window chunking twin: stride 24 (= 32 - 8), chunk
        # count 1 + ceil(max(0, n - 32) / 24) via integer-exact floor;
        # DuckDB slices are end-INCLUSIVE (w[s : s+31] = 32 tokens)
        "chunk_documents": r"""
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents
            ), s AS (
                SELECT doc_id, w, len(w) AS n,
                       1 + CAST(floor(
                           (greatest(0, len(w) - 32) + 23) / 24
                       ) AS INT) AS n_chunks
                FROM d
            )
            SELECT doc_id, i AS chunk_id,
                   array_to_string(w[1 + i * 24 : 1 + i * 24 + 31], ' ')
                       AS chunk_text,
                   least(32, n - (1 + i * 24) + 1) AS n_chunk_tokens
            FROM s, UNNEST(range(0, n_chunks)) AS t(i)
        """,
        # BM25 twin: identical IEEE op chain (rational Robertson IDF,
        # ppm floor before the integer sum); every fractional literal
        # carries ::DOUBLE because DuckDB bare decimals are DECIMAL
        # and would divide on the DECIMAL grid (the mixture_sample
        # trap); sums/counts cast to BIGINT (HUGEINT otherwise)
        "bm25_topk": """
            WITH qd AS (
                SELECT doc_id AS query_id,
                       regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents WHERE doc_id % 50 = 0
            ), qt AS (
                SELECT DISTINCT query_id, w[i] AS tok
                FROM qd, UNNEST(range(1, least(len(w), 5) + 1)) AS t(i)
            ), dl AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS dl
                FROM documents
            ), st AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS n_tok
                FROM dl
            ), toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM documents
            ), tf AS (
                SELECT doc_id, tok, count(*) AS tf
                FROM toks WHERE tok IN (SELECT tok FROM qt)
                GROUP BY 1, 2
            ), dfq AS (
                SELECT tok, count(*) AS df FROM tf GROUP BY tok
            ), terms AS (
                SELECT t.doc_id, t.tok,
                       CAST(floor(
                           (((s.n_docs - f.df + 0.5::DOUBLE)
                             / (f.df + 0.5::DOUBLE))
                            * ((t.tf * (1.2::DOUBLE + 1.0::DOUBLE))
                               / (t.tf + 1.2::DOUBLE
                                  * (1.0::DOUBLE - 0.75::DOUBLE
                                     + 0.75::DOUBLE
                                       * (d.dl / (s.n_tok / s.n_docs))))))
                           * 1000000.0::DOUBLE) AS BIGINT) AS score_ppm
                FROM tf t
                JOIN dfq f USING (tok)
                JOIN dl d USING (doc_id)
                CROSS JOIN st s
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       CAST(sum(t.score_ppm) AS BIGINT) AS score_ppm
                FROM terms t JOIN qt q USING (tok)
                GROUP BY 1, 2
            )
            SELECT query_id, doc_id, score_ppm, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY score_ppm DESC, doc_id
                ) AS rank FROM scored
            ) WHERE rank <= 5
        """,
        # passage dedup: hot 4-grams (df > 2) cover token positions
        # via the same n-1-PRECEDING range-frame running sum the
        # engine uses; string_agg FILTER rebuilds survivors in order.
        # coalesce('') mirrors Spark concat_ws over an empty array
        # (DuckDB string_agg of zero rows is NULL — pinned engine
        # diff); sum(covered) cast to BIGINT (DuckDB sum(int) is
        # HUGEINT, Spark's is long).
        "passage_dedup": """
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
            ), hot AS (
                SELECT array_to_string(w[i:i+3], ' ') AS gram
                FROM toks, UNNEST(range(1, greatest(0, len(w) - 3) + 1)) AS t(i)
                WHERE len(w) >= 4
                GROUP BY gram HAVING count(DISTINCT doc_id) > 2
            ), prows AS (
                SELECT doc_id, i AS pos, w[i] AS tok,
                       CASE WHEN i <= len(w) - 3
                            THEN array_to_string(w[i:i+3], ' ') END AS gram
                FROM toks, UNNEST(range(1, len(w) + 1)) AS t(i)
            ), hitrows AS (
                SELECT r.doc_id, r.pos, r.tok,
                       CASE WHEN h.gram IS NOT NULL THEN 1 END AS hit
                FROM prows r LEFT JOIN hot h ON r.gram = h.gram
            ), marked AS (
                SELECT doc_id, pos, tok,
                       CASE WHEN coalesce(SUM(hit) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                RANGE BETWEEN 3 PRECEDING AND CURRENT ROW
                            ), 0) > 0 THEN 1 ELSE 0 END AS covered
                FROM hitrows
            )
            SELECT doc_id,
                   coalesce(string_agg(tok, ' ' ORDER BY pos)
                            FILTER (WHERE covered = 0), '') AS clean_text,
                   count(*) AS n_tokens,
                   CAST(sum(covered) AS BIGINT) AS n_removed
            FROM marked GROUP BY doc_id
        """,
        "repetition_signals": """
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
            ), bc AS (
                SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g, count(*) AS c
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 1) + 1)) AS t(i)
                GROUP BY doc_id, g
            ), b AS (
                SELECT doc_id, max(c) / sum(c) AS top_bigram_frac
                FROM bc GROUP BY doc_id
            ), tc AS (
                SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g, count(*) AS c
                FROM toks, UNNEST(range(1, greatest(1, len(w) - 2) + 1)) AS t(i)
                GROUP BY doc_id, g
            ), t3 AS (
                SELECT doc_id,
                       sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS dup_trigram_frac
                FROM tc GROUP BY doc_id
            )
            SELECT doc_id, top_bigram_frac, dup_trigram_frac,
                   (top_bigram_frac > 0.1 OR dup_trigram_frac > 0.05)::int AS repetitive
            FROM b JOIN t3 USING (doc_id)
        """,
        # the oracle IS the naive global-order cumsum the operator's
        # two-phase grouped form must equal by associativity
        "sequence_pack": """
            WITH t AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
                FROM documents
            ), c AS (
                -- sum() over BIGINT is HUGEINT in DuckDB; without the
                -- cast the derived //, % come back HUGEINT and the
                -- driver's Arrow canonicalization coerces them to
                -- float64 (3.0 vs the engine's 3) -> hash mismatch
                SELECT doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) - n_tokens AS BIGINT) AS s
                FROM t
            )
            SELECT doc_id, n_tokens,
                   CAST(s // 512 AS BIGINT) AS pack_id,
                   CAST(s % 512 AS BIGINT) AS pack_offset,
                   (s % 512 + n_tokens > 512)::int AS spans_boundary
            FROM c
        """,
        "bpe_encode": _bpe_encode_oracle(),
        "bpe_pack": _bpe_pack_oracle(),
        "curation_end_to_end": _curation_oracle(),
        "rag_end_to_end": _rag_oracle(),
        "vocab_topk": r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\s+'))
                           AS token
                FROM documents
            )
            SELECT token, count(*) AS n_occ,
                   count(DISTINCT doc_id) AS n_docs
            FROM t GROUP BY 1
            ORDER BY n_occ DESC, token LIMIT 50
        """,
        # lift on the integer-millionths grid via explicitly-DOUBLE
        # IEEE arithmetic (same expression order as the engine); ln()
        # would be a libm last-ulp hazard between engines
        "collocations": r"""
            WITH arr AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                FROM documents
            ), tok AS (
                SELECT doc_id, unnest(a) AS token,
                       generate_subscripts(a, 1) AS pos
                FROM arr
            ), uni AS (
                SELECT token, count(*) AS c1 FROM tok GROUP BY 1
            ), tot AS (
                SELECT count(*) AS n_tok FROM tok
            ), big AS (
                SELECT t1.token AS tok_a, t2.token AS tok_b,
                       count(*) AS c_ab
                FROM tok t1
                JOIN tok t2
                  ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
                GROUP BY 1, 2 HAVING count(*) >= 5
            )
            SELECT tok_a, tok_b, c_ab,
                   CAST(round(c_ab::DOUBLE * n_tok * 1000000
                              / (ua.c1 * ub.c1)) AS BIGINT) AS lift_e6
            FROM big
            JOIN uni ua ON ua.token = tok_a
            JOIN uni ub ON ub.token = tok_b, tot
            ORDER BY lift_e6 DESC, tok_a, tok_b LIMIT 50
        """,
        "pii_scrub": r"""
            WITH aug AS (
                SELECT doc_id,
                       text ||
                       CASE WHEN doc_id % 3 = 0 THEN
                            ' reach user' || doc_id || '@mail.example.com now'
                            ELSE '' END ||
                       CASE WHEN doc_id % 3 = 1 THEN
                            ' host 10.0.' || (doc_id % 256) || '.' ||
                            ((doc_id * 7) % 256) || ' up'
                            ELSE '' END ||
                       CASE WHEN doc_id % 3 = 2 THEN
                            ' call +1 555-01' ||
                            lpad((doc_id % 100)::VARCHAR, 2, '0') || ' today'
                            ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS clean_text,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_email,
                   len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                   len(regexp_extract_all(text,
                       '\+?\d[\d\- ]{7,}\d')) AS n_phone
            FROM aug
        """,
        # w/cap/rate forced to DOUBLE (bare 3.0 is DECIMAL in DuckDB,
        # whose division rounds differently from IEEE doubles) so the
        # rate expression is bit-identical to the engine's
        "mixture_sample": """
            WITH counts AS (
                SELECT source, count(*) AS n FROM documents GROUP BY 1
            ), wtd AS (
                SELECT source, n,
                       CASE WHEN source = 'src0' THEN 3.0::DOUBLE
                            WHEN source = 'src1' THEN 3.0::DOUBLE
                            WHEN source = 'src2' THEN 0.0::DOUBLE
                            ELSE 1.0::DOUBLE END AS w
                FROM counts
            ), cap AS (
                SELECT min(n / w) AS c FROM wtd WHERE w > 0
            ), rates AS (
                SELECT source,
                       CASE WHEN w > 0
                            THEN least(1.0::DOUBLE, w * c / n)
                            ELSE 0.0::DOUBLE END AS rate
                FROM wtd, cap
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r USING (source)
            WHERE ('0x' || substr(md5(d.doc_id || ':mixture'), 1, 8))::BIGINT
                  % 10000 < round(rate * 10000)
        """,
        "lang_id_counts": """
            WITH pred AS (
                SELECT doc_id, lang,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' with ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' that ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' for ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' this ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' have ') THEN 1 ELSE 0 END) AS en,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' yang ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dan ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dengan ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' untuk ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' dari ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' adalah ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' ini ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' pada ') THEN 1 ELSE 0 END) AS ind
                FROM documents
            )
            SELECT lang,
                   CASE WHEN ind >= 2 AND ind > en THEN 'id'
                        WHEN en >= 2 THEN 'en'
                        ELSE 'other' END AS predicted,
                   count(*) AS n
            FROM pred GROUP BY 1, 2
        """,
        "token_counts": """
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                   length(text) AS n_chars,
                   len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                   x -> length(x) > 0)) AS n_alpha_tokens
            FROM documents
        """,
        "quality_scores": """
            WITH f AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                       length(text) AS n_chars,
                       length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
                       length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
                       (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' to ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' in ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' a ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(' ' || lower(text) || ' ', ' that ') THEN 1 ELSE 0 END) AS stop_hits
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   round(CAST(nonspace AS DOUBLE) / n_tokens, 4) AS mean_word_len,
                   round(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
                   stop_hits,
                   CASE WHEN n_tokens >= 10 AND stop_hits >= 2 THEN 'keep'
                        WHEN n_tokens >= 10 THEN 'review'
                        ELSE 'drop' END AS quality_bucket
            FROM f
        """,
        # composed verdict: quality_scores + lang panels + PII counts
        # in one row-local CTE, repetition fractions from the
        # repetition_signals twin, rules concat_ws'd in fixed order
        # (concat_ws skips NULL CASE arms in both engines)
        "quality_filter": _QUALITY_CTE + """
            SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stop_hits,
                   predicted_lang, n_pii, top_bigram_frac, dup_trigram_frac,
                   reasons,
                   CASE WHEN reasons = '' THEN 'keep' ELSE 'drop' END AS verdict
            FROM r
        """,
        # dashboard aggregate over the same CTE: exact reason-list
        # membership (split, not substring), HUGEINT sums cast,
        # avg_tokens a single BIGINT/BIGINT IEEE division
        "quality_report": _QUALITY_CTE + """
            SELECT source,
                   CASE WHEN reasons = '' THEN 'keep' ELSE 'drop' END AS verdict,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(sum(n_tokens) AS BIGINT) / count(*) AS avg_tokens,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'too_short') THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'too_long') THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'word_length') THEN 1 ELSE 0 END) AS BIGINT) AS n_word_length,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'punctuation') THEN 1 ELSE 0 END) AS BIGINT) AS n_punctuation,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'stopwords') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'language') THEN 1 ELSE 0 END) AS BIGINT) AS n_language,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'rep_bigram') THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_bigram,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'rep_trigram') THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_trigram,
                   CAST(sum(CASE WHEN list_contains(string_split(reasons, ','), 'pii') THEN 1 ELSE 0 END) AS BIGINT) AS n_pii
            FROM r GROUP BY source, verdict
        """,
        # DuckDB twin of corpus.span_rows_from_flat(kind_hash='md5') in
        # FULL (kinds, offsets, media_refs AND chunked span text) +
        # the reading-order reassembly skeleton of the pipeline_*
        # queries: per doc, span/media counts, raw text length, the
        # md5 of the offset-ordered (kind, offset, media_ref, text-md5)
        # sequence, and the length-gated status. Offsets are unique per
        # doc (7i + h%5), so ORDER BY off is a total order on both
        # sides.
        "pipeline_skeleton": r"""
            WITH base AS (
                SELECT printf('doc-%012d', doc_id) AS doc_id,
                       regexp_split_to_array(text, '\s+') AS w
                FROM documents
            ), sized AS (
                SELECT doc_id, w, greatest(1, least(8, len(w))) AS n FROM base
            ), chunked AS (
                SELECT doc_id, w, n,
                       CAST(ceil(len(w) / CAST(n AS DOUBLE)) AS INT) AS chunk
                FROM sized
            ), idx AS (
                SELECT doc_id, w, chunk,
                       unnest(generate_series(0, n - 1)) AS i
                FROM chunked
            ), hashed AS (
                SELECT doc_id, w, chunk, i,
                       ('0x' || substr(md5(doc_id || ':' || i), 1, 8))::BIGINT AS h32
                FROM idx
            ), spans AS (
                SELECT doc_id,
                       list_extract(
                           ['para','para','para','heading','list','html',
                            'pdf_line','table','form','receipt','id_card',
                            'scientific','image','video','audio','para'],
                           CAST(h32 % 16 AS INT) + 1) AS kind,
                       CAST(i * 7 + (h32 % 5) AS INT) AS off,
                       -- coalesce: array_to_string of an EMPTY slice
                       -- (past-the-end chunk) is NULL in DuckDB but
                       -- '' under Spark's concat_ws
                       coalesce(array_to_string(
                           w[CAST(i * chunk + 1 AS INT) : CAST(i * chunk + chunk AS INT)],
                           ' '), '') AS txt
                FROM hashed
            ), typed AS (
                SELECT doc_id, kind, off,
                       CASE WHEN kind IN ('image','video','audio')
                            THEN 'm-' || substr(md5(doc_id || ':' || off), 1, 12)
                       END AS media_ref,
                       CASE WHEN kind IN ('image','video','audio')
                            THEN NULL ELSE txt END AS stext
                FROM spans
            ), agged AS (
                SELECT doc_id,
                       count(*) AS n_spans,
                       CAST(sum(CASE WHEN kind IN ('image','video','audio')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
                       CAST(sum(length(coalesce(stext, ''))) AS BIGINT) AS n_text_chars,
                       md5(string_agg(
                           kind || ':' || off || ':' || coalesce(media_ref, '')
                                || ':' || coalesce(md5(stext), ''),
                           '|' ORDER BY off)) AS seq_md5
                FROM typed GROUP BY doc_id
            )
            SELECT doc_id, n_spans, n_media, n_text_chars, seq_md5,
                   CASE WHEN n_text_chars >= 20 THEN 'ok'
                        WHEN n_text_chars > 0 THEN 'short'
                        ELSE 'empty' END AS len_status
            FROM agged
        """,
        "session_window": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS session_start_us,
                   max(epoch_us(ts)) + 1800000000 AS session_end_us,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY user_id, sid
        """,
        "entity_harvest": """
            SELECT doc_id,
                   coalesce(array_to_string(list_sort(list_distinct(
                       regexp_extract_all(text, '[A-Z][a-z]+ [A-Z][a-z]+')))[1:3], '|'), '') AS names,
                   coalesce(array_to_string(list_sort(list_distinct(
                       regexp_extract_all(text, '\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}')))[1:2], '|'), '') AS dates
            FROM documents
        """,
        "signage_content": """
            WITH c AS (
                SELECT text, CASE
                    WHEN text IS NULL OR text = '' THEN 'unknown'
                    WHEN contains(lower(text),'menu') OR contains(lower(text),'restaurant')
                      OR contains(lower(text),'cafe') OR contains(lower(text),'food')
                      OR contains(lower(text),'kuliner') THEN 'restaurant_promotion'
                    WHEN contains(lower(text),'sale') OR contains(lower(text),'discount')
                      OR contains(lower(text),'diskon') OR contains(lower(text),'store')
                      OR contains(lower(text),'shop') THEN 'retail_promotion'
                    WHEN contains(lower(text),'promo') OR contains(lower(text),'offer')
                      OR contains(lower(text),'gratis') OR contains(lower(text),'free')
                      THEN 'promotion'
                    WHEN contains(lower(text),'for sale') OR contains(lower(text),'for rent')
                      OR contains(lower(text),'dijual') OR contains(lower(text),'disewakan')
                      THEN 'property'
                    WHEN contains(lower(text),'dilarang') OR contains(lower(text),'pemerintah')
                      OR contains(lower(text),'kantor') OR contains(lower(text),'office')
                      THEN 'government'
                    WHEN contains(lower(text),'masjid') OR contains(lower(text),'mosque')
                      OR contains(lower(text),'church') OR contains(lower(text),'gereja')
                      THEN 'religious'
                    WHEN contains(lower(text),'selamat') OR contains(lower(text),'congratulations')
                      OR contains(lower(text),'happy') OR contains(lower(text),'welcome')
                      THEN 'celebration'
                    WHEN contains(lower(text),'exit') OR contains(lower(text),'entrance')
                      OR contains(lower(text),'arah') OR contains(lower(text),'masuk')
                      OR contains(lower(text),'keluar') THEN 'directional'
                    WHEN contains(lower(text),'danger') OR contains(lower(text),'warning')
                      OR contains(lower(text),'awas') OR contains(lower(text),'hati-hati')
                      OR contains(lower(text),'caution') THEN 'warning'
                    ELSE 'general' END AS signage_class
                FROM documents
            ), d AS (
                SELECT signage_class, CASE signage_class
                    WHEN 'unknown' THEN 'Could not determine the content of this sign.'
                    WHEN 'restaurant_promotion' THEN 'This is a promotional sign for a restaurant or food establishment offering special deals.'
                    WHEN 'retail_promotion' THEN 'This is a retail promotion sign advertising sales or special offers.'
                    WHEN 'promotion' THEN 'This appears to be a promotional sign or banner advertising a special offer or deal.'
                    WHEN 'property' THEN 'This is a property sign that appears to be advertising rental or sale information.'
                    WHEN 'government' THEN 'This is an official sign from a government office or agency.'
                    WHEN 'religious' THEN 'This appears to be a religious sign or announcement.'
                    WHEN 'celebration' THEN 'This is a celebration or commemorative banner for a special event or occasion.'
                    WHEN 'directional' THEN 'This is a directional or navigation sign.'
                    WHEN 'warning' THEN 'This is a warning or safety sign alerting of potential hazards or prohibitions.'
                    ELSE CASE WHEN contains(text, chr(10))
                         THEN 'This sign contains the main text "'
                              || string_split(text, chr(10))[1]
                              || '" followed by additional information.'
                         ELSE 'This appears to be a general informational sign or banner.'
                    END END AS description
                FROM c
            )
            SELECT signage_class, description, count(*) AS n
            FROM d GROUP BY signage_class, description
        """,
        "knn_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                    CAST(qv AS DOUBLE[])), 6) AS cos
                FROM embeddings, q
            )
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank,
                   cos
            FROM scored ORDER BY cos DESC, vec_id LIMIT 10
        """,
        # W3/W5/W6 share the deterministic line derivation of
        # ops/windows.doc_lines (wrap every 6 words, md5-class each
        # line) — mirrored verbatim here; md5 and the regex semantics
        # are identical across engines.
        "w3_paragraph_fold": _LINES_CTE + """
            , flagged AS (
                SELECT *, CASE WHEN lag(kind) OVER w IS NULL
                                 OR kind <> 'regular'
                                 OR lag(kind) OVER w <> 'regular'
                                 OR (regexp_matches(lag(line) OVER w, '[.!?]$')
                                     AND regexp_matches(line, '^[A-Z0-9]'))
                          THEN 1 ELSE 0 END AS new_para
                FROM classed
                WINDOW w AS (PARTITION BY doc_id ORDER BY ln)
            ), para AS (
                SELECT *, CAST(sum(new_para) OVER (PARTITION BY doc_id ORDER BY ln
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS para_id
                FROM flagged
            )
            SELECT doc_id, para_id,
                   string_agg(line, ' ' ORDER BY ln) AS para_text,
                   count(*) AS n_lines
            FROM para WHERE kind <> 'empty'
            GROUP BY doc_id, para_id
        """,
        "w5_header_sections": _LINES_CTE + """
            , flagged AS (
                SELECT *, CASE WHEN kind = 'heading'
                                 OR (kind <> 'empty' AND lead(kind) OVER w = 'empty')
                          THEN 1 ELSE 0 END AS is_header
                FROM classed
                WINDOW w AS (PARTITION BY doc_id ORDER BY ln)
            ), sec AS (
                SELECT *, CAST(sum(is_header) OVER (PARTITION BY doc_id ORDER BY ln
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS section_id
                FROM flagged
            )
            SELECT doc_id, section_id,
                   coalesce(min(line) FILTER (WHERE is_header = 1), '') AS header,
                   coalesce(string_agg(line, ' ' ORDER BY ln)
                            FILTER (WHERE is_header = 0 AND kind <> 'empty'), '') AS content,
                   count(*) AS n_lines
            FROM sec GROUP BY doc_id, section_id
        """,
        "w6_bullet_fold": _LINES_CTE + """
            , grouped AS (
                SELECT *, CAST(sum(CASE WHEN kind IN ('bullet','empty') THEN 1 ELSE 0 END)
                               OVER (PARTITION BY doc_id ORDER BY ln
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
                FROM classed
            )
            SELECT doc_id, grp AS item_id,
                   '• ' || string_agg(CASE WHEN kind = 'bullet' THEN substr(line, 3)
                                           ELSE line END, ' ' ORDER BY ln) AS item_text,
                   count(*) - 1 AS n_continuations
            FROM grouped
            GROUP BY doc_id, grp
            HAVING arg_min(kind, ln) = 'bullet'
        """,
        "response_clean": r"""
            SELECT doc_id,
                   trim(replace(regexp_replace(regexp_replace(text, '\n+', ' ', 'g'),
                                               '\s+', ' ', 'g'), '\', '')) AS response_text
            FROM documents
        """,
        # LSH planes are md5((lane,dim))-derived (ops/similarity.py
        # plane_matrix), so the bucket + probe are DuckDB-expressible
        "knn_lsh": _BUCKETS_CTE + """
            , q AS (SELECT embedding AS qv, bucket AS qbucket
                    FROM bucketed WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos
            FROM bucketed b, q
            WHERE b.bucket = q.qbucket
            ORDER BY cos DESC, vec_id LIMIT 10
        """,
        # IVF with the fixed md5-derived quantizer: centroids are exact
        # in both engines; assignment + probe sims round to 6 dp before
        # the argmax/top-nprobe so BLAS-vs-sequential summation ulps
        # can't flip a comparison (same argument as the LSH sign test)
        "knn_ivf": """
            WITH dims AS (SELECT len(embedding) AS nd FROM embeddings LIMIT 1),
            comps AS (
                SELECT cid, d,
                       ('0x' || substr(md5('ivf' || cid || ':' || d), 1, 8))::BIGINT
                           / 2147483648.0 - 1.0 AS comp
                FROM (SELECT unnest(generate_series(0, 7)) AS cid),
                     (SELECT unnest(generate_series(0, (SELECT nd - 1 FROM dims))) AS d)
            ),
            cents AS (SELECT cid, list(comp ORDER BY d) AS c FROM comps GROUP BY cid),
            sims AS (
                SELECT vec_id, embedding, cid,
                       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), c), 6) AS sim
                FROM embeddings, cents
            ),
            assigned AS (
                SELECT vec_id, embedding, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY sim DESC, cid) AS rn
                    FROM sims
                ) WHERE rn = 1
            ),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            probes AS (
                SELECT cid FROM (
                    SELECT cid,
                           round(list_cosine_similarity(CAST(qv AS DOUBLE[]), c), 6) AS s
                    FROM cents, q
                    ORDER BY s DESC, cid LIMIT 4
                )
            )
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos
            FROM assigned a, q
            WHERE a.cid IN (SELECT cid FROM probes)
            ORDER BY cos DESC, vec_id LIMIT 10
        """,
        "embedding_near_dup": _BUCKETS_CTE + """
            , pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
                FROM bucketed a JOIN bucketed b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.3
        """,
        # SemDeDup twin: the knn_ivf md5-quantizer CTE (round-6
        # sims before the argmax AND on the pairs) -> recursive
        # closure for components -> peripheral keep (lowest centroid
        # sim per component, vec_id tie-break)
        "semantic_dedup": """
            WITH RECURSIVE dims AS (
                SELECT len(embedding) AS nd FROM embeddings LIMIT 1
            ), comps0 AS (
                SELECT cid, d,
                       ('0x' || substr(md5('ivf' || cid || ':' || d), 1, 8))::BIGINT
                           / 2147483648.0 - 1.0 AS comp
                FROM (SELECT unnest(generate_series(0, 7)) AS cid),
                     (SELECT unnest(generate_series(0, (SELECT nd - 1 FROM dims))) AS d)
            ),
            cents AS (SELECT cid, list(comp ORDER BY d) AS c FROM comps0 GROUP BY cid),
            sims AS (
                SELECT vec_id, embedding, cid,
                       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), c), 6) AS sim
                FROM embeddings, cents
            ),
            assigned AS (
                SELECT vec_id, embedding, cid, sim AS csim FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY sim DESC, cid) AS rn
                    FROM sims
                ) WHERE rn = 1
            ),
            pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
                FROM assigned a JOIN assigned b
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                WHERE round(list_cosine_similarity(
                          CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
            ),
            edges AS (
                SELECT vec_a AS src, vec_b AS dst FROM pairs
                UNION
                SELECT vec_b AS src, vec_a AS dst FROM pairs
            ), reach(node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
            ), comp AS (
                SELECT node AS vec_id, min(label) AS component_id
                FROM reach GROUP BY node
            ), members AS (
                SELECT a.vec_id, a.csim, c.component_id
                FROM assigned a LEFT JOIN comp c USING (vec_id)
            ), ranked AS (
                SELECT vec_id, component_id, csim,
                       row_number() OVER (PARTITION BY component_id
                                          ORDER BY csim ASC, vec_id) AS rk
                FROM members WHERE component_id IS NOT NULL
            )
            SELECT vec_id, vec_id AS component_id, csim
            FROM members WHERE component_id IS NULL
            UNION ALL
            SELECT vec_id, component_id, csim FROM ranked WHERE rk = 1
        """,
        # ops/sampling.py twins: md5-bucket in [0,10000) from the same
        # 32-bit-prefix construction as the LSH planes
        "sample_split": """
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 8))::BIGINT
                             % 10000 < 9000 THEN 'train'
                        WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 8))::BIGINT
                             % 10000 < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "sample_bernoulli": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substr(md5(doc_id || ':sample'), 1, 8))::BIGINT
                  % 10000 < 2500
        """,
        "stratified_sample": """
            WITH ranked AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(doc_id || ':strata'), doc_id::VARCHAR
                       ) AS rk
                FROM documents
            )
            SELECT doc_id, lang FROM ranked WHERE rk <= 20
        """,
        "asof_join": """
            WITH a AS (
                SELECT user_id, event_id, ts FROM events
                WHERE event_type = 'purchase'
            ), b AS (
                SELECT user_id, ts, max(event_id) AS right_event_id
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts
            )
            SELECT a.user_id,
                   a.event_id AS left_event_id,
                   epoch_us(a.ts) AS left_ts_us,
                   coalesce(b.right_event_id, -1) AS right_event_id,
                   coalesce(epoch_us(b.ts), -1) AS right_ts_us,
                   coalesce(epoch_us(a.ts) - epoch_us(b.ts), -1) AS gap_us
            FROM a ASOF LEFT JOIN b
              ON a.user_id = b.user_id AND a.ts >= b.ts
        """,
        "range_join": """
            WITH camp AS (
                SELECT CAST(i AS INT) AS campaign_id,
                       1704067200000000 + i * 30 * 3600000000 AS start_us,
                       1704067200000000 + i * 30 * 3600000000
                           + ((i % 3) + 1) * 12 * 3600000000 AS end_us
                FROM (SELECT unnest(generate_series(0, 23)) AS i)
            )
            SELECT e.event_id, c.campaign_id
            FROM events e JOIN camp c
              ON epoch_us(e.ts) >= c.start_us AND epoch_us(e.ts) < c.end_us
        """,
        # hierarchical CTEs mirror the engine's partial re-aggregation
        # (hour from minute, day from hour) so fp summation follows
        # the same tree on both sides
        "hierarchical_rollup": """
            WITH minute AS (
                SELECT (epoch_us(ts) // 60000000) * 60 AS bucket_start_s,
                       event_type, count(*) AS n, sum(value) AS sum_value
                FROM events GROUP BY 1, 2
            ), hour AS (
                SELECT (bucket_start_s // 3600) * 3600 AS bucket_start_s,
                       event_type, CAST(sum(n) AS BIGINT) AS n,
                       sum(sum_value) AS sum_value
                FROM minute GROUP BY 1, 2
            ), day AS (
                SELECT (bucket_start_s // 86400) * 86400 AS bucket_start_s,
                       event_type, CAST(sum(n) AS BIGINT) AS n,
                       sum(sum_value) AS sum_value
                FROM hour GROUP BY 1, 2
            )
            -- avg on the integer ten-thousandths grid (cents*100/n):
            -- division ties become EXACT doubles, which both engines
            -- round away from zero — round(total/n, 4) broke on
            -- boundary quotients like 1512.12/32 = 47.25375
            SELECT 'minute' AS grain, bucket_start_s, event_type, n,
                   round(sum_value, 2) AS total_value,
                   CAST(round(CAST(round(round(sum_value, 2) * 100) AS BIGINT)
                              * 100 / n) AS BIGINT) / 10000.0 AS avg_value
            FROM minute
            UNION ALL
            SELECT 'hour', bucket_start_s, event_type, n,
                   round(sum_value, 2),
                   CAST(round(CAST(round(round(sum_value, 2) * 100) AS BIGINT)
                              * 100 / n) AS BIGINT) / 10000.0
            FROM hour
            UNION ALL
            SELECT 'day', bucket_start_s, event_type, n,
                   round(sum_value, 2),
                   CAST(round(CAST(round(round(sum_value, 2) * 100) AS BIGINT)
                              * 100 / n) AS BIGINT) / 10000.0
            FROM day
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "media_catalog": _MEDIA_CTE + """
            SELECT media_ref, media_type, width, height, duration_ms,
                   codec, n_bytes
            FROM catalog
        """,
        "frame_sample": _MEDIA_CTE + """
            , frames AS (
                SELECT media_ref, duration_ms,
                       CAST(unnest(generate_series(0, duration_ms - 1, 10000))
                            AS INT) AS frame_ts_ms
                FROM catalog WHERE media_type = 'video'
            )
            SELECT media_ref, duration_ms, frame_ts_ms,
                   CAST(frame_ts_ms // 10000 AS INT) AS frame_idx,
                   media_ref || '#' || frame_ts_ms AS frame_ref
            FROM frames
        """,
        "length_buckets": r"""
            WITH t AS (
                SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
                FROM documents
            )
            SELECT CASE WHEN n_tokens <= 64 THEN '<=64'
                        WHEN n_tokens <= 128 THEN '<=128'
                        WHEN n_tokens <= 256 THEN '<=256'
                        WHEN n_tokens <= 512 THEN '<=512'
                        WHEN n_tokens <= 1024 THEN '<=1024'
                        ELSE '>1024' END AS bucket,
                   count(*) AS n_docs,
                   sum(n_tokens)::BIGINT AS total_tokens
            FROM t GROUP BY bucket
        """,
    }
