"""Text analysis operators (driver brief: language-ID, quality
scoring, token counting, fingerprinting) over a flat document table.

Everything is built-in expressions — whole-stage codegen, exact SQL
oracle twins. The full rule-faithful language detector (44+48 keyword
scores, ref lib/text_processing.py:1782-1857) lives in
``rules.langdetect`` and runs in the pipeline's metadata UDF; the
variant here is the JVM-side approximation used for corpus-level
analytics where a Python round trip per doc is not worth it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import _persist, _tokens

# compact keyword panels for the JVM-side language heuristic — a
# subset of rules/langdetect.py chosen for SQL expressibility
_EN_PANEL = ("the", "and", "is", "with", "that", "for", "this", "have")
_ID_PANEL = ("yang", "dan", "dengan", "untuk", "dari", "adalah", "ini", "pada")


def _hits(col: Column, words: tuple[str, ...]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    out = F.lit(0)
    for w in words:
        out = out + F.when(padded.contains(f" {w} "), 1).otherwise(0)
    return out


def lang_id(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, predicted) — keyword-panel vote, en/id/other.
    ``keep`` carries extra source columns through the projection so a
    consumer comparing the prediction against a label column doesn't
    join back to the source (a join is a second corpus scan —
    Catalyst doesn't reuse the branch subtrees)."""
    return docs.select("doc_id", *keep, _lang(F.col("text")).alias("predicted"))


def _lang(text: Column) -> Column:
    en = _hits(text, _EN_PANEL)
    ind = _hits(text, _ID_PANEL)
    return (
        F.when((ind >= 2) & (ind > en), F.lit("id"))
        .when(en >= 2, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, n_alpha_tokens) — whitespace tokens
    plus a BPE-ish alpha-run count (letter runs = rough subword
    lower bound)."""
    toks = _tokens()
    alpha_runs = F.size(
        F.filter(F.split(F.col("text"), r"[^A-Za-z]+"), lambda t: F.length(t) > 0)
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        alpha_runs.alias("n_alpha_tokens"),
    )


_STOP_PANEL = ("the", "and", "of", "to", "in", "a", "is", "that")


def _quality_features(text: Column) -> tuple[Column, Column, Column, Column]:
    """(n_tokens, mean_word_len, punct_ratio, stop_hits), the ratios on
    the rounded grids the oracles compare."""
    n_tokens = F.size(_tokens(text))
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    mean_word_len = F.round(
        (F.length(F.regexp_replace(text, r"\s+", "")) / n_tokens).cast("double"), 4
    )
    punct_ratio = F.round((punct / n_chars).cast("double"), 6)
    return n_tokens, mean_word_len, punct_ratio, _hits(text, _STOP_PANEL)


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + bucket: token count, mean word
    length, punctuation ratio, stopword ratio — the classic
    pretraining-filter features (C4/Gopher-style)."""
    n_tokens, mean_word_len, punct_ratio, stop_hits = _quality_features(
        F.col("text")
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_hits.alias("stop_hits"),
        F.when((n_tokens >= 10) & (stop_hits >= 2), F.lit("keep"))
        .when(n_tokens >= 10, F.lit("review"))
        .otherwise(F.lit("drop"))
        .alias("quality_bucket"),
    )


def entity_harvest(docs: DataFrame) -> DataFrame:
    """A12 entity harvest (ref lib/text_processing.py:2184-2222:
    names/dates regexes, distinct, truncation): top-3 Title-Case
    name pairs and top-2 date literals per doc. Distinct + sort +
    slice keeps the output deterministic and oracle-comparable.
    Pure codegen expressions; both regexes are Java/RE2-compatible
    so the DuckDB oracle uses the identical patterns."""
    text = F.col("text")
    names = F.slice(
        F.array_sort(
            F.array_distinct(
                F.regexp_extract_all(text, F.lit(r"[A-Z][a-z]+ [A-Z][a-z]+"), 0)
            )
        ),
        1,
        3,
    )
    dates = F.slice(
        F.array_sort(
            F.array_distinct(
                F.regexp_extract_all(
                    text, F.lit(r"\d{1,2}[/-]\d{1,2}[/-]\d{2,4}"), 0
                )
            )
        ),
        1,
        2,
    )
    return docs.select("doc_id", names.alias("names"), dates.alias("dates"))


# F15 signage content classes (ref app/core/ocr_processor.py:273-343
# keyword ladder); order = precedence, first hit wins
_SIGNAGE_LADDER = (
    ("restaurant_promotion", ("menu", "restaurant", "cafe", "food", "kuliner")),
    ("retail_promotion", ("sale", "discount", "diskon", "store", "shop")),
    ("promotion", ("promo", "offer", "gratis", "free")),
    ("property", ("for sale", "for rent", "dijual", "disewakan")),
    ("government", ("dilarang", "pemerintah", "kantor", "office")),
    ("religious", ("masjid", "mosque", "church", "gereja")),
    ("celebration", ("selamat", "congratulations", "happy", "welcome")),
    ("directional", ("exit", "entrance", "arah", "masuk", "keluar")),
    ("warning", ("danger", "warning", "awas", "hati-hati", "caution")),
)


# canned per-class descriptions, verbatim from the reference
# (app/core/ocr_processor.py:273-343); 'general' is dynamic — the
# reference embeds the first line when the sign has >= 2 lines
_SIGNAGE_DESCRIPTIONS = {
    "unknown": "Could not determine the content of this sign.",
    "restaurant_promotion": "This is a promotional sign for a restaurant or food establishment offering special deals.",
    "retail_promotion": "This is a retail promotion sign advertising sales or special offers.",
    "promotion": "This appears to be a promotional sign or banner advertising a special offer or deal.",
    "property": "This is a property sign that appears to be advertising rental or sale information.",
    "government": "This is an official sign from a government office or agency.",
    "religious": "This appears to be a religious sign or announcement.",
    "celebration": "This is a celebration or commemorative banner for a special event or occasion.",
    "directional": "This is a directional or navigation sign.",
    "warning": "This is a warning or safety sign alerting of potential hazards or prohibitions.",
}


def signage_classify(docs: DataFrame) -> DataFrame:
    """F15 signage content classifier as a when-ladder over lowered
    text; 'general' fallback, 'unknown' for empty text (ref
    ``if not text``). Emits the reference's canned ``description``
    alongside the class — for 'general' the multi-line form embeds
    the first line (ref :338-343). One narrow projection."""
    text = F.col("text")
    lowered = F.lower(text)
    expr = F.lit("general")
    for cls, words in reversed(_SIGNAGE_LADDER):
        hit = F.lit(False)
        for w in words:
            hit = hit | lowered.contains(w)
        expr = F.when(hit, F.lit(cls)).otherwise(expr)
    cls_col = F.when(text.isNull() | (text == ""), F.lit("unknown")).otherwise(expr)
    # two-step select: the class ladder (~30 contains over 10 CASEs)
    # is MATERIALIZED as a column first, then the description ladder
    # switches on that column — inlining cls_col into each of the 10
    # description branches would clone the whole ladder 11x (codegen
    # bloat toward the 64KB method limit, per-row re-evaluation)
    classed = docs.select("doc_id", text.alias("_text"), cls_col.alias("signage_class"))
    t = F.col("_text")
    general_desc = F.when(
        t.contains("\n"),
        F.concat(
            F.lit('This sign contains the main text "'),
            F.split(t, "\n").getItem(0),
            F.lit('" followed by additional information.'),
        ),
    ).otherwise(F.lit("This appears to be a general informational sign or banner."))
    desc = general_desc
    for cls, d in _SIGNAGE_DESCRIPTIONS.items():
        desc = F.when(F.col("signage_class") == cls, F.lit(d)).otherwise(desc)
    return classed.select("doc_id", "signage_class", desc.alias("description"))


def corpus_cardinality(
    docs: DataFrame, rsd: float = 0.05, exact: bool = False
) -> DataFrame:
    """One-row corpus cardinality stats: distinct texts (by md5),
    distinct whitespace tokens, and total token occurrences, in ONE
    corpus scan (the text digest rides the token explode — no second
    derivation, no join-back).

    ``exact=False`` (default) uses ``approx_count_distinct`` (HLL++,
    relative standard deviation ``rsd``) — the 100-TB form (r3
    VERDICT #4): exact count-distinct shuffles every distinct VALUE
    to its reducer (the token vocabulary of a web corpus is billions
    of strings), while the HLL sketch is a fixed few-KB buffer per
    partition merged once, so the shuffle is O(partitions), not
    O(vocabulary). ``exact=True`` is the small-scale twin the pytest
    tolerance-pins the sketch against (sketches legitimately differ
    across engines, so there is deliberately no DuckDB value-hash
    oracle for the approx form)."""
    rows = docs.select(
        F.md5(F.col("text")).alias("_h"),
        F.explode(_tokens(F.lower("text"))).alias("tok"),
    )
    if exact:
        nd_text = F.count_distinct(F.col("_h"))
        nd_tok = F.count_distinct(F.col("tok"))
    else:
        nd_text = F.approx_count_distinct("_h", rsd)
        nd_tok = F.approx_count_distinct("tok", rsd)
    return rows.agg(
        nd_text.alias("n_distinct_texts"),
        nd_tok.alias("n_distinct_tokens"),
        F.count(F.lit(1)).alias("n_token_occurrences"),
    )


def repetition_signals(
    docs: DataFrame,
    top_bigram_thresh: float = 0.2,
    dup_trigram_thresh: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1
    run char-fraction versions of these over MassiveText): per doc,
    the fraction of bigram occurrences taken by the single most
    common bigram (``top_bigram_frac``) and the fraction of trigram
    occurrences belonging to trigrams seen more than once
    (``dup_trigram_frac``), plus the 0/1 ``repetitive`` verdict at
    the given thresholds. Boilerplate and looping-generator text
    score high on both; clean prose stays near zero.

    Shape — deliberately ONE pass: a two-branch version (bigram agg
    JOIN trigram agg) measured here as 2 FileScans + a broadcast of a
    per-doc aggregate (Catalyst does not reuse identical branch
    subtrees, the repo's pinned trap class, and a per-doc frame is
    corpus-sized — never broadcastable at 10^12 docs). Instead one
    index explode emits BOTH gram widths as (width, gram) rows
    (trigram gated to its own index range so short docs keep the
    whole-text-gram edge), one (doc_id, width, gram) count agg, and
    conditional final aggregates — 1 scan, 1 exchange, no join.
    Fractions are single divisions of exact per-doc integers
    (IEEE-identical in any engine), so the SQL oracle needs no
    rounding grid.
    """
    toks = _tokens()
    n = F.size(toks)
    bigram_n = F.greatest(F.lit(1), n - F.lit(1))
    trigram_n = F.greatest(F.lit(1), n - F.lit(2))
    idx = docs.repartition("doc_id").select(
        "doc_id",
        toks.alias("_w"),
        trigram_n.alias("_t3"),
        F.explode(F.sequence(F.lit(1), bigram_n)).alias("_i"),
    )
    grams = idx.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).alias("width"),
                    F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), 2)).alias("g"),
                ),
                F.struct(
                    F.lit(3).alias("width"),
                    F.when(
                        F.col("_i") <= F.col("_t3"),
                        F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), 3)),
                    ).alias("g"),
                ),
            )
        ).alias("wg"),
    ).select("doc_id", F.col("wg.width").alias("width"), F.col("wg.g").alias("g"))
    counts = (
        grams.filter(F.col("g").isNotNull())
        .groupBy("doc_id", "width", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is2 = F.col("width") == 2
    is3 = F.col("width") == 3
    c = F.col("c")
    return counts.groupBy("doc_id").agg(
        (F.max(F.when(is2, c)) / F.sum(F.when(is2, c))).alias("top_bigram_frac"),
        (
            F.sum(F.when(is3 & (c > 1), c).otherwise(F.when(is3, 0)))
            / F.sum(F.when(is3, c))
        ).alias("dup_trigram_frac"),
    ).select(
        "doc_id",
        "top_bigram_frac",
        "dup_trigram_frac",
        (
            (F.col("top_bigram_frac") > top_bigram_thresh)
            | (F.col("dup_trigram_frac") > dup_trigram_thresh)
        )
        .cast("int")
        .alias("repetitive"),
    )


# PII patterns chosen for cross-engine regex parity: no lookbehind/
# lookahead (RE2-legal, so the DuckDB oracle runs the SAME pattern),
# ASCII word boundaries only. Scrub order matters and is fixed:
# emails first (their local parts can contain digit runs), then IPv4
# (dotted quads are not phone-shaped but a phone pattern with
# permissive separators could nibble them), then phones.
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction — the compliance pass of a training-data
    pipeline: masks emails, IPv4 addresses and phone-shaped digit
    runs with typed placeholder tokens and emits per-doc match counts
    (the audit trail: total masked volume per category is one sum
    away).

    Pure per-row projection built from ``regexp_extract_all`` /
    ``regexp_replace`` — whole-stage codegen, no shuffle, no Python;
    at 100 TB this runs entirely inside the scan stage and column
    pruning keeps it to (id, text). Patterns are RE2-compatible by
    construction so the oracle twin executes the identical regex.
    """
    text = F.col("text")
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in _PII_PATTERNS
    ]
    clean = text
    for _, pat, token in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return docs.select("doc_id", clean.alias("clean_text"), *counts)


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary heavy-hitters: top-``k`` whitespace tokens by
    occurrence count with document frequency — the stopword-discovery /
    tokenizer-vocab-seeding pass. One explode + ONE partial-combining
    hash agg (per-partition map-side combine collapses each partition
    to its local vocab before the word-key exchange), then a global
    top-k that Spark executes as TakeOrderedAndProject — per-partition
    k-row heaps merged on the driver, never a full sort of the
    vocabulary. Ties break to the lexicographically smaller token so
    the result is deterministic and oracle-hashable."""
    tok = F.explode(_tokens()).alias("token")
    return (
        docs.select("doc_id", tok)
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(k)
    )


def _pair_counts(train: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The train side of every bigram statistic here, from ONE scan:
    ``(P, uni)``. Catalyst never reuses identical branch subtrees, so
    separate unigram, bigram and token-total aggs would be three
    corpus passes. Instead one index explode emits sentinel-padded
    adjacent pairs — ``(NULL, first)``, every ``(w_i, w_{i+1})``,
    ``(last, NULL)`` — into ONE (tok_a, tok_b) count agg ``P``: the
    unigram count ``uni.c1`` of ``t`` sums the pair counts with
    ``tok_a = t`` (the trailing sentinel makes each occurrence a left
    position exactly once), the token total sums ``c1``, and the
    bigram counts are the non-sentinel rows. ``P`` is vocab²-bounded
    and persisted; the caller owns the cache (:func:`dedup._persist`).
    NULL-text docs are dropped up front, config-proof: with
    spark.sql.legacy.sizeOfNull, size(NULL) is -1 and the explode
    would emit phantom rows."""
    arr = _tokens()
    P = _persist(
        train.filter(F.col("text").isNotNull())
        .select(arr.alias("_w"), F.explode(F.sequence(F.lit(0), F.size(arr))).alias("_i"))
        .select(
            F.get(F.col("_w"), F.col("_i") - 1).alias("tok_a"),
            F.get(F.col("_w"), F.col("_i")).alias("tok_b"),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = (
        P.filter(F.col("tok_a").isNotNull())
        .groupBy("tok_a")
        .agg(F.sum("c").alias("c1"))
    )
    return P, uni


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Bigram collocation mining (phrase discovery): adjacent token
    pairs scored by association lift ``count(ab) * n_tokens /
    (count(a) * count(b))`` — the PMI argument before the log, emitted
    on an integer millionths grid (``round(.. * 1e6)``) because the
    grid is exact integer arithmetic in both engines where ``ln`` is
    a libm last-ulp hazard; callers wanting true PMI take the log of
    ``lift_e6 / 1e6`` downstream, which is order-preserving.

    Shape — the corpus is scanned ONCE, into the persisted pair-count
    diamond of :func:`_pair_counts`. The
    uni-count joins shuffle on word keys (AQE handles skew);
    ``min_count`` prunes the bigram tail BEFORE the joins. ``lift_e6``
    is computed in explicitly-double IEEE arithmetic mirrored by the
    oracle."""
    P, uni = _pair_counts(docs)
    total = uni.agg(F.sum("c1").alias("n_tok"))
    big = P.filter(
        F.col("tok_a").isNotNull()
        & F.col("tok_b").isNotNull()
        & (F.col("c") >= min_count)
    ).select("tok_a", "tok_b", F.col("c").alias("c_ab"))
    ua = uni.select("tok_a", F.col("c1").alias("c_a"))
    ub = uni.select(F.col("tok_a").alias("tok_b"), F.col("c1").alias("c_b"))
    return (
        big.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double")
                * F.col("n_tok")
                * F.lit(1_000_000)
                / (F.col("c_a") * F.col("c_b"))
            )
            .cast("bigint")
            .alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(k)
    )


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """The corpus side of the LMs: one (doc_id, w1, w2) row per token,
    ``w2`` NULL on the last one, so a doc's row count is its token
    count and its non-NULL ``w2`` rows are its bigrams. NULL-text docs
    are dropped for the reason :func:`_pair_counts` gives."""
    arr = _tokens()
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        arr.alias("_w"),
        F.explode(F.sequence(F.lit(1), F.size(arr))).alias("pos"),
    ).select(
        "doc_id",
        F.get(F.col("_w"), F.col("pos") - 1).alias("w1"),
        F.get(F.col("_w"), F.col("pos")).alias("w2"),
    )


def _lm_side(
    rows: DataFrame, train: DataFrame, sfx: str
) -> tuple[DataFrame, DataFrame]:
    """``rows`` (from :func:`_doc_bigrams`) joined with one bigram
    model trained on ``train`` — ``c_w1{sfx}``, ``c_w2{sfx}`` (unigram
    counts, NULL when out of vocabulary) and ``c_ab{sfx}`` (bigram
    count) — with the model's one-row ``n_tok{sfx}`` token total for
    the caller to cross join after all its model joins. Both unigram
    joins broadcast — a vocabulary is orders below corpus size — and
    the bigram join is an equi-key join Catalyst/AQE sizes."""
    P, uni = _pair_counts(train)
    total = uni.agg(F.sum("c1").alias(f"n_tok{sfx}"))
    big = P.filter(
        F.col("tok_a").isNotNull() & F.col("tok_b").isNotNull()
    ).select(
        F.col("tok_a").alias("w1"),
        F.col("tok_b").alias("w2"),
        F.col("c").alias(f"c_ab{sfx}"),
    )
    u1 = uni.select(F.col("tok_a").alias("w1"), F.col("c1").alias(f"c_w1{sfx}"))
    u2 = uni.select(F.col("tok_a").alias("w2"), F.col("c1").alias(f"c_w2{sfx}"))
    joined = (
        rows.join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .join(big, ["w1", "w2"], "left")
    )
    return joined, F.broadcast(total)


def _score_ppm(sfx: str) -> Column:
    """Stupid-backoff score of a bigram row on the integer millionths
    grid: ``c(w1,w2)/c(w1)`` when the bigram was seen, else ``0.4 *
    c(w2)/T``; NULL on a doc's last token (no bigram)."""
    return F.when(
        F.col("w2").isNotNull(),
        F.floor(
            F.when(
                F.col(f"c_ab{sfx}").isNotNull(),
                F.col(f"c_ab{sfx}") / F.col(f"c_w1{sfx}"),
            ).otherwise(
                F.lit(0.4)
                * F.coalesce(F.col(f"c_w2{sfx}"), F.lit(0))
                / F.col(f"n_tok{sfx}")
            )
            * F.lit(1_000_000.0)
        ).cast("bigint"),
    )


def lm_score(
    docs: DataFrame,
    train: DataFrame | None = None,
) -> DataFrame:
    """N-gram language-model quality scoring — the CCNet-style
    "perplexity filter" a pretraining pipeline runs to rank documents
    against a clean reference corpus, as a bigram stupid-backoff model
    (Brants et al. 2007: at web scale backoff weights are a fixed
    0.4, not trained discounts). Per document:

    - ``oov_rate``: fraction of tokens absent from the train unigrams
    - ``avg_score_ppm``: mean per-bigram score on the integer
      millionths grid, where a seen bigram scores ``c(w1,w2)/c(w1)``
      and an unseen one backs off to ``0.4 * c(w2)/T``

    Scores are floored onto the ppm grid BEFORE the per-doc sum so
    the sum is exact integer arithmetic — a float sum's value depends
    on aggregation order, which no distributed engine (or oracle)
    reproduces; each per-bigram score is a fixed two-or-three-op IEEE
    chain, identical in any engine. True log-domain perplexity is a
    monotone transform callers apply downstream; it is kept out of
    the operator because ``ln`` is a cross-engine libm last-ulp
    hazard (the repo's pinned trap from ``collocations``).

    Shape (100 TB): the train side is scanned ONCE into the persisted
    pair-count diamond (:func:`_pair_counts`). The corpus side explodes token rows once
    (:func:`_doc_bigrams`), :func:`_lm_side` broadcasts the two
    vocabulary joins onto them, and the final per-doc agg is the
    single guaranteed corpus exchange.

    ``train`` defaults to ``docs`` (self-scoring); the production use
    is a held-out clean corpus, which also exercises the backoff path
    (self-scoring never can — every doc bigram is in its own train
    set by construction). NULL-text docs are excluded from scoring on
    both sides (pinned by a NULL-text edge test).
    """
    train = docs if train is None else train
    scored, total = _lm_side(_doc_bigrams(docs), train, "")
    return (
        scored.crossJoin(total)
        .select(
            "doc_id",
            F.col("c_w1").isNull().cast("int").alias("oov"),
            _score_ppm("").alias("score_ppm"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("n_oov"),
            F.sum("score_ppm").alias("_ssum"),
            F.count("score_ppm").alias("_nb"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            # single int/int IEEE division — bit-identical in any
            # engine, no rounding grid needed (a round(x, 6) would
            # reintroduce the half-up-vs-half-even tie hazard)
            (F.col("n_oov") / F.col("n_tokens")).alias("oov_rate"),
            F.when(
                F.col("_nb") > 0, F.col("_ssum") / F.col("_nb")
            ).alias("avg_score_ppm"),
        )
    )


def quality_filter(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    max_pii: int | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """End-to-end document quality verdict — the composition a
    pretraining pipeline actually runs (the Gopher rules, Rae et al.
    2021 §A1.1, plus C4's stopword/language gates): every per-doc
    signal this module computes, folded into one keep/drop verdict
    with a ``reasons`` audit column naming each failed rule in fixed
    rule order (comma-joined; empty string = keep). The single-signal
    operators (:func:`quality_scores`, :func:`lang_id`,
    :func:`repetition_signals`, :func:`pii_scrub`) stay the
    fine-grained API; this is the ``dedup_keep_list`` analogue for
    the quality family.

    Rules (in ``reasons`` order): ``too_short``/``too_long`` (fewer
    than 10 / more than 100,000 tokens), ``word_length`` (mean word
    length outside [3, 12]), ``punctuation`` (punct ratio above 0.2),
    ``stopwords`` (fewer than 2 panel hits), ``language`` (predicted
    language not in ``langs``; pass ``()`` to disable),
    ``rep_bigram``/``rep_trigram`` (Gopher repetition fractions
    above 0.2 / 0.3), ``pii`` (total PII matches above ``max_pii``;
    ``None`` counts but never drops).

    Shape (100 TB): every row-local signal (token/char counts,
    ratios, stopword+language panels, PII counts) is computed in ONE
    projection inside the scan stage — composing by joining the four
    single-signal operators would be four corpus scans (Catalyst
    never reuses branch subtrees, the repo's pinned trap). The only
    second scan + exchange belongs to :func:`repetition_signals`
    (inherently aggregating); its doc_id partitioning feeds the
    final equi-join. Ratio comparisons happen on the same rounded
    grids the single ops publish, so the verdict is oracle-exact.

    Streams: a verdict never crosses docs, so a stream gets the same
    per-doc verdicts by calling this on each micro-batch inside
    ``foreachBatch``.
    """
    text = F.col("text")
    n_tokens, mean_word_len, punct_ratio, stop_hits = _quality_features(text)
    n_pii = None
    for name, pat, _ in _PII_PATTERNS:
        c = F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        n_pii = c if n_pii is None else n_pii + c
    row_cols = [
        "doc_id",
        *passthrough,  # extra source columns ride the projection —
        # a consumer grouping the verdict by e.g. source must not
        # join back to the corpus (second scan, the pinned trap)
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_hits.alias("stop_hits"),
        _lang(text).alias("predicted_lang"),
        n_pii.alias("n_pii"),
    ]
    rep = repetition_signals(docs).select(
        "doc_id", "top_bigram_frac", "dup_trigram_frac"
    )
    j = docs.select(*row_cols).join(rep, "doc_id")
    rules: list[tuple[str, Column]] = [
        ("too_short", F.col("n_tokens") < 10),
        ("too_long", F.col("n_tokens") > 100_000),
        (
            "word_length",
            (F.col("mean_word_len") < 3.0) | (F.col("mean_word_len") > 12.0),
        ),
        ("punctuation", F.col("punct_ratio") > 0.2),
        ("stopwords", F.col("stop_hits") < 2),
    ]
    if langs:
        rules.append(("language", ~F.col("predicted_lang").isin(*langs)))
    rules.append(("rep_bigram", F.col("top_bigram_frac") > 0.2))
    rules.append(("rep_trigram", F.col("dup_trigram_frac") > 0.3))
    if max_pii is not None:
        rules.append(("pii", F.col("n_pii") > max_pii))
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return j.withColumn("reasons", reasons).withColumn(
        "verdict",
        F.when(F.col("reasons") == "", F.lit("keep")).otherwise(F.lit("drop")),
    )


def quality_report(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    **filter_kwargs,
) -> DataFrame:
    """Corpus-quality dashboard aggregate: per group (default: per
    ``source``) and verdict, the document count, total/average token
    volume, and the drop-rule histogram as a deterministic
    ``reason:count`` string (rules in fixed rule order) — the
    per-domain observability report a curation run publishes next to
    its outputs, so "which sources are dying, and why" is one scan
    away instead of a notebook session.

    Built ON :func:`quality_filter` with ``passthrough=group_cols``
    (the group columns ride the row-local projection — joining back
    to the corpus for them would be a second scan). The reason
    histogram pivots on the fixed rule vocabulary with conditional
    counts (exact membership in the split reasons list), NOT by
    exploding the reasons array:
    an explode would multiply the corpus rows before the aggregation
    for a histogram whose width is bounded by the 9-rule vocabulary.
    ``avg_tokens`` is one long/long IEEE division — oracle-exact.
    """
    qf = quality_filter(docs, passthrough=group_cols, **filter_kwargs)
    rule_names = (
        "too_short", "too_long", "word_length", "punctuation",
        "stopwords", "language", "rep_bigram", "rep_trigram", "pii",
    )
    reason_counts = [
        F.sum(
            F.when(
                F.array_contains(F.split(F.col("reasons"), ","), name), 1
            ).otherwise(0)
        ).alias(f"n_{name}")
        for name in rule_names
    ]
    return (
        qf.groupBy(*group_cols, "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.sum("n_tokens") / F.count(F.lit(1))).alias("avg_tokens"),
            *reason_counts,
        )
    )


def lm_contrast(
    docs: DataFrame,
    target: DataFrame,
    background: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023,
    arXiv:2302.03169): per document, the contrast between a
    target-domain LM score and a background LM score —
    ``weight = target_avg_ppm - background_avg_ppm`` — the data-
    selection signal for sampling a pretraining corpus toward a
    target domain (positive = more target-like than the background).
    Both sides are the :func:`lm_score` bigram stupid-backoff model
    on the integer ppm grid; the weight is ONE IEEE subtraction of
    two exact int/int divisions, so the whole operator stays
    oracle-exact with no log anywhere (libm hazard; the pre-log
    contrast is monotone in the true likelihood ratio per bigram
    count, which is all ranking-based selection needs).

    Deliberately FUSED rather than composed from two
    :func:`lm_score` calls: the corpus-side token explode — the only
    corpus-scale stage — runs ONCE, with both models joined onto the
    same rows by :func:`_lm_side` (composition would explode the
    corpus twice; Catalyst never reuses branch subtrees). The two
    train-side pair-count diamonds stay separate and vocab²-bounded.
    ``background=None`` scores against
    ``docs`` itself (the DSIR default: raw-corpus background).
    """
    background = docs if background is None else background
    rows, tot_t = _lm_side(_doc_bigrams(docs), target, "_t")
    rows, tot_b = _lm_side(rows, background, "_b")
    return (
        rows.crossJoin(tot_t)
        .crossJoin(tot_b)
        .select(
            "doc_id",
            _score_ppm("_t").alias("s_t"),
            _score_ppm("_b").alias("s_b"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s_t").alias("_st"),
            F.count("s_t").alias("_nt"),
            F.sum("s_b").alias("_sb"),
            F.count("s_b").alias("_nb"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("_nt") > 0, F.col("_st") / F.col("_nt")).alias(
                "target_avg_ppm"
            ),
            F.when(F.col("_nb") > 0, F.col("_sb") / F.col("_nb")).alias(
                "background_avg_ppm"
            ),
            (
                F.when(F.col("_nt") > 0, F.col("_st") / F.col("_nt"))
                - F.when(F.col("_nb") > 0, F.col("_sb") / F.col("_nb"))
            ).alias("weight"),
        )
    )
