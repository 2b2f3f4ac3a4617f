"""Deterministic synthetic corpus generators (FIXTURES.md §1).

Two shapes:

1. :func:`generate_docs` — pure-Python, seeded; builds interleaved
   text+media documents exercising every cleanup rule family (OCR
   confusions, merged words, hyphen breaks, receipts, KTP ID cards,
   tables, forms, scientific notation, boilerplate HTML, scrambled
   pdf_line ordering, media passthrough). Used by unit/golden tests.

2. :func:`spans_from_flat` — Spark-native derivation of the spans
   corpus from the driver's flat ``documents.parquet``
   (doc_id, text, ...) so bench/driver-contract runs use the provided
   testdata (TESTDATA.md) without any driver-side loops. Fully
   deterministic: kinds/media interleaving keyed on xxhash64 of
   (doc_id, span index); media_ref = sha1 as in FIXTURES.md §1.

No wall-clock, no uuid anywhere (SURVEY.md §4: determinism ban).
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column, DataFrame, functions as F

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"

_EN_WORDS = (
    "the quick brown fox jumps over a lazy dog while many people watch "
    "this result is important because we must consider the main point "
    "data systems will have more value when they are used with care"
).split()
_ID_WORDS = (
    "yang dengan dan untuk dari pada adalah ini itu dalam tidak akan "
    "saya mereka bisa oleh jika telah sudah harus dapat karena kepada "
    "tentang seperti juga ada sebuah tersebut anda sangat kemudian"
).split()


def _media_ref(doc_id: str, offset: int) -> str:
    return "m-" + hashlib.sha1(f"{doc_id}:{offset}".encode()).hexdigest()[:12]


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    toks = [rng.choice(words) for _ in range(n)]
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + rng.choice([".", ".", ".", "!", "?"])


def _para_text(rng: random.Random, words: list[str]) -> str:
    sents = [_sentence(rng, words, rng.randint(5, 14)) for _ in range(rng.randint(2, 5))]
    text = " ".join(sents)
    # inject OCR-style damage the F1/F2 rules must repair
    if rng.random() < 0.5:
        text = text.replace(" of the ", " ofthe ", 1)
    if rng.random() < 0.3:
        text = text.replace(" the ", " tbe ", 1)
    if rng.random() < 0.4:
        words_in = text.split(" ")
        i = rng.randrange(max(1, len(words_in) - 1))
        words_in[i] = words_in[i] + "-\n" + "joined"
        text = " ".join(words_in)
    if rng.random() < 0.4:
        text = text.replace(" ", "  ", 2)
    if rng.random() < 0.3:
        text += f" Ref {rng.randint(1,9)}l{rng.randint(1,9)} code."
    if rng.random() < 0.2:
        text = text.replace(" a ", " a,,quoted'' ", 1)
    if rng.random() < 0.3:
        text += " TheEnd is near" + rng.choice([".", "!"])
    return text


def _heading_text(rng: random.Random, words: list[str]) -> str:
    n = rng.randint(2, 5)
    toks = [rng.choice(words) for _ in range(n)]
    if rng.random() < 0.5:
        return " ".join(t.upper() for t in toks)
    return " ".join(t.capitalize() for t in toks)


def _list_text(rng: random.Random, words: list[str]) -> str:
    marks = ["- ", "* ", "• ", "+ "]
    lines = []
    for i in range(rng.randint(3, 6)):
        mark = f"{i+1}. " if rng.random() < 0.3 else rng.choice(marks)
        lines.append(mark + _sentence(rng, words, rng.randint(3, 7)))
    return "\n".join(lines)


def _table_text(rng: random.Random) -> str:
    headers = ["Name", "Qty", "Price"]
    style = rng.choice(["pipe", "tab", "space"])
    rows = [[f"item{rng.randint(1,99)}", str(rng.randint(1, 9)), f"{rng.randint(1,99)}.{rng.randint(10,99)}"] for _ in range(rng.randint(3, 5))]
    if style == "pipe":
        lines = [" | ".join(headers)] + [" | ".join(r) for r in rows]
    elif style == "tab":
        lines = ["\t".join(headers)] + ["\t".join(r) for r in rows]
    else:
        lines = ["Name      Qty   Price"] + [f"{r[0]:<10}{r[1]:<6}{r[2]}" for r in rows]
    return "\n".join(lines)


def _form_text(rng: random.Random) -> str:
    lines = [
        f"first name  Alex{rng.randint(1,9)}",
        f"email   user{rng.randint(1,99)}@example.com",
        "gender  [x] M [ ] F",
        f"city  Springfield{rng.randint(1,9)}",
    ]
    rng.shuffle(lines)
    return "\n".join(lines)


def _receipt_text(rng: random.Random) -> str:
    total = rng.randint(10, 99)
    return "\n".join(
        [
            f"MART {rng.randint(1,99)} STORE",
            f"DATE: {rng.randint(1,28)}/{rng.randint(1,12)}/202{rng.randint(0,5)}",
            "ITEMS",
            f"coffee {rng.randint(1,3)} {rng.randint(2,9)}.50",
            f"bread {rng.randint(2,9)}.25",
            f"SUBTOTAI {total}.00",
            f"TAX {rng.randint(1,9)}.10",
            f"TOTAI {total}.99",
            "CASI-I",
            "THANI< YOU",
        ]
    )


def _id_card_text(rng: random.Random) -> str:
    nik = " ".join(str(rng.randint(1000, 9999)) for _ in range(4))
    return "\n".join(
        [
            "PROVINSI JAWA BARAT",
            f"NIK {nik}",
            f"nama  Budi Santoso{rng.randint(1,9)}",
            f"tempat tgl lahir Bandung {rng.randint(1,9)}/{rng.randint(1,9)}/{rng.randint(70,99)}",
            "jenis kelamin LAKI-LAKI",
            "agama ISLAM",
        ]
    )


def _scientific_text(rng: random.Random) -> str:
    return (
        f"E = m c^2 and x^{rng.choice('23')} grows. "
        f"H_2 O at {rng.randint(10,99)} degs, dose {rng.randint(1,9)} mg, "
        f"alpha decay rate approx {rng.randint(1,9)}x{rng.randint(2,9)}."
    )


def _html_text(rng: random.Random, words: list[str]) -> str:
    if rng.random() < 0.4:  # boilerplate: link farm / nav chrome
        links = "".join(
            f'<a href="/p{n}">{rng.choice(words)} {rng.choice(words)}</a> '
            for n in range(rng.randint(4, 8))
        )
        return f"<div class='nav'>{links}</div>"
    body = " ".join(_sentence(rng, words, rng.randint(6, 12)) for _ in range(2))
    return f"<div><p>{body}</p><a href='/x'>more</a><script>var x=1;</script></div>"


def _pdf_line_text(rng: random.Random, words: list[str]) -> str:
    return " ".join(rng.choice(words) for _ in range(rng.randint(3, 8)))


_TEXT_GENS = {
    "para": lambda rng, w: _para_text(rng, w),
    "heading": lambda rng, w: _heading_text(rng, w),
    "list": lambda rng, w: _list_text(rng, w),
    "table": lambda rng, w: _table_text(rng),
    "form": lambda rng, w: _form_text(rng),
    "receipt": lambda rng, w: _receipt_text(rng),
    "id_card": lambda rng, w: _id_card_text(rng),
    "scientific": lambda rng, w: _scientific_text(rng),
    "html": lambda rng, w: _html_text(rng, w),
    "pdf_line": lambda rng, w: _pdf_line_text(rng, w),
}
_KIND_WEIGHTS = [
    ("para", 36), ("heading", 8), ("list", 8), ("html", 10),
    ("pdf_line", 8), ("table", 5), ("form", 5), ("receipt", 4),
    ("id_card", 3), ("scientific", 4), ("image", 6), ("video", 2),
    ("audio", 1),
]
_KINDS = [k for k, _ in _KIND_WEIGHTS]
_WEIGHTS = [w for _, w in _KIND_WEIGHTS]


def generate_docs(n_docs: int = 100, seed: int = 42, scramble: bool = True,
                  mega_doc_spans: int = 0) -> list[dict]:
    """Seeded corpus: list of {doc_id, spans:[{kind,text,media_ref,offset}]}.

    ``scramble`` shuffles span order within the array (offsets still
    encode reading order) so reassembly must actually sort.
    ``mega_doc_spans`` > 0 appends one skew document with that many
    spans (FIXTURES.md size distribution: pinned mega-docs).
    """
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        doc_id = f"doc-{d:08d}"
        words = _ID_WORDS if rng.random() < 0.3 else _EN_WORDS
        n_spans = max(1, int(rng.lognormvariate(2.3, 0.8)))
        spans, offset = [], 0
        for _ in range(n_spans):
            kind = rng.choices(_KINDS, weights=_WEIGHTS, k=1)[0]
            if kind in ("image", "video", "audio"):
                spans.append(
                    {"kind": kind, "text": None, "media_ref": _media_ref(doc_id, offset), "offset": offset}
                )
            else:
                spans.append(
                    {"kind": kind, "text": _TEXT_GENS[kind](rng, words), "media_ref": None, "offset": offset}
                )
            offset += rng.randint(1, 5)
        if scramble and rng.random() < 0.5:
            rng.shuffle(spans)
        docs.append({"doc_id": doc_id, "spans": spans})
    if mega_doc_spans > 0:
        doc_id = f"doc-mega-{n_docs:08d}"
        spans = []
        for i in range(mega_doc_spans):
            if i % 17 == 0:
                spans.append({"kind": "image", "text": None, "media_ref": _media_ref(doc_id, i), "offset": i})
            else:
                spans.append(
                    {"kind": "para", "text": _para_text(rng, _EN_WORDS), "media_ref": None, "offset": i}
                )
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


def docs_to_df(spark, docs: list[dict]) -> DataFrame:
    rows = [
        (
            d["doc_id"],
            None if d["spans"] is None
            else [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]],
        )
        for d in docs
    ]
    return spark.createDataFrame(rows, f"doc_id string, spans array<{SPAN_STRUCT}>")


# --------------------------------------------------------------------
# Spark-native spans derivation from the driver's flat documents table
# --------------------------------------------------------------------

_FLAT_KINDS = [
    "para", "para", "para", "heading", "list", "html", "pdf_line",
    "table", "form", "receipt", "id_card", "scientific", "image",
    "video", "audio", "para",
]


def _kind_of(h: Column) -> Column:
    """Deterministic kind from the span hash *h*: an array-literal
    lookup, ``element_at(kinds, pmod(h, len) + 1)``, computed JVM-side
    with no Python."""
    bucket = F.pmod(h, F.lit(len(_FLAT_KINDS)))
    return F.element_at(
        F.array(*[F.lit(k) for k in _FLAT_KINDS]), (bucket + 1).cast("int")
    )


def _span_fields(i: Column, h: Column, kind: Column, ref_hash=F.sha1) -> list[Column]:
    """The four span field expressions for span index *i* with span
    hash *h* and kind *kind* (needs columns doc_id, w, chunk in scope);
    media spans get ``"m-" + ref_hash(doc_id:offset)[:12]`` and NULL
    text. Shared by the array and row derivations so both produce
    bit-identical spans. All plain (non-higher-order) expressions —
    whole-stage-codegen friendly."""
    offset = (i * 7 + F.pmod(h, F.lit(5))).cast("int")
    is_media = kind.isin("image", "video", "audio")
    span_text = F.concat_ws(
        " ", F.slice(F.col("w"), (i * F.col("chunk") + 1).cast("int"), F.col("chunk"))
    )
    ref_key = F.concat_ws(":", F.col("doc_id"), offset.cast("string"))
    media_ref = F.concat(F.lit("m-"), F.substring(ref_hash(ref_key), 1, 12))
    return [
        kind.alias("kind"),
        F.when(is_media, F.lit(None).cast("string")).otherwise(span_text).alias("text"),
        F.when(is_media, media_ref).otherwise(F.lit(None).cast("string")).alias("media_ref"),
        offset.alias("offset"),
    ]


def _flat_base(documents: DataFrame, spans_per_doc: int) -> DataFrame:
    words = F.split(F.col("text"), r"\s+")
    n = F.greatest(F.lit(1), F.least(F.lit(spans_per_doc), F.size(words)))
    return documents.select(
        F.format_string("doc-%012d", F.col("doc_id")).alias("doc_id"),
        words.alias("w"),
        F.ceil(F.size(words) / n).cast("int").alias("chunk"),
        n.cast("int").alias("n"),
    )


def spans_from_flat(documents: DataFrame, spans_per_doc: int = 8) -> DataFrame:
    """Derive the canonical spans-shaped corpus from the driver's flat
    ``documents(doc_id bigint, text string, ...)`` table, entirely with
    built-in expressions in ONE narrow stage — ``transform(sequence)``
    builds the array in place, so there is no explode/groupBy shuffle
    and the derivation costs a single projection even at 10^12 docs.

    Each doc's text is split into word chunks spread over up to
    ``spans_per_doc`` spans; per-span kind is a deterministic hash of
    (doc_id, span index); media spans carry the FIXTURES.md media_ref
    ``"m-" + sha1(doc_id:offset)[:12]`` and NULL text.

    NOTE: use this when the *array* table itself is the product (e.g.
    materializing the corpus). A pipeline that immediately explodes
    should start from :func:`span_rows_from_flat` instead — exploding
    a higher-order-function-derived array re-evaluates the interpreted
    lambda under GenerateExec (benched ~100x slower than exploding a
    materialized array).
    """
    def span(i: Column) -> Column:
        h = F.xxhash64(F.col("doc_id"), i)
        return F.struct(*_span_fields(i, h, _kind_of(h)))

    return _flat_base(documents, spans_per_doc).select(
        "doc_id",
        F.transform(F.sequence(F.lit(0), F.col("n") - 1), span).alias("spans"),
    )


def span_rows_from_flat(documents: DataFrame, spans_per_doc: int = 8,
                        partitions: int | None = None,
                        kind_hash: str = "xxhash64") -> DataFrame:
    """Exploded twin of :func:`spans_from_flat`: one row per span,
    derived with plain codegen'd expressions (explode a sequence of
    indices, then project the shared span-field expressions) — no
    higher-order functions anywhere, so the whole derivation stays
    inside WholeStageCodegen. Bit-identical values to exploding
    :func:`spans_from_flat`.

    ``partitions``: hash-repartition the COMPACT flat rows by doc_id
    before the explode. Generate/Project preserve that partitioning on
    the very doc_id attribute a downstream ``groupBy("doc_id")``
    clusters on, so the reassembly aggregation needs NO further
    exchange — the whole pipeline then shuffles only the short flat
    rows, never the 10x-wider span rows. (A pandas UDF between would
    break this: ArrowEvalPython drops outputPartitioning.)

    ``kind_hash``: which hash drives the kind/offset interleaving and
    the media_ref. The default ``"xxhash64"`` (+ sha1 media_ref) is
    the flagship derivation — fastest JVM hash, byte-pinned by the
    golden tests. ``"md5"`` derives bit-identical-in-DuckDB values
    (md5 is the only hash both engines share), which is what gives
    the media-catalog/frame-sample contract queries a SQL oracle; the
    span semantics and plan shape are unchanged."""
    if kind_hash not in ("xxhash64", "md5"):
        raise ValueError(f"kind_hash must be 'xxhash64' or 'md5', got {kind_hash!r}")
    base = _flat_base(documents, spans_per_doc)
    if partitions:
        base = base.repartition(partitions, "doc_id")
    idx = base.select(
        "doc_id",
        "w",
        "chunk",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("_i"),
    )
    i = F.col("_i")
    if kind_hash == "xxhash64":
        h = F.xxhash64(F.col("doc_id"), i)
    else:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), i.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
    # hoist kind into its own projection, evaluated ONCE per span
    # instead of re-inlined into each of the three kind-dependent fields
    staged = idx.select("doc_id", "w", "chunk", "_i", _kind_of(h).alias("_kind"))
    ref_hash = F.sha1 if kind_hash == "xxhash64" else F.md5
    return staged.select("doc_id", *_span_fields(i, h, F.col("_kind"), ref_hash))
