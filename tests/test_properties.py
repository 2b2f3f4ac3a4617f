"""Property-based fuzzing of the rule surface (hypothesis).

These are Spark-free: the rules modules are the executable spec the
UDFs run, so total-function guarantees here are crash-freedom
guarantees for every executor batch at 10^12-doc scale (an uncaught
exception in a pandas UDF fails the task, retries, then the job).
"""

from __future__ import annotations

import re
import sys
from string import ascii_lowercase
from unittest import mock

import pytest
from hypothesis import example, given, settings, strategies as st

from smartglass_ocr_spark.golden import process_document, process_span
from smartglass_ocr_spark.rules import casefold as _casefold
from smartglass_ocr_spark.rules import cleanup as _cleanup
from smartglass_ocr_spark.rules import confidence as _confidence
from smartglass_ocr_spark.rules import extract as _extract
from smartglass_ocr_spark.rules import structure as _structure
from smartglass_ocr_spark.rules import summarize as _summarize
from smartglass_ocr_spark.rules.classify import classify_block
from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
from smartglass_ocr_spark.rules.extract import extract_structured
from smartglass_ocr_spark.rules.langdetect import detect_language
from smartglass_ocr_spark.rules.markdown import render_markdown
from smartglass_ocr_spark.rules.casefold import fold
from smartglass_ocr_spark.rules.structure import detect_structure
from smartglass_ocr_spark.rules.summarize import extract_key_insights, generate_summary

TEXT_KINDS = (
    "para", "heading", "list", "html", "pdf_line", "table", "form",
    "receipt", "id_card", "scientific",
)
KNOWN_CLASSES = {
    "content", "heading", "list", "pdf_line", "table", "form", "receipt",
    "id_card", "scientific", "boilerplate", "media",
}

any_text = st.text(max_size=400)
kinds = st.sampled_from(TEXT_KINDS + ("image", "video", "audio"))


@settings(max_examples=300, deadline=None)
@given(kind=kinds, text=st.one_of(st.none(), any_text))
def test_process_span_total_and_deterministic(kind, text):
    a = process_span(kind, text)
    b = process_span(kind, text)
    assert a == b
    block_class, clean = a
    assert block_class in KNOWN_CLASSES
    if kind in ("image", "video", "audio"):
        assert (block_class, clean) == ("media", text)  # byte passthrough
    else:
        assert clean is not None


@settings(max_examples=200, deadline=None)
@given(text=any_text)
def test_doc_rules_total(text):
    assert detect_language(text) in ("en", "id", "latin", "non-latin", "unknown")
    assert isinstance(detect_structure(text), str)
    conf = weighted_confidence(text)
    assert 0.0 <= conf <= 100.0
    assert status_for(conf, text) in ("success", "partial_success", "poor_quality")
    assert isinstance(generate_summary(text), str)
    assert isinstance(extract_key_insights(text), list)
    for cls in ("content", "id_card", "receipt", "form", "table"):
        info = extract_structured(cls, text)
        assert all(isinstance(k, str) and isinstance(v, str) for k, v in info.items())


@settings(max_examples=100, deadline=None)
@given(
    spans=st.lists(
        st.tuples(kinds, st.one_of(st.none(), st.text(max_size=120)),
                  st.one_of(st.none(), st.integers(0, 10**6), st.integers(0, 3))),
        min_size=1,
        max_size=20,
    )
)
@example(spans=[("para", "a", 3), ("para", "b", 3)])
def test_process_document_invariants(spans):
    doc = {
        "doc_id": "d",
        "spans": [
            {
                "kind": k,
                "text": None if k in ("image", "video", "audio") else (t or ""),
                "media_ref": "m-x" if k in ("image", "video", "audio") else None,
                "offset": off,
            }
            for k, t, off in spans
        ],
    }
    out = process_document(doc)
    # span-count conservation + offset monotonicity + media identity
    assert len(out["spans"]) == len(doc["spans"])
    # NULL offsets last
    offs = [s["offset"] for s in out["spans"]]
    n_set = sum(o is not None for o in offs)
    assert offs[:n_set] == sorted(o for o in offs if o is not None)
    in_media = [s for s in doc["spans"] if s["media_ref"]]
    for s in out["spans"]:
        if s["media_ref"]:
            assert s in in_media
    # markdown renders for any output row
    md = render_markdown(out)
    assert md.startswith("# d") and md.endswith("\n")
    # permutation invariance of the input span order, NULL and tied
    # offsets too
    doc2 = {"doc_id": "d", "spans": list(reversed(doc["spans"]))}
    assert process_document(doc2) == out


# ---- F8 format/organize total-function properties ------------------

_FMT_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(text=_FMT_TEXT, structure=st.sampled_from(
    ["plain_text", "paragraphs", "headers_and_content", "bullet_points",
     "table", "form", "multi_column", "scientific", "mixed", "bogus"]))
@settings(max_examples=150, deadline=None)
def test_format_text_total_and_charset(text, structure):
    """format_text never raises on arbitrary unicode, and its output
    contains only the reference's allowed character classes
    (ref :1208 strip) with no leading/trailing whitespace."""
    import re

    from smartglass_ocr_spark.rules.format import format_text

    out = format_text(text, structure)
    assert out == out.strip()
    assert re.search(r"[^\w\s.!?,;:()\"'•\-\n]", out) is None


@given(text=_FMT_TEXT, cls=st.sampled_from(
    ["content", "form", "receipt", "id_card", "table", "anything"]))
@settings(max_examples=150, deadline=None)
def test_organize_text_total(text, cls):
    """Every organize machine is total over arbitrary unicode."""
    from smartglass_ocr_spark.rules.format import organize_text

    out = organize_text(text, cls)
    assert isinstance(out, str)


@given(text=_FMT_TEXT)
@settings(max_examples=100, deadline=None)
def test_clean_response_text_properties(text):
    """No newlines/tabs/backslashes survive. (NOT double-space-free
    or idempotent: the reference removes backslashes AFTER the
    whitespace collapse, so ' \\ ' legitimately becomes '  ' —
    ref lib/utils.py:419-425 order, kept.)"""
    from smartglass_ocr_spark.rules.format import clean_response_text

    out = clean_response_text(text)
    assert "\n" not in out and "\t" not in out and "\\" not in out
    assert out == out.strip()


def test_clean_response_backslash_double_space_quirk():
    from smartglass_ocr_spark.rules.format import clean_response_text

    assert clean_response_text("a \\ b") == "a  b"  # ref pass order


@given(text=_FMT_TEXT)
@settings(max_examples=100, deadline=None)
def test_fix_indonesian_total(text):
    from smartglass_ocr_spark.rules.cleanup import fix_indonesian_text

    assert isinstance(fix_indonesian_text(text), str)


@given(text=st.text(alphabet="ab C1_ \n|:.,-", max_size=80), limit=st.integers(0, 8))
@settings(max_examples=400, deadline=None)
def test_linear_structure_counts_equal_regex(text, limit):
    """The linear table/form counters must agree exactly with the
    reference's backtracking regexes on arbitrary input, and a count
    stopped at a limit must be the full count capped there."""
    from smartglass_ocr_spark.rules.structure import (
        _FORM_FIELD_RX,
        _TABLE_ROW_RX,
        _AnchoredCounts,
    )

    want = (len(_TABLE_ROW_RX.findall(text)), len(_FORM_FIELD_RX.findall(text)))
    counts = _AnchoredCounts(text)
    uncapped = len(text) + 1
    assert (counts.table_rows(uncapped), counts.form_fields(uncapped)) == want
    capped = _AnchoredCounts(text)
    assert capped.form_fields(limit) == min(want[1], limit)
    assert capped.table_rows(limit) == min(want[0], limit)


# ---- rewritten rules == their reference-order forms ------------------
#
# The rules below were rewritten to scan each text fewer times. Each
# test keeps the straightforward form (the reference's statement order,
# one regex per step, no prefilter) as the oracle and checks the rule
# against it on text built from the pieces those rewrites reason about.

_EQ_PIECES = st.one_of(
    st.text(alphabet="lIOSZBaAzQ09٣²é.!?,:;-•*+ \n\t|@_/=^'`", min_size=1, max_size=4),
    st.sampled_from(
        [
            "  ", "   ", "\n\n", "\n\n\n", "\n\n\n\n", "-\n", "1l2", "3O4",
            "5S6", "٣B٣", "http", "https://", "www.", ".com", ".org", "x@y.io",
            "www.ab.co,de", "http://x.io;y", "www.q.org;z", "a-\nb-\nc", "x-\nyz-\nw", "-\n-\n",
            "ſ", "\u212a", "İ", "\u00a0", "\U0001f600", "key point", "In summary",
            "MUST", "increase", "therefore", "sqrt", "1.", "2)", "A | B |",
            "TITLE\n", "First Name", "first name", "Last Name", "Date of Birth",
            "Email", "Phone", "Date", "State", "Signature", "nama",
        ]
        + list(_cleanup._FORM_CANON)
        + [f + ":" for f in _cleanup._FORM_CANON]
        + list(_cleanup._ID_FIELDS)
    ),
)
_EQ_TEXT = st.lists(_EQ_PIECES, max_size=40).map("".join)


def _general_cleanup_reference_order(text: str) -> str:
    """F1 as the reference writes it: six digit-confusion subs, three
    space insertions, space collapse, punctuation spacing, camelCase
    split, newline collapse, hyphen rejoin — eleven scans."""
    import re

    if not text:
        return ""
    text = _cleanup.strip_non_bmp(text)
    text = text.replace("''", '"').replace(",,", '"')
    text = text.replace("`", "'")
    text = _cleanup._BULLET_RX.sub("• ", text)
    for letter, digit in (("l", "1"), ("I", "1"), ("O", "0"), ("S", "5"), ("Z", "2"), ("B", "8")):
        text = re.sub(rf"(?<=\d){letter}(?=\d)", digit, text)
    text = re.sub(r"(?<=[a-z])(?=[A-Z])", " ", text)
    text = re.sub(r"(?<=[a-zA-Z])(?=\d)", " ", text)
    text = re.sub(r"(?<=\d)(?=[a-zA-Z])", " ", text)
    text = re.sub(r" +", " ", text)
    text = re.sub(r"([.!?,:;])([A-Z0-9])", r"\1 \2", text)
    text = re.sub(r"([a-z])([A-Z])", r"\1 \2", text)
    text = re.sub(r"\n{3,}", "\n\n", text)
    text = re.sub(r"(\w+)-\n(\w+)", r"\1\2", text)
    return text


@given(text=_EQ_TEXT)
@settings(max_examples=500, deadline=None)
def test_general_cleanup_equals_reference_order(text):
    assert _cleanup.general_cleanup(text) == _general_cleanup_reference_order(text)


def _generate_summary_reference_order(text: str, max_length: int = 200,
                                      style: str = "concise") -> str:
    """The summary as the reference scores it: a dict of non-stopword
    counts, each sentence's count sum with the stopwords skipped, and
    ``any()`` over the key terms."""
    if not text:
        return ""
    if len(text) < 100:
        return text[:max_length]
    sentences = re.split(r"(?<=[.!?])\s+", text)
    word_counts: dict[str, int] = {}
    for sentence in sentences:
        for w in re.findall(r"\b[a-zA-Z]+\b", sentence.lower()):
            if w not in _summarize.SIMPLE_STOPWORDS:
                word_counts[w] = word_counts.get(w, 0) + 1
    scores: dict[int, float] = {}
    for i, sentence in enumerate(sentences):
        if len(sentence.strip()) < 10:
            continue
        score = 0.0
        if i == 0:
            score += 5
        elif i == len(sentences) - 1:
            score += 3
        elif i < len(sentences) * 0.1:
            score += 2
        lower = sentence.lower()
        words = re.findall(r"\b[a-zA-Z]+\b", lower)
        if words:
            score += (
                sum(word_counts.get(w, 0) for w in words if w not in _summarize.SIMPLE_STOPWORDS)
                / len(words)
            )
        if any(term in lower for term in _summarize._KEY_TERMS):
            score += 3
        scores[i] = score
    avg_len = sum(len(s) for s in sentences) / len(sentences)
    target = max(1, int(max_length / avg_len))
    if style == "detailed":
        target = min(int(target * 1.5), len(sentences))
    elif style == "concise":
        target = max(1, int(target * 0.7))
    top = sorted(scores.items(), key=lambda kv: kv[1], reverse=True)[:target]
    summary = " ".join(sentences[i] for i in sorted(idx for idx, _ in top))
    if style == "bullets":
        return _summarize.format_as_bullet_points(summary)
    if style == "structured":
        return _summarize.format_as_structured_summary(summary)
    if len(summary) > max_length:
        summary = summary[: max_length - 3] + "..."
    return summary


# stopwords, key terms alone and inside longer words, sentences under
# 10 chars, and the code points whose lower() is not one ASCII letter
_SUMMARY_PIECES = st.one_of(
    st.sampled_from(sorted(_summarize.SIMPLE_STOPWORDS)),
    st.sampled_from(_summarize._KEY_TERMS),
    st.sampled_from([
        "keynote", "mainland", "resultant", "unimportant", "Summary", "KEY",
        "CRUCIAL", "pr\u0130mary", "\u212aey", "\u0130", "\u212a", "Hi.", "Ok!",
        "No?", "x.", "A1.", "well", "data", "data.", "word!", "\u03a3.",
    ]),
    st.text(alphabet="abcdekmy1\u0130\u212a", min_size=1, max_size=8),
)
# sentences of a few pieces, so that a summary keeps only some of them
# and the scores decide which
_SUMMARY_TEXT = st.lists(
    st.tuples(_SUMMARY_PIECES, st.sampled_from([" "] * 12 + [". ", ".\n", "! ", "? ", "\n\n"])),
    min_size=25, max_size=60,
).map(lambda parts: "".join(w + sep for w, sep in parts))


@given(text=_SUMMARY_TEXT, max_length=st.integers(0, 250),
       style=st.sampled_from(["concise", "detailed", "bullets", "structured"]))
@settings(max_examples=500, deadline=None)
def test_generate_summary_equals_reference_order(text, max_length, style):
    assert generate_summary(text, max_length, style) == _generate_summary_reference_order(
        text, max_length, style
    )


def _detect_structure_eager(text: str) -> str:
    """Every feature counted in full up front (the reference's
    backtracking table/form regexes included), then the ladder."""
    bullets = len(_structure._BULLET_RX.findall(text))
    numbered = len(_structure._NUMBERED_RX.findall(text))
    table_rows = len(_structure._TABLE_ROW_RX.findall(text))
    form_fields = len(_structure._FORM_FIELD_RX.findall(text))
    headers = len(_structure._HEADER_RX.findall(text))
    paragraphs = len(_structure._PARAGRAPH_RX.findall(text))
    formulas = len(_structure._FORMULA_RX.findall(text))
    lines = text.split("\n")
    if len(lines) > 10:
        short = sum(1 for ln in lines if 5 < len(ln.strip()) < 40)
        if short > len(lines) * 0.6:
            return "multi_column"
    if table_rows > 5:
        return "table"
    if bullets + numbered > 5:
        return "bullet_points"
    if form_fields > 5:
        return "form"
    if headers > 2 and paragraphs > 1:
        return "headers_and_content"
    if paragraphs > 1:
        return "paragraphs"
    if formulas > 3:
        return "scientific"
    if len(text.strip()) < 100:
        return "plain_text"
    return "mixed"


_STRUCTURE_PIECES = st.sampled_from(
    ["a", "B", "ab cd", " ", "\n", "\n\n", "\n \n", "|", "x | y |", ":",
     "Name:", "- ", "• ", "* ", "+", "1.", "2)", "HEAD\n", "AB C", "=", "/",
     "sqrt", "sin", "log", "^", "_", "٣", "short line here", "x" * 45]
)


@given(text=st.one_of(_EQ_TEXT, st.lists(_STRUCTURE_PIECES, max_size=60).map("".join)))
@settings(max_examples=500, deadline=None)
def test_detect_structure_equals_eager_counts(text):
    assert _structure.detect_structure(text) == _detect_structure_eager(text)


def _ladder_texts() -> list[str]:
    """Texts with each ladder feature at its threshold and one past it."""
    out = []
    for n in (5, 6):
        out.append("\n".join(["a | b | c"] * n))
        out.append("\n".join(["- item"] * (n - 2) + ["1. item", "2) item"]))
        out.append("\n".join(["Name: x"] * n))
        out.append("body\n\nmore\n\nend " + "+ " * (n - 2))
    for n in (2, 3):
        headers = "\nx\n".join(["TITLE"] * n)
        out.append(f"{headers}\n\nbody text\n\nmore body")
        out.append(headers + "\n" + "word " * 30)
    for n in (1, 2):
        out.append("para\n\n" * n + "end")
    for n in (3, 4):
        out.append("x " + "= " * n + "z" * 100)
        out.append("sqrt " * n)
    for short in (6, 7):
        out.append("\n".join(["a line of text"] * short + ["x" * 45] * (10 - short) + [""]))
    return out


@pytest.mark.parametrize("text", _ladder_texts())
def test_detect_structure_at_ladder_thresholds(text):
    assert _structure.detect_structure(text) == _detect_structure_eager(text)


# ---- case-insensitive patterns as lowercase twins on folded text ----
#
# Text built from the literals of every case-insensitive pattern, each
# letter drawn from what IGNORECASE lets it match: its two cases, and
# U+0130/U+0131 for "i", U+017F for "s" and U+212A for "k"
# (rules/casefold.py).

_FOLD_SWAPS = {"i": "iI\u0130\u0131", "s": "sS\u017f", "k": "kK\u212a"}
_FOLD_WORDS = sorted(
    {label for labels in _extract._ID_FIELD_LABELS.values() for label in labels}
    | {lit for lit, _, _ in _cleanup._ID_LABEL_FIXES + _cleanup._AMOUNT_FIXES}
    | {
        "key", "main", "important", "significant", "critical", "point", "fact",
        "finding", "conclusion", "in summary", "to summarize", "in conclusion",
        "concluding", "therefore", "must", "should", "need to", "have to",
        "increase", "decrease", "improve", "reduce", "enhance", "cause",
        "email", "e-mail", "phone", "telephone", "tel", "hp", "handphone",
        "date", "tanggal", "company", "perusahaan", "department", "departemen",
    }
)


def _cased(word: str):
    return st.tuples(*(st.sampled_from(_FOLD_SWAPS.get(c, c + c.upper())) for c in word)).map("".join)


_FOLD_TEXT = st.lists(
    st.one_of(
        st.sampled_from(_FOLD_WORDS).flatmap(_cased),
        st.sampled_from([" ", "  ", ":", ": ", " :\t", "\n", "\n ", "-", "?", ". ", "! ", "$3.50", "12"]),
        st.text(alphabet="AZaz09 \n:\u0130\u0131\u017f\u212aΣ•", min_size=1, max_size=3),
    ),
    max_size=30,
).map("".join)


def test_fold_set_is_sre_case_table():
    """The four code points fold() maps are exactly those, outside
    ASCII, that IGNORECASE matches to an ASCII letter, plus the only
    one whose lower() changes length; each matches only the letter
    fold() gives it. A CPython whose case tables differ fails here."""
    every = "".join(map(chr, range(0x80, sys.maxunicode + 1)))
    to_letter = {every[m.start()] for m in re.finditer("[a-z]", every, re.IGNORECASE)}
    grows = {c for c in every if len(c.lower()) != 1}
    assert to_letter == set(map(chr, _casefold._FOLD_MAP)) == {"\u0130", "\u0131", "\u017f", "\u212a"}
    assert grows <= to_letter
    for c in to_letter:
        assert [x for x in ascii_lowercase if re.match(x, c, re.IGNORECASE)] == [fold(c)]
    # equal length, and \w and \s at the same offsets, over all of them
    folded = fold(every)
    assert len(folded) == len(every)
    for cls in (r"\w", r"\s", r"[^\W_]"):
        assert [m.span() for m in re.finditer(cls, folded)] == [
            m.span() for m in re.finditer(cls, every)
        ]


def _spans(m):
    return m and m.regs


def _extract_id_card_reference(text: str) -> dict[str, str]:
    """The IGNORECASE originals on the lowered text, primary then
    fallback, every label tried (no literal gate)."""
    out: dict[str, str] = {}
    lowered = text.lower()
    for field, pat in _extract._ID_FIELD_PATTERNS.items():
        m = re.search(pat, lowered, re.IGNORECASE)
        if m and m.group(1).strip():
            out[field] = m.group(1).strip()
    for field, labels in _extract._ID_FIELD_LABELS.items():
        if field in out:
            continue
        for label in labels:
            lab = re.escape(label)
            m = re.search(rf"\b{lab}\s*:\s*([^\n]+)", lowered, re.IGNORECASE)
            if m and m.group(1).strip():
                out[field] = m.group(1).strip()
                break
            m = re.search(rf"^\s*{lab}\s+([^\n]+)", lowered, re.IGNORECASE | re.MULTILINE)
            if m and m.group(1).strip():
                out[field] = m.group(1).strip()
                break
    return out


@given(text=_FOLD_TEXT)
@example("ıd:  ?")
@example("ſex: m\nnamA: x")
@settings(max_examples=300, deadline=None)
def test_id_card_twins_equal_ignorecase(text):
    lowered = text.lower()
    folded = fold(lowered)
    for field, pat in _extract._ID_FIELD_PATTERNS.items():
        assert _spans(_extract._ID_FIELD_RXS[field].search(folded)) == _spans(
            re.search(pat, lowered, re.IGNORECASE)
        )
    assert _extract.extract_id_card(text) == _extract_id_card_reference(text)


def _extract_form_reference(text: str) -> dict[str, str]:
    """extract_form with the IGNORECASE special patterns on the text."""
    out: dict[str, str] = {}
    for raw in text.split("\n"):
        m = _extract._FORM_LINE_RX.match(raw.strip())
        if m:
            value = m.group(2).strip()
            if value and not _extract._PUNCT_ONLY_RX.match(value):
                out[m.group(1).strip().lower().replace(" ", "_")] = value
    for field, pat in _extract._FORM_SPECIAL_PATTERNS.items():
        if field not in out:
            m = re.search(pat, text, re.IGNORECASE)
            if m and m.group(1).strip():
                out[field] = m.group(1).strip()
    return out


@given(text=_FOLD_TEXT)
@example("Emaıl: a@b.co")
@settings(max_examples=300, deadline=None)
def test_form_special_twins_equal_ignorecase(text):
    folded = fold(text)
    for field, pat in _extract._FORM_SPECIAL_PATTERNS.items():
        assert _spans(_extract._FORM_SPECIAL_RXS[field].search(folded)) == _spans(
            re.search(pat, text, re.IGNORECASE)
        )
    assert _extract.extract_form(text) == _extract_form_reference(text)


def _column_starts_min_scan(rows: list[str]) -> list[int]:
    """The reference's nearest-column scan: ``min`` over every start,
    the first of two equidistant ones."""
    col_starts: list[int] = []
    for i in range(min(5, len(rows))):
        positions = [m.start() for m in re.finditer(r"\S+", rows[i])]
        if i == 0:
            col_starts = positions
            continue
        new_positions = []
        for pos in positions:
            closest = min(col_starts, key=lambda x: abs(x - pos))
            if abs(closest - pos) < 5:
                col_starts[col_starts.index(closest)] = (closest + pos) // 2
            else:
                new_positions.append(pos)
        col_starts.extend(new_positions)
        col_starts.sort()
    return col_starts


_ALIGNED_ROW = st.lists(
    st.tuples(st.integers(0, 7), st.integers(1, 4)), min_size=1, max_size=8
).map(lambda cells: "".join(" " * gap + "x" * width for gap, width in cells))


@given(rows=st.lists(_ALIGNED_ROW, min_size=1, max_size=7))
@example(["a   b", "  c"])
@settings(max_examples=500, deadline=None)
def test_column_starts_bisect_equals_min_scan(rows):
    assert _extract._column_starts(list(rows)) == _column_starts_min_scan(list(rows))


def _parse_space_aligned_every_column(lines: list[str]) -> tuple[list[str], list[list[str]]]:
    """The space-aligned table parse with every line sliced into every
    column, each body row then cut to the header count."""
    non_empty = [ln for ln in lines if ln.strip()]
    if not non_empty:
        return [], []
    col_starts = _extract._column_starts(non_empty)
    if not col_starts:
        return [], []

    def cells(line: str) -> list[str]:
        vals = []
        for j, start in enumerate(col_starts):
            end = col_starts[j + 1] if j < len(col_starts) - 1 else len(line)
            vals.append(line[start:end].strip() if start < len(line) else "")
        return vals

    headers = [h for h in cells(non_empty[0]) if h]
    if not headers:
        return [], []
    rows = []
    for row in non_empty[1:]:
        if _extract._is_separator(row):
            continue
        rows.append(cells(row)[: len(headers)])
    return headers, rows


@given(lines=st.lists(st.one_of(_ALIGNED_ROW, st.sampled_from(["", "   ", "--  --", " == ="])),
                      max_size=8))
@example(["  a   b", "x", "aaaa bb cc dd"])
@settings(max_examples=500, deadline=None)
def test_space_aligned_cells_equal_every_column_form(lines):
    assert _extract._parse_space_aligned(lines) == _parse_space_aligned_every_column(lines)


def _weighted_confidence_counter(text: str) -> float:
    """weighted_confidence counting non-alnum chars with a Counter."""
    from collections import Counter

    stripped = text.strip()
    if not stripped:
        return 0.0
    n = len(stripped)
    length_factor = 0.8 if n < 20 else 0.9 if n < 50 else 1.0 if n < 100 else 1.1
    parts = text.split()
    word_factor = 0.8 if len(parts) < 3 else 0.9 if len(parts) < 10 else 1.0
    compact = "".join(parts)
    if not compact:
        return min(100.0, 85.0 * length_factor * word_factor * 0.5)
    counts = Counter(compact)
    share = sum(v for c, v in counts.items() if not c.isalnum()) / len(compact)
    quality = 0.7 if share > 0.4 else 0.8 if share > 0.3 else 0.9 if share > 0.2 else 1.0
    return min(100.0, 85.0 * length_factor * word_factor * quality)


@given(text=st.text(max_size=200))
@example("a_b٣²é!! ?")
@settings(max_examples=300, deadline=None)
def test_non_alnum_count_equals_counter_fold(text):
    assert weighted_confidence(text) == _weighted_confidence_counter(text)


def test_alnum_class_is_isalnum():
    every = "".join(map(chr, range(sys.maxunicode + 1)))
    assert _confidence._ALNUM_RUN_RX.sub("", every) == "".join(c for c in every if not c.isalnum())


# the reference's four insight patterns, searched one after another
_INSIGHT_PATTERNS_REFERENCE = (
    r"(?:key|main|important|significant|critical).{0,20}(?:point|fact|finding|conclusion)",
    r"(?:in\s+summary|to\s+summarize|in\s+conclusion|concluding|therefore)",
    r"(?:must|should|need to|have to)",
    r"increase|decrease|improve|reduce|enhance|cause",
)


def _key_insights_reference(text: str) -> list[str]:
    """extract_key_insights with the four IGNORECASE originals searched
    on each sentence as is."""
    insights: list[str] = []
    sentences = _summarize.split_sentences(text)
    for sentence in sentences:
        if any(re.search(p, sentence, re.IGNORECASE) for p in _INSIGHT_PATTERNS_REFERENCE):
            insights.append(sentence)
        if len(insights) >= 5:
            break
    if len(insights) < 2 and len(sentences) > 2:
        if sentences[0] not in insights:
            insights.append(sentences[0])
        if sentences[-1] not in insights and sentences[-1] != sentences[0]:
            insights.append(sentences[-1])
    return insights[:5]


@given(text=st.one_of(_EQ_TEXT, _FOLD_TEXT))
@example("ſhould")
@settings(max_examples=300, deadline=None)
def test_insight_alternation_equals_separate_searches(text):
    """The lowercase twin of the alternation, on the folded sentence,
    answers as the four IGNORECASE patterns do on the sentence."""
    for sentence in _summarize.split_sentences(text) + [text]:
        want = any(re.search(p, sentence, re.IGNORECASE) for p in _INSIGHT_PATTERNS_REFERENCE)
        assert bool(_summarize._INSIGHT_RX.search(fold(sentence))) == want
    assert extract_key_insights(text) == _key_insights_reference(text)


@pytest.mark.parametrize(
    "sentence",
    ["the key fact", "In  Summary", "we MUST", "costs Increase", "ſhould", "İncrease", "nothing here"],
)
def test_insight_alternation_on_each_pattern(sentence):
    want = any(re.search(p, sentence, re.IGNORECASE) for p in _INSIGHT_PATTERNS_REFERENCE)
    assert bool(_summarize._INSIGHT_RX.search(fold(sentence))) == want


def _fix_form_unfiltered(text: str) -> str:
    for _, rx, rep in _cleanup._FORM_LABELS:
        text = rx.sub(rep, text)
    for _, rx in _cleanup._FORM_COLON_RXS:
        text = rx.sub(r"\1: \2", text)
    text = _cleanup._CHECKED_BOX_RX.sub("☑", text)
    text = _cleanup._EMPTY_BOX_RX.sub("☐", text)
    for _, rx in _cleanup._FORM_BREAK_RXS:
        text = rx.sub(r"\1\n\2", text)
    return text


def _ungated_subs(subs, text: str) -> str:
    for _, rx, rep in subs:
        text = rx.sub(rep, text)
    return text


def test_gated_subs_refolds_after_a_replacement():
    # the second literal exists only once the first sub has run
    subs = [
        ("ab", re.compile("ab", re.IGNORECASE), "CD"),
        ("cd", re.compile("cd", re.IGNORECASE), "x"),
    ]
    assert _casefold.gated_subs(subs, "\u017fAB") == _ungated_subs(subs, "\u017fAB") == "\u017fx"


def _fix_id_card_unfiltered(text: str) -> str:
    import re

    text = _ungated_subs(_cleanup._ID_LABEL_FIXES, text)
    for _, rx in _cleanup._ID_COLON_RXS:
        text = rx.sub(r"\1: \2", text)
    m = _cleanup._NIK_RX.search(text)
    if m:
        digits = m.group(1).replace(" ", "")
        if len(digits) >= 15:
            grouped = " ".join(digits[i : i + 4] for i in range(0, min(len(digits), 16), 4))
            text = _cleanup._NIK_RX.sub(f"NIK: {grouped}", text, count=0)
    for dm in list(re.finditer(r"(\d{1,2})[/\-\.\\](\d{1,2})[/\-\.\\](\d{2,4})", text)):
        day, month, year = dm.groups()
        formatted = f"{day.zfill(2)}-{month.zfill(2)}-{year.zfill(2 if len(year) == 2 else 4)}"
        text = text.replace(dm.group(0), formatted)
    return text


def _email_url_unfiltered(text: str) -> str:
    for rx in (_cleanup._EMAIL_RX, _cleanup._URL_RX):
        for tok in rx.findall(text):
            fixed = tok.replace(" ", "").replace(",", ".").replace(";", ".")
            if fixed != tok:
                text = text.replace(tok, fixed)
    return text


@given(text=st.one_of(_EQ_TEXT, _FOLD_TEXT))
@example("ſubtotal 3.50 NıK 12 nAMA x")
@settings(max_examples=500, deadline=None)
def test_literal_prefilters_equal_unfiltered_loops(text):
    """Skipping a pattern whose literal is absent never changes the
    output: form labels, colon and break, ID labels (a case-insensitive
    literal looked up in the folded text) and colon, the receipt
    amounts (folded too) and email/URL."""
    assert _cleanup.fix_form(text) == _fix_form_unfiltered(text)
    assert _cleanup.fix_id_card(text) == _fix_id_card_unfiltered(text)
    with mock.patch.object(_cleanup, "gated_subs", _ungated_subs):
        want_receipt = _cleanup.fix_receipt(text)
    assert _cleanup.fix_receipt(text) == want_receipt
    # apply_word_corrections = the word dictionary, then the email/URL loop
    fixed = _cleanup._WORD_FIX_RX.sub(lambda m: _cleanup._WORD_FIXES[m.group(1)], text)
    assert _cleanup.apply_word_corrections(text) == _email_url_unfiltered(fixed)
