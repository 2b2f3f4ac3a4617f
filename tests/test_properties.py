"""Property-based fuzzing of the rule surface (hypothesis).

These are Spark-free: the rules modules are the executable spec the
UDFs run, so total-function guarantees here are crash-freedom
guarantees for every executor batch at 10^12-doc scale (an uncaught
exception in a pandas UDF fails the task, retries, then the job).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from smartglass_ocr_spark.golden import process_document, process_span
from smartglass_ocr_spark.rules import cleanup as _cleanup
from smartglass_ocr_spark.rules import structure as _structure
from smartglass_ocr_spark.rules import summarize as _summarize
from smartglass_ocr_spark.rules.classify import classify_block
from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
from smartglass_ocr_spark.rules.extract import extract_structured
from smartglass_ocr_spark.rules.langdetect import detect_language
from smartglass_ocr_spark.rules.markdown import render_markdown
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
        st.tuples(kinds, st.one_of(st.none(), st.text(max_size=120)), st.integers(0, 10**6)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[2],
    )
)
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
    offs = [s["offset"] for s in out["spans"]]
    assert offs == sorted(offs)
    in_media = {s["offset"]: s for s in doc["spans"] if s["media_ref"]}
    for s in out["spans"]:
        if s["media_ref"]:
            assert s == in_media[s["offset"]]
    # markdown renders for any output row
    md = render_markdown(out)
    assert md.startswith("# d") and md.endswith("\n")
    # permutation invariance of the input span order
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
            "ſ", "K", "İ", "\u00a0", "\U0001f600", "key point", "In summary",
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


# the reference's four insight patterns, searched one after another
_INSIGHT_PATTERNS_REFERENCE = (
    r"(?:key|main|important|significant|critical).{0,20}(?:point|fact|finding|conclusion)",
    r"(?:in\s+summary|to\s+summarize|in\s+conclusion|concluding|therefore)",
    r"(?:must|should|need to|have to)",
    r"increase|decrease|improve|reduce|enhance|cause",
)


@given(text=_EQ_TEXT)
@settings(max_examples=300, deadline=None)
def test_insight_alternation_equals_separate_searches(text):
    import re

    for sentence in _summarize.split_sentences(text) + [text]:
        want = any(re.search(p, sentence, re.IGNORECASE) for p in _INSIGHT_PATTERNS_REFERENCE)
        assert bool(_summarize._INSIGHT_RX.search(sentence)) == want


@pytest.mark.parametrize(
    "sentence",
    ["the key fact", "In  Summary", "we MUST", "costs Increase", "ſhould", "İncrease", "nothing here"],
)
def test_insight_alternation_on_each_pattern(sentence):
    import re

    want = any(re.search(p, sentence, re.IGNORECASE) for p in _INSIGHT_PATTERNS_REFERENCE)
    assert bool(_summarize._INSIGHT_RX.search(sentence)) == want


def _fix_form_unfiltered(text: str) -> str:
    for rx, rep in _cleanup._FORM_LABELS:
        text = rx.sub(rep, text)
    for _, rx in _cleanup._FORM_COLON_RXS:
        text = rx.sub(r"\1: \2", text)
    text = _cleanup._CHECKED_BOX_RX.sub("☑", text)
    text = _cleanup._EMPTY_BOX_RX.sub("☐", text)
    for _, rx in _cleanup._FORM_BREAK_RXS:
        text = rx.sub(r"\1\n\2", text)
    return text


def _fix_id_card_unfiltered(text: str) -> str:
    import re

    for rx, rep in _cleanup._ID_LABEL_FIXES:
        text = rx.sub(rep, text)
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


@given(text=_EQ_TEXT)
@settings(max_examples=500, deadline=None)
def test_literal_prefilters_equal_unfiltered_loops(text):
    """Skipping a case-sensitive pattern whose literal is absent never
    changes the output: form colon/break, ID colon and email/URL."""
    assert _cleanup.fix_form(text) == _fix_form_unfiltered(text)
    assert _cleanup.fix_id_card(text) == _fix_id_card_unfiltered(text)
    # apply_word_corrections = the word dictionary, then the email/URL loop
    fixed = _cleanup._WORD_FIX_RX.sub(lambda m: _cleanup._WORD_FIXES[m.group(1)], text)
    assert _cleanup.apply_word_corrections(text) == _email_url_unfiltered(fixed)
