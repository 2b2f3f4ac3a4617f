"""Pure-Python golden generator — the per-document executable spec.

Applies the rule modules driver-side, one document at a time, exactly
as the reference applies its per-document pipeline
(``lib/smartglass_ocr.py:413-661`` process order: post-process text ->
structure/format -> detect language -> extract structured info ->
summary/insights -> status). The Spark pipeline
(``smartglass_ocr_spark.pipeline``) must reproduce these outputs with
span-sequence equality (kind, text, media_ref, order) — BASELINE.json
``north_rule``.
"""

from __future__ import annotations

from smartglass_ocr_spark.rules.classify import MEDIA_KINDS, classify_block, strip_html
from smartglass_ocr_spark.rules.cleanup import clean_for_class
from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
from smartglass_ocr_spark.rules.extract import (
    confidence_level, extract_structured, extract_structured_typed,
)
from smartglass_ocr_spark.rules.format import format_text
from smartglass_ocr_spark.rules.langdetect import detect_language
from smartglass_ocr_spark.rules.structure import detect_structure
from smartglass_ocr_spark.rules.summarize import extract_key_insights, generate_summary

_SPECIAL_CLASSES = ("id_card", "receipt", "form", "table")


def process_span(kind: str, text: str | None) -> tuple[str, str | None]:
    """(block_class, clean_text) for one span — the per-span spec.

    media  -> untouched (None text passes through byte-identical)
    html   -> boilerplate: text stripped to ""   (north rule:
              "HTML boilerplate strip"); content: tags stripped, then
              the F1 pipeline
    other  -> F1 general cleanup + per-class fix (F2-F7)
    """
    if kind in MEDIA_KINDS:
        return "media", text
    block_class = classify_block(kind, text)
    if block_class == "boilerplate":
        return block_class, ""
    if kind == "html":
        return block_class, clean_for_class(block_class, strip_html(text or ""))
    return block_class, clean_for_class(block_class, text or "")


def reading_order(span: dict) -> tuple:
    """Sort key of a span in its document: its ``offset``, a NULL one
    after every other, then (kind, text, media_ref), None first. Spans
    equal under the key are equal, so the order never depends on the
    order the spans arrive in (``collect_list`` gives none)."""
    offset, kind, text, ref = span["offset"], span["kind"], span["text"], span["media_ref"]
    return (offset is None, offset, kind is not None, kind,
            text is not None, text, ref is not None, ref)


def truncate_doc_spans(
    spans: list[dict],
    max_spans: int | None = None,
    max_bytes: int | None = None,
) -> list[dict]:
    """Offset-ordered prefix cap — the engine-side analogue of the
    reference's ingest clamp (MAX_FILE_SIZE 16 MB,
    ``/root/reference/app/config.py:19``, enforced before processing
    at ``lib/smartglass_ocr.py:172``): processing sees only the first
    ``max_spans`` spans and/or the spans whose cumulative text bytes
    stay within ``max_bytes``, in reading order. Everything past the
    cap is dropped from the document — spans output included — just
    as the reference never sees bytes past its clamp. At least one
    span is always kept. Returns the list sorted by
    :func:`reading_order`, possibly capped."""
    spans = sorted(spans, key=reading_order)
    if max_spans is not None:
        spans = spans[: max(1, max_spans)]
    if max_bytes is not None:
        total = 0
        kept = []
        for s in spans:
            total += len((s["text"] or "").encode("utf-8", "surrogatepass"))
            if kept and total > max_bytes:
                break
            kept.append(s)
        spans = kept
    return spans


def process_document(
    doc: dict,
    max_spans: int | None = None,
    max_bytes: int | None = None,
) -> dict | None:
    """Full golden output for one {doc_id, spans} document: cleaned
    spans in offset order + per-doc derived metadata (FIXTURES.md §2-3).
    ``max_spans``/``max_bytes`` apply :func:`truncate_doc_spans`
    first (default off — byte-identical to the uncapped spec);
    ``n_truncated_spans`` counts the spans the cap dropped, 0 when
    uncapped, so capped and uncapped rows share one schema.

    A doc with NULL or no spans has no output (``None``): every doc
    path omits it, as the span-row path's explode emits nothing for it.
    """
    # Arrow hands spans as an array, whose truth value is ambiguous
    if doc["spans"] is None or len(doc["spans"]) == 0:
        return None
    spans = truncate_doc_spans(doc["spans"], max_spans, max_bytes)
    out_spans = []
    class_hist: dict[str, int] = {}
    for s in spans:
        block_class, clean = process_span(s["kind"], s["text"])
        class_hist[block_class] = class_hist.get(block_class, 0) + 1
        out_spans.append(
            {
                "kind": s["kind"],
                "text": clean,
                "media_ref": s["media_ref"],
                "offset": s["offset"],
            }
        )
    # document text = non-empty cleaned text spans joined in order
    # (the analogue of the text the reference hands to format_text)
    doc_text = "\n\n".join(
        s["text"] for s in out_spans if s["text"]
    )

    # NOT wired: the reference's Indonesian pass (lib/smartglass_ocr.py
    # :596-600) is gated on detect_language(text) == 'ind', a value
    # its detect_language (lib/text_processing.py:1782-1857) can never
    # return — like the organize family, `_fix_indonesian_text` is
    # dead code in the executed reference. It is implemented
    # (rules/cleanup.fix_indonesian_text) and exposed opt-in only, so
    # the golden path stays byte-equal to the reference's execution.

    # F8 reconstruction stage (ref lib/smartglass_ocr.py:602-604):
    # structure is detected on the INPUT text for dispatch
    # (ref lib/text_processing.py:1182-1185), and every downstream
    # consumer — language (:608), structured extraction (:612-614),
    # status length check (:622), summary/insights/reported structure
    # (:1212-1228) — consumes the FORMATTED text.
    formatted_text = format_text(doc_text)

    extract_class = dominant_class(class_hist)

    # confidence is the extraction-time score (the reference's is
    # engine-derived, computed before formatting) — fed the pre-format
    # text; the status gate uses the formatted length (ref :622)
    confidence = weighted_confidence(doc_text)
    status = status_for(confidence, formatted_text)
    summary = ""
    key_insights: list[str] = []
    if status in ("success", "partial_success") and formatted_text:
        # summary + insights gating: ref lib/smartglass_ocr.py:1212-1228;
        # insights additionally require len(text) > 200 (:1226)
        summary = generate_summary(formatted_text)
        if len(formatted_text) > 200:
            key_insights = extract_key_insights(formatted_text)

    return {
        "doc_id": doc["doc_id"],
        "spans": out_spans,
        "formatted_text": formatted_text,
        "lang": detect_language(formatted_text),
        # reported structure is re-detected on the formatted text
        # (ref lib/smartglass_ocr.py:1222)
        "structure": detect_structure(formatted_text),
        "block_class_hist": class_hist,
        "structured_info": extract_structured(extract_class, formatted_text),
        # typed nested twin (receipt items array<struct>, table
        # headers/rows — the reference's actual JSON shapes); None
        # for classes whose reference output is a flat map anyway
        "structured_typed": extract_structured_typed(extract_class, formatted_text),
        "summary": summary,
        "key_insights": key_insights,
        "confidence": confidence,
        "confidence_level": confidence_level(confidence),
        "status": status,
        "n_truncated_spans": len(doc["spans"]) - len(spans),
    }


def dominant_class(class_hist: dict[str, int]) -> str:
    """The class that drives a doc's structured extraction: the most
    frequent special block class, ties broken by the fixed order
    id_card > receipt > form > table; "content" when the doc has none
    (our doc analogue of the reference dispatcher keyed by ImageType,
    lib/information_extraction.py:28-53)."""
    dominant = max(
        _SPECIAL_CLASSES,
        key=lambda c: (class_hist.get(c, 0), -_SPECIAL_CLASSES.index(c)),
    )
    return dominant if class_hist.get(dominant, 0) > 0 else "content"


def golden_outputs(docs: list[dict]) -> list[dict]:
    return [o for o in map(process_document, docs) if o is not None]
