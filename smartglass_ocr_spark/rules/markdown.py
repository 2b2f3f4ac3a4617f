"""F14 markdown report rendering (ref app/core/markdown_formatter.py:
14-353: header + info table + summary blockquote + insights list +
structure-aware content blocks + key-value extracted-fields table +
markdown escaping). Deterministic — no timestamps (SURVEY.md §4
nondeterminism ban; the reference stamps dates at
app/core/markdown_formatter.py:35, we omit them from the rendered
payload and keep time only in the metrics tables).

Off the span-equality path: the rendered report is a derived column.
"""

from __future__ import annotations

_ESCAPE = str.maketrans({c: f"\\{c}" for c in "\\`*_{}[]"})


def escape_md(text: str) -> str:
    """Escape markdown control characters in body text (ref
    markdown_formatter escaping of user text)."""
    return (text or "").translate(_ESCAPE)


def _info_table(meta: dict) -> list[str]:
    rows = [
        ("Language", meta.get("lang") or "unknown"),
        ("Structure", meta.get("structure") or "plain_text"),
        ("Confidence", f"{meta.get('confidence', 0.0):.1f} ({meta.get('confidence_level', '')})"),
        ("Status", meta.get("status") or ""),
    ]
    out = ["| Field | Value |", "| --- | --- |"]
    out += [f"| {k} | {escape_md(str(v))} |" for k, v in rows]
    return out


def _content_blocks(spans: list[dict], structure: str) -> list[str]:
    """Structure-aware rendering of the cleaned text spans: tables and
    forms keep their line layout in a fenced block, everything else
    renders as escaped paragraphs; media spans render as reference
    links (the reference embeds image filenames; our analogue is the
    media_ref). ``spans`` come in the output row's reading order
    (``golden.reading_order``)."""
    out: list[str] = []
    fenced = structure in ("table", "form")
    for s in spans:
        if s.get("media_ref"):
            out.append(f"![{s['kind']}]({s['media_ref']})")
        elif s.get("text"):
            if fenced or s["kind"] in ("table", "form"):
                out.append("```\n" + s["text"] + "\n```")
            else:
                out.append(escape_md(s["text"]))
    return out


def render_markdown(doc: dict) -> str:
    """One document's report. ``doc`` is the fused-pipeline output row
    as a dict: doc_id, spans, lang, structure, structured_info,
    summary, key_insights, confidence, confidence_level, status."""
    parts: list[str] = [f"# {escape_md(str(doc['doc_id']))}", ""]
    parts += _info_table(doc)
    if doc.get("summary"):
        parts += ["", "## Summary", ""]
        parts += ["> " + line for line in doc["summary"].splitlines() if line.strip()]
    insights = doc.get("key_insights")
    # len-based check: Arrow hands array columns as numpy arrays,
    # whose truthiness raises
    if insights is not None and len(insights) > 0:
        parts += ["", "## Key Insights", ""]
        parts += [f"- {escape_md(i)}" for i in insights]
    # receipt docs render the reference's dedicated receipt block —
    # merchant/date/time lines, the items TABLE, totals (ref
    # app/core/markdown_formatter.py:274-318) — from the typed nested
    # structured_typed.receipt; the grouped key-value fallback below
    # then skips its flat 'receipt' section to avoid duplication
    typed = doc.get("structured_typed")
    receipt = typed.get("receipt") if typed is not None else None
    if receipt is not None:
        parts += ["", "## Receipt", ""]
        for label, key in (("Merchant", "merchant"), ("Date", "date"), ("Time", "time")):
            if receipt.get(key):
                parts.append(f"**{label}**: {escape_md(str(receipt[key]))}")
        items = receipt.get("items")
        if items is not None and len(items) > 0:
            parts += ["", "### Items", "",
                      "| Item | Quantity | Price |", "| ---- | -------- | ----- |"]
            parts += [
                f"| {escape_md(it.get('name') or '')} "
                f"| {escape_md(it.get('quantity') or '1')} "
                f"| {escape_md(it.get('price') or '0.00')} |"
                for it in items
            ]
        parts += ["", "### Totals", ""]
        for label, key in (("Subtotal", "subtotal"), ("Tax", "tax"),
                           ("Total", "total"), ("Payment Method", "payment_method")):
            if receipt.get(key):
                parts.append(f"**{label}**: {escape_md(str(receipt[key]))}")
    info = doc.get("structured_info") or {}
    if info:
        from smartglass_ocr_spark.rules.extract import format_structured_info

        # grouped per E8's _format_structured_info
        # (ref lib/information_extraction.py:644-684)
        parts += ["", "## Extracted Fields"]
        for section, fields in format_structured_info(dict(info)).items():
            if section == "receipt" and receipt is not None:
                continue
            parts += ["", f"### {section}", "", "| Field | Value |", "| --- | --- |"]
            parts += [
                f"| {escape_md(k)} | {escape_md(str(fields[k]))} |"
                for k in sorted(fields)
            ]
    spans = doc.get("spans")
    body = _content_blocks(
        list(spans) if spans is not None else [], doc.get("structure") or ""
    )
    if body:
        parts += ["", "## Content", ""]
        parts += [b + "\n" for b in body]
    return "\n".join(parts).rstrip() + "\n"
