"""Span block classification (SURVEY.md §2.10 `classify_spans`).

The reference classifies whole images into an ``ImageType`` via pixel
statistics (``lib/image_processing.py:780-969``) and quick keyword
probes (``app/api/routes.py:393-575``). Our input is already typed
text spans, so classification is: media passthrough detection, a
readability-style link-density / text-density boilerplate test for
``html`` spans (north rule: "HTML boilerplate strip ... DOM
heuristics"), and a kind -> block-class map for the typed kinds (the
analogue of the reference's ImageType -> strategy case map at
``lib/image_processing.py:1705-1752``).

Pure Python, shared by golden generator and pandas UDFs.
"""

from __future__ import annotations

import re

MEDIA_KINDS = frozenset({"image", "video", "audio"})
TEXT_KINDS = frozenset(
    {
        "para", "heading", "list", "table", "form", "receipt",
        "id_card", "scientific", "html", "pdf_line", "text",
    }
)

# typed kinds that carry their own cleanup branch (F3-F7)
_KIND_TO_CLASS = {
    "receipt": "receipt",
    "id_card": "id_card",
    "form": "form",
    "table": "table",
    "scientific": "scientific",
    "heading": "heading",
    "list": "list",
    "pdf_line": "pdf_line",
}

_TAG_RX = re.compile(r"<[^>]*>")
_ANCHOR_RX = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_SCRIPT_STYLE_RX = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL
)
_BLOCK_END_RX = re.compile(r"<\s*(?:br|/p|/div|/h[1-6]|/li|/tr)\s*/?>", re.IGNORECASE)
_HSPACE_RUN_RX = re.compile(r"[ \t]+")
_NEWLINE_PAD_RX = re.compile(r" ?\n ?")

# boilerplate thresholds — readability/boilerpipe-style heuristics
# (public-domain technique; values chosen for our corpus and pinned by
# tests, no reference analogue exists for HTML)
LINK_DENSITY_MAX = 0.5
TEXT_DENSITY_MIN = 0.25


def html_densities(markup: str) -> tuple[float, float]:
    """(link_density, text_density) of an HTML-ish block.

    link_density = anchor-text chars / visible-text chars;
    text_density = visible-text chars / total chars.
    """
    if not markup:
        return 0.0, 0.0
    stripped = _SCRIPT_STYLE_RX.sub(" ", markup)
    anchor_text = " ".join(_TAG_RX.sub("", m) for m in _ANCHOR_RX.findall(stripped))
    visible = _TAG_RX.sub("", stripped)
    n_visible = len(visible.strip())
    if n_visible == 0:
        return 1.0, 0.0
    link_density = min(1.0, len(anchor_text.strip()) / n_visible)
    text_density = n_visible / max(1, len(markup))
    return link_density, text_density


def strip_html(markup: str) -> str:
    """Visible text of an HTML-ish block: drop script/style subtrees,
    then all tags; decode the five standard entities; collapse runs of
    blank lines produced by block tags."""
    if not markup:
        return ""
    text = _SCRIPT_STYLE_RX.sub(" ", markup)
    text = _BLOCK_END_RX.sub("\n", text)
    text = _TAG_RX.sub(" ", text)
    text = (
        text.replace("&amp;", "&")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#39;", "'")
        .replace("&nbsp;", " ")
    )
    text = _HSPACE_RUN_RX.sub(" ", text)
    text = _NEWLINE_PAD_RX.sub("\n", text)
    return text.strip()


def classify_block(kind: str, text: str | None) -> str:
    """kind + content -> block_class.

    Returns one of: media, boilerplate, content, heading, list,
    pdf_line, receipt, id_card, form, table, scientific.
    """
    if kind in MEDIA_KINDS:
        return "media"
    cls = _KIND_TO_CLASS.get(kind)
    if cls is not None:
        return cls
    if kind == "html":
        link_density, text_density = html_densities(text or "")
        if link_density > LINK_DENSITY_MAX or text_density < TEXT_DENSITY_MIN:
            return "boilerplate"
        return "content"
    return "content"
