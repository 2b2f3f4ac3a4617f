"""Deterministic confidence scoring + status gating (A7, P3 in
SURVEY.md §2).

Re-expresses ``_calculate_weighted_confidence``
(ref lib/ocr_engines.py:849-924) minus the engine-reliability EWMA
factor, which is a mutable cross-request accumulator the reference
uses to steer engine choice (ref lib/smartglass_ocr.py:1022-1075) —
nondeterministic across runs, so banned from the equality path
(SURVEY.md §4 "Adaptive feedback: dropped"). Our raw confidence is a
fixed base (there is no OCR noise source in deterministic parsing):
base 100 for typed/structured spans, the cleanup itself never lowers
it, so scoring reduces to the text-shape factors.

Status thresholds: ref lib/smartglass_ocr.py:620-625.
"""

from __future__ import annotations

import re

RAW_BASE_CONFIDENCE = 85.0  # deterministic-parser base (no engine race)
# [^\W_] is exactly str.isalnum: \w is isalnum() plus "_"
_ALNUM_RUN_RX = re.compile(r"[^\W_]+")


def weighted_confidence(text: str) -> float:
    """length factor x word factor x quality factor, capped at 100
    (ref lib/ocr_engines.py:861-924; engine factor fixed at 1.0)."""
    stripped = text.strip()
    if not stripped:
        return 0.0
    n = len(stripped)
    if n < 20:
        length_factor = 0.8
    elif n < 50:
        length_factor = 0.9
    elif n < 100:
        length_factor = 1.0
    else:
        length_factor = 1.1
    parts = text.split()
    words = len(parts)
    if words < 3:
        word_factor = 0.8
    elif words < 10:
        word_factor = 0.9
    else:
        word_factor = 1.0
    compact = "".join(parts)
    if compact:
        # the non-alnum chars are what is left once the alnum runs are
        # cut out: one C-side scan, exact equivalent of the per-char
        # isalnum() count
        non_alnum = len(_ALNUM_RUN_RX.sub("", compact)) / len(compact)
        if non_alnum > 0.4:
            quality_factor = 0.7
        elif non_alnum > 0.3:
            quality_factor = 0.8
        elif non_alnum > 0.2:
            quality_factor = 0.9
        else:
            quality_factor = 1.0
    else:
        quality_factor = 0.5
    return min(100.0, RAW_BASE_CONFIDENCE * length_factor * word_factor * quality_factor)


def status_for(confidence: float, text: str) -> str:
    """ref lib/smartglass_ocr.py:620-625."""
    if confidence < 30 or len(text.strip()) < 5:
        return "poor_quality"
    if confidence < 60:
        return "partial_success"
    return "success"
