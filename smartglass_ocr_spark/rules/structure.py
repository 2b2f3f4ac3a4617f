"""Document-structure detection (A4 + decision tree in SURVEY.md §2.4).

Faithful re-expression of ``detect_document_structure``
(ref lib/text_processing.py:1212-1259): seven regex feature counts +
short-staggered-line multi-column test, then a fixed decision ladder.
Output domain mirrors ``DocumentStructure`` (ref lib/model.py:66-77):
multi_column, table, bullet_points, form, headers_and_content,
paragraphs, scientific, plain_text, mixed.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from itertools import islice

_BULLET_RX = re.compile(r"(?:^|\n)[•\-*+]")
_NUMBERED_RX = re.compile(r"(?:^|\n)\d+[\.\)]")
_TABLE_ROW_RX = re.compile(r"(?:^|\n)[\w\s]+\|[\w\s]+\|")
_FORM_FIELD_RX = re.compile(r"(?:^|\n)[\w\s]+:")
_HEADER_RX = re.compile(r"(?:^|\n)[A-Z][A-Z\s]+(?:\n|$)")
_PARAGRAPH_RX = re.compile(r"\n\s*\n")
_FORMULA_RX = re.compile(r"[=+\-*/^]|sqrt|sin|cos|tan|log")
_NON_WS_WORD_RX = re.compile(r"[^\w\s]")  # the exact [\w\s] complement


class _AnchoredCounts:
    """Linear-time exact equivalents of
    ``len(_TABLE_ROW_RX.findall(text))`` and
    ``len(_FORM_FIELD_RX.findall(text))`` capped at a limit
    (fuzz-pinned in tests); each count stops at its limit.

    The backtracking regexes are quadratic on long ``[\\w\\s]`` runs
    (the reference's own patterns at :1225-1226 — a 0.5 MB doc with
    one stray colon took ~26 s). But since a ``[\\w\\s]+`` run can
    never contain the terminator it is looking for, each anchor's
    attempt is fully determined by the FIRST non-[\\w\\s] character
    at-or-after it: match iff that stop is the required literal and
    the run before it is non-empty. The stop positions are collected
    by one regex pass, left to right and only as far as a count has
    asked; anchors (string start + each newline) are then checked in
    O(log stops) each, honoring findall's non-overlapping scan by
    jumping past each match."""

    def __init__(self, text: str):
        self.text = text
        self.n = len(text)
        self._stops: list[int] = []
        self._scan = _NON_WS_WORD_RX.finditer(text)
        self._scanned = False  # every stop found

    def next_stop(self, i: int) -> int:
        stops = self._stops
        while not self._scanned and (not stops or stops[-1] < i):
            m = next(self._scan, None)
            if m is None:
                self._scanned = True
            else:
                stops.append(m.start())
        j = bisect_left(stops, i)
        return stops[j] if j < len(stops) else self.n

    def _count(self, check, limit: int) -> int:
        text = self.text
        c = 0
        scan = 0
        # anchor at position 0 (the ^ branch), then at every '\n'
        anchor_run_start = 0
        while c < limit:
            if anchor_run_start is None:
                nl = text.find("\n", scan)
                if nl == -1:
                    break
                anchor_run_start = nl + 1
                scan = nl + 1
            end = check(anchor_run_start)
            if end is not None:
                c += 1
                scan = end + 1
            anchor_run_start = None
        return c

    def _form_check(self, r0: int) -> int | None:
        e = self.next_stop(r0)
        if e > r0 and e < self.n and self.text[e] == ":":
            return e
        return None

    def _table_check(self, r0: int) -> int | None:
        e1 = self.next_stop(r0)
        if not (e1 > r0 and e1 < self.n and self.text[e1] == "|"):
            return None
        r1 = e1 + 1
        e2 = self.next_stop(r1)
        if e2 > r1 and e2 < self.n and self.text[e2] == "|":
            return e2
        return None

    def table_rows(self, limit: int) -> int:
        return self._count(self._table_check, limit)

    def form_fields(self, limit: int) -> int:
        return self._count(self._form_check, limit)


def _count_upto(rx: re.Pattern, text: str, limit: int) -> int:
    """``min(len(rx.findall(text)), limit)``, scanning only as far as
    the ``limit``-th match."""
    return sum(1 for _ in islice(rx.finditer(text), limit))


def detect_structure(text: str) -> str:
    """The reference's decision ladder, walked in order: each feature
    is counted only when its branch is reached, and only up to the
    branch's threshold — the same answer as counting everything first
    (fuzz-pinned against that eager form in tests)."""
    if text.count("\n") >= 10:
        lines = text.split("\n")
        short = sum(1 for ln in lines if 5 < len(ln.strip()) < 40)
        if short > len(lines) * 0.6:
            return "multi_column"

    # a table row holds two '|' and a form field one ':', and matches
    # never share them: a text with too few cannot pass the threshold
    anchored = _AnchoredCounts(text)
    if text.count("|") >= 12 and anchored.table_rows(limit=6) > 5:
        return "table"
    bullets = _count_upto(_BULLET_RX, text, 6)
    if bullets + _count_upto(_NUMBERED_RX, text, 6 - bullets) > 5:
        return "bullet_points"
    if text.count(":") >= 6 and anchored.form_fields(limit=6) > 5:
        return "form"
    if _count_upto(_PARAGRAPH_RX, text, 2) > 1:
        if _count_upto(_HEADER_RX, text, 3) > 2:
            return "headers_and_content"
        return "paragraphs"
    if _count_upto(_FORMULA_RX, text, 4) > 3:
        return "scientific"
    if len(text.strip()) < 100:
        return "plain_text"
    return "mixed"
