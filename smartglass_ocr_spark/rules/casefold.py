"""Case folding for the rules' case-insensitive searches.

An ``re.IGNORECASE`` pattern that starts with a cased literal keeps
neither a literal prefix nor a first-character set in CPython's
``sre``, so a search tries the whole pattern at every position of the
text. The rules instead search a case-sensitive lowercase twin of each
such pattern (:func:`twin`) on a folded copy of the text
(:func:`fold`). The twin matches exactly where the original matched,
at the same offsets, so a match's spans index the unfolded text too.
A case-insensitive ``re.sub`` keeps its pattern and runs only when its
literal is in the folded copy (:func:`gated_subs`).
"""

from __future__ import annotations

import re

# the only code points that IGNORECASE folds onto an ASCII letter
# other than the letter's own two cases
_FOLD_MAP = str.maketrans({"\u0130": "i", "\u0131": "i", "\u017f": "s", "\u212a": "k"})


def fold(s: str) -> str:
    """``s`` as a case-sensitive lowercase pattern must see it.

    For an ASCII letter ``x``, ``re.match(x, c, re.IGNORECASE)`` holds
    for ``c`` in ``x``, ``x.upper()`` and exactly four more code
    points: U+0130 and U+0131, dotted capital and dotless small i
    (-> i), U+017F, long s (-> s), and U+212A, the Kelvin sign (-> k).
    ``str.lower()`` alone leaves U+0131 and U+017F as they are and
    turns U+0130 into two code points ("i" plus a combining dot), so
    those are mapped first; U+212A already lowers to "k" and is mapped
    with them. No other code point changes length under ``lower()``,
    and none moves into or out of ``\\w`` or ``\\s``, so the result has
    the same length as ``s`` and the same word and space positions:
    that is what lets a twin's match spans index ``s``.
    ``tests/test_properties.py`` recomputes the four from ``sre``'s own
    case tables, so a Python whose tables differ fails there.
    """
    if not s.isascii() and ("\u0130" in s or "\u0131" in s or "\u017f" in s or "\u212a" in s):
        s = s.translate(_FOLD_MAP)
    return s.lower()


# escapes that lower() would change the meaning of (\S, \W, \D, \B,
# \A, \Z, \N{...}) or that spell a letter by its code (\x41, \101)
_CASED_ESCAPE_RX = re.compile(r"\\(?:[A-Z]|[xu0-9])")
_INLINE_FLAGS_RX = re.compile(r"\(\?[a-zA-Z-]*[iL]")


def twin(pattern: str, flags: int = 0) -> re.Pattern:
    """The case-sensitive lowercase twin of
    ``re.compile(pattern, flags | re.IGNORECASE)``: searched on
    ``fold(text)``, it matches where the original matches on ``text``,
    at the same offsets. Letters in ``pattern`` may appear only as
    literals or in ``A-Z``/``a-z`` ranges; a pattern this cannot
    rewrite exactly raises ``ValueError``."""
    if (
        not pattern.isascii()
        or flags & re.IGNORECASE
        or _CASED_ESCAPE_RX.search(pattern)
        or _INLINE_FLAGS_RX.search(pattern)
    ):
        raise ValueError(f"no exact lowercase twin for {pattern!r}")
    return re.compile(pattern.lower(), flags)


def gated_subs(subs, text: str) -> str:
    """Apply each ``(literal, rx, repl)`` of ``subs`` in order, where
    ``rx`` is case-insensitive and cannot match without ``literal``
    (lowercase). A sub whose literal is absent from the folded text is
    skipped, which is exact: wherever ``rx`` matches, the folded text
    holds ``literal`` at the same offset. The folded copy is redone
    only after a sub that replaced something."""
    folded = fold(text)
    for literal, rx, repl in subs:
        if literal in folded:
            text, n = rx.subn(repl, text)
            if n:
                folded = fold(text)
    return text
