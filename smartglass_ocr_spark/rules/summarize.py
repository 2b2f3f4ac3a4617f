"""Extractive summary + key insights (A1-A3, A11 in SURVEY.md §2.4).

Faithful re-expression of the reference's regex (non-NLTK) paths —
the deterministic ones suitable for a distributed engine (no model
downloads at executor import, SURVEY.md §7.4):

- ``generate_summary``    -> ``_generate_extractive_summary_regex``
  (ref lib/text_processing.py:2033-2130) with the <100-char
  short-circuit of ``generate_summary`` (ref :1871-1872).
- ``extract_key_insights`` -> regex branch
  (ref lib/text_processing.py:2316-2347).
"""

from __future__ import annotations

import re
from collections import Counter
from itertools import chain

from smartglass_ocr_spark.rules.casefold import fold, twin

_SENT_SPLIT_RX = re.compile(r"(?<=[.!?])\s+")
_WORD_RX = re.compile(r"\b[a-zA-Z]+\b")

# ref lib/text_processing.py:2052-2055
SIMPLE_STOPWORDS = frozenset(
    {
        "a", "an", "the", "and", "or", "but", "if", "because", "as", "what",
        "when", "where", "how", "which", "who", "whom", "this", "that",
        "these", "those", "then", "just", "so", "than", "such", "both",
        "through", "about", "for", "is", "of", "while", "during", "to",
        "from",
    }
)
_KEY_TERMS = (
    "summary", "conclusion", "result", "important", "significant",
    "key", "main", "primary", "critical", "essential", "crucial",
)
# a sentence earns the key-term bonus if any term is a substring of it:
# one search of the alternation (plain lowercase words, no metachars)
_KEY_TERM_RX = re.compile("|".join(_KEY_TERMS))
# ref :2316-2347 searches each sentence with these four patterns in
# turn and keeps it if any matches; one search of their alternation
# gives the same answer in one scan. The patterns are case-insensitive:
# the alternation runs as its lowercase twin on each folded sentence
# (rules/casefold.py)
_INSIGHT_PATTERNS = (
    r"(?:key|main|important|significant|critical).{0,20}(?:point|fact|finding|conclusion)",
    r"(?:in\s+summary|to\s+summarize|in\s+conclusion|concluding|therefore)",
    r"(?:must|should|need to|have to)",
    r"increase|decrease|improve|reduce|enhance|cause",
)
_INSIGHT_RX = twin("|".join(f"(?:{p})" for p in _INSIGHT_PATTERNS))


def split_sentences(text: str) -> list[str]:
    return _SENT_SPLIT_RX.split(text)


def generate_summary(text: str, max_length: int = 200, style: str = "concise") -> str:
    if not text:
        return ""
    if len(text) < 100:
        return text[:max_length]

    sentences = split_sentences(text)
    # each sentence lowercased and tokenized once, for both passes
    lowered = [s.lower() for s in sentences]
    tokens = [_WORD_RX.findall(lower) for lower in lowered]

    # stopwords are deleted, so they count 0 through Counter.__missing__
    word_counts = Counter(chain.from_iterable(tokens))
    for w in SIMPLE_STOPWORDS.intersection(word_counts):
        del word_counts[w]

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
        words = tokens[i]
        if words:
            score += sum(map(word_counts.__getitem__, words)) / len(words)
        if _KEY_TERM_RX.search(lowered[i]):
            score += 3
        scores[i] = score

    avg_len = sum(len(s) for s in sentences) / len(sentences) if sentences else 20
    target = max(1, int(max_length / avg_len))
    if style == "detailed":
        target = min(int(target * 1.5), len(sentences))
    elif style == "concise":
        target = max(1, int(target * 0.7))

    # top-k by score (stable: Python sort preserves index order on
    # ties exactly like the reference's sorted(..., reverse=True))
    top = sorted(scores.items(), key=lambda kv: kv[1], reverse=True)[:target]
    chosen = sorted(idx for idx, _ in top)
    summary = " ".join(sentences[i] for i in chosen if i < len(sentences))
    # bullets/structured bypass truncation (ref :2121-2124)
    if style == "bullets":
        return format_as_bullet_points(summary)
    if style == "structured":
        return format_as_structured_summary(summary)
    if len(summary) > max_length:
        summary = summary[: max_length - 3] + "..."
    return summary


_NAME_RX = re.compile(r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+){1,2}\b")
_ORG_RXS = (
    re.compile(
        r"\b[A-Z][a-z]*(?:\s+[A-Z][a-z]*)+\s+"
        r"(?:Inc|Corp|Co|Ltd|LLC|Company|Association|Organization)\b"
    ),
    re.compile(r"\b[A-Z][A-Z]+\b"),
)
_LOC_RX = re.compile(r"\b[A-Z][a-z]+(?:,\s+[A-Z][a-z]+)?\b")
_DATE_RXS = (
    re.compile(r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b"),
    re.compile(
        r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*"
        r"\s+\d{1,2}(?:st|nd|rd|th)?,?\s+\d{2,4}\b"
    ),
    re.compile(
        r"\b\d{1,2}(?:st|nd|rd|th)?\s+(?:of\s+)?"
        r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*,?\s+\d{2,4}\b"
    ),
)


def _unique(items: list[str], k: int) -> list[str]:
    """First-seen-order unique, top k. The reference uses
    ``list(set(...))[:k]`` whose order depends on the process hash
    seed — nondeterministic across runs, so banned here (SURVEY §4);
    first-seen order is the deterministic replacement."""
    return list(dict.fromkeys(items))[:k]


def format_as_bullet_points(summary: str) -> str:
    """'bullets' summary style — ref lib/text_processing.py:2132-2160:
    one bullet per sentence, terminal punctuation enforced."""
    out = []
    for sentence in _SENT_SPLIT_RX.split(summary):
        s = sentence.strip()
        if s:
            if s[-1] not in (".", "!", "?"):
                s += "."
            out.append(f"• {s}")
    return "\n".join(out)


def format_as_structured_summary(summary: str) -> str:
    """'structured' summary style — ref lib/text_processing.py:
    2162-2242: SUMMARY section plus regex-harvested PEOPLE /
    ORGANIZATIONS / LOCATIONS / DATES sections (top 3/3/3/2)."""
    sections: dict[str, str] = {"SUMMARY": summary}
    people = _unique(_NAME_RX.findall(summary), 3)
    orgs = _unique(
        [m for rx in _ORG_RXS for m in rx.findall(summary)], 3
    )
    locs = _unique(_LOC_RX.findall(summary), 3)
    dates = _unique(
        [m for rx in _DATE_RXS for m in rx.findall(summary)], 2
    )
    if people:
        sections["PEOPLE"] = ", ".join(people)
    if orgs:
        sections["ORGANIZATIONS"] = ", ".join(orgs)
    if locs:
        sections["LOCATIONS"] = ", ".join(locs)
    if dates:
        sections["DATES"] = ", ".join(dates)
    parts = []
    for section, content in sections.items():
        parts.extend((f"{section}:", content, ""))
    return "\n".join(parts).strip()


def extract_key_insights(text: str) -> list[str]:
    insights: list[str] = []
    sentences = split_sentences(text)
    for sentence in sentences:
        if _INSIGHT_RX.search(fold(sentence)):
            insights.append(sentence)
        if len(insights) >= 5:
            break
    if len(insights) < 2 and len(sentences) > 2:
        if sentences[0] not in insights:
            insights.append(sentences[0])
        if sentences[-1] not in insights and sentences[-1] != sentences[0]:
            insights.append(sentences[-1])
    return insights[:5]
