"""Text cleanup rules (F1-F7 in SURVEY.md §2.7).

Re-expresses the reference's post-processing semantics as ordered,
precompiled regex pipelines. Parity citations (reference file:line):

- ``general_cleanup``      -> ``lib/text_processing.py:77-146``
  (``post_process_text``: BMP filter, quote fixes, bullet
  normalization, digit-context confusions, space insertion, space
  collapse, punctuation spacing, newline collapse, hyphen rejoin).
  NOTE: the reference's smart-quote replacements at
  ``lib/text_processing.py:95`` are ASCII no-ops in the source (the
  arguments are plain ``"``); only ``'' -> "``, ``,, -> "`` and
  `` ` -> '`` have effect. We reproduce exactly that.
- ``apply_word_corrections`` -> ``lib/text_processing.py:648-682``
  (merged-word/OCR-confusion dictionary). Dead code in the reference
  (``_apply_general_text_corrections`` is defined but never called);
  adopted here as a first-class stage for the plain-content path
  because a main-content extraction engine wants it. Documented
  deviation.
- ``fix_receipt``  -> ``lib/text_processing.py:148-252``
- ``fix_id_card``  -> ``lib/text_processing.py:254-321``
- ``fix_scientific`` -> ``lib/text_processing.py:323-404`` (dead code
  in the reference, and its subscript replacement template
  ``r'\\1\\u208\\2'`` is an invalid ``re`` escape that would raise;
  we implement the evident intent: digit -> Unicode subscript).
- ``fix_form``     -> ``lib/text_processing.py:406-460``
- ``fix_table``    -> ``lib/text_processing.py:462-599``
"""

from __future__ import annotations

import re

from smartglass_ocr_spark.rules.casefold import gated_subs

# --------------------------------------------------------------------
# F1 general cleanup (ref lib/text_processing.py:88-128)
# --------------------------------------------------------------------

_BULLET_RX = re.compile(r"[\*\+\-‣▪•●·](?:\s+|\n)")
# a letter is replaced only when both its neighbours are digits, so no
# replacement can enable another: one sub over the six letters gives
# the reference's six sequential subs
_DIGIT_CONFUSION_RX = re.compile(r"(?<=\d)[lIOSZB](?=\d)")
_DIGIT_FOR = {"l": "1", "I": "1", "O": "0", "S": "5", "Z": "2", "B": "8"}
# The reference inserts a space at three zero-width positions
# (lower|upper, letter|digit, digit|letter), collapses space runs, and
# then spaces out punctuation (punct|upper-or-digit, a ``\1 \2`` sub
# there). The four kinds of position are mutually exclusive and a space
# inserted at one makes or breaks no other, so the three insertions run
# as one alternation, of which text without a digit can hold only
# lower|upper; the punctuation spacing inserts at its position too,
# with no group template to expand per match.
_SPACE_INSERT_RX = re.compile(
    r"(?<=[a-z])(?=[A-Z])|(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=[a-zA-Z])"
)
_LOWER_UPPER_RX = re.compile(r"(?<=[a-z])(?=[A-Z])")
_PUNCT_SPACING_RX = re.compile(r"(?<=[.!?,:;])(?=[A-Z0-9])")
_MULTI_SPACE = re.compile(r" {2,}")
_MULTI_NEWLINE = re.compile(r"\n{3,}")
_HYPHEN_BREAK = re.compile(r"(\w+)-\n(\w+)")
_HAS_DIGIT = re.compile(r"\d")


_NON_BMP = re.compile(r"[\U00010000-\U0010FFFF]")


def strip_non_bmp(text: str) -> str:
    """Drop astral-plane chars (ref lib/text_processing.py:92).
    ``isascii()`` reads a flag the string already carries, and max()
    is a single C-speed scan; astral chars compare above every BMP
    char, so pure-BMP text (the overwhelming case) returns untouched
    without the per-char Python loop this used to be."""
    if not text or text.isascii() or max(text) < "\U00010000":
        return text
    return _NON_BMP.sub("", text)


def general_cleanup(text: str) -> str:
    """The F1 master pipeline (ref lib/text_processing.py:88-128), in
    fewer scans than the reference's statement order; that order is
    kept as the oracle of ``test_general_cleanup_equals_reference_order``
    (tests/test_properties.py). The final per-type dispatch + strip of
    ``post_process_text`` lives in :func:`clean_for_class`."""
    if not text:
        return ""
    text = strip_non_bmp(text)
    # quote/apostrophe normalization — only the effective subset, see
    # module docstring.
    text = text.replace("''", '"').replace(",,", '"')
    text = text.replace("`", "'")
    text = _BULLET_RX.sub("• ", text)
    # the digit-context subs and insertions can only fire on
    # digit-bearing text
    if _HAS_DIGIT.search(text):
        text = _DIGIT_CONFUSION_RX.sub(lambda m: _DIGIT_FOR[m.group()], text)
        text = _SPACE_INSERT_RX.sub(" ", text)
    else:
        text = _LOWER_UPPER_RX.sub(" ", text)
    if "  " in text:
        text = _MULTI_SPACE.sub(" ", text)
    text = _PUNCT_SPACING_RX.sub(" ", text)
    # the reference's camelCase split (``([a-z])([A-Z])``) comes here:
    # the lower|upper insertion above left no such pair, and neither
    # the space collapse nor the punctuation spacing makes one
    if "\n\n\n" in text:
        text = _MULTI_NEWLINE.sub("\n\n", text)
    # the rejoin needs a literal "-\n" (which the bullet normalization
    # above already rewrites); without one, skip its backtracking scan
    if "-\n" in text:
        text = _HYPHEN_BREAK.sub(r"\1\2", text)
    return text


# --------------------------------------------------------------------
# F2 word-correction dictionary (ref lib/text_processing.py:648-682)
# --------------------------------------------------------------------

_WORD_FIXES = {
    "tbe": "the",
    "arid": "and",
    "ofthe": "of the",
    "forthe": "for the",
    "tothe": "to the",
    "inthe": "in the",
    "fromthe": "from the",
    "onthe": "on the",
    "withthe": "with the",
    "atthe": "at the",
    "isthe": "is the",
    "wasthe": "was the",
    "asthe": "as the",
    "bythe": "by the",
    "thatthe": "that the",
    "butthe": "but the",
    "andthe": "and the",
    "Tbis": "This",
    "ca11": "call",
    "cornpany": "company",
    "frorn": "from",
    "systern": "system",
    "rnay": "may",
    "Iine": "line",
    "tirne": "time",
    "Iist": "list",
    "Iike": "like",
    "sirnple": "simple",
    "sarne": "same",
    "frorntbe": "from the",
}
# One alternation pass instead of the reference's 31 sequential
# re.sub calls — same result (keys are disjoint word-bounded literals),
# ~20x fewer scans per string. Longer keys first so 'frorntbe' wins
# over 'frorn'.
_WORD_FIX_RX = re.compile(
    r"\b(" + "|".join(sorted(_WORD_FIXES, key=len, reverse=True)) + r")\b"
)

_EMAIL_RX = re.compile(r"\b[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}\b")
_URL_RX = re.compile(r"\b(?:https?://|www\.)[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}[^\s]*\b")


def apply_word_corrections(text: str) -> str:
    """Merged-word / OCR-confusion dictionary + email/URL despacing
    (ref lib/text_processing.py:648-708)."""
    if not text:
        return ""
    text = _WORD_FIX_RX.sub(lambda m: _WORD_FIXES[m.group(1)], text)
    # neither pattern can match without one of its literals: skip the
    # scan when the text has none
    for rx, literals in ((_EMAIL_RX, ("@",)), (_URL_RX, ("http", "www."))):
        if not any(lit in text for lit in literals):
            continue
        for tok in rx.findall(text):
            fixed = tok.replace(" ", "").replace(",", ".").replace(";", ".")
            if fixed != tok:
                text = text.replace(tok, fixed)
    return text


# --------------------------------------------------------------------
# F3 receipt fixes (ref lib/text_processing.py:148-252)
# --------------------------------------------------------------------

_CURRENCY_RX = re.compile(r"([0-9]+)\.([0-9]{2})([^0-9])")
_PERCENT_RX = re.compile(r"([0-9]+)[,.]([0-9]+)o\/?")
# OCR-damaged receipt keywords; identity entries of the reference's
# dict (TOTAL->TOTAL etc.) are no-ops and omitted.
_RECEIPT_WORD_FIXES = [
    (re.compile(r"\bTOTAI\b"), "TOTAL"),
    (re.compile(r"\bSUBTOTAI\b"), "SUBTOTAL"),
    (re.compile(r"\bCASI-I\b"), "CASH"),
    (re.compile(r"\bCHANGI\b"), "CHANGE"),
    (re.compile(r"\bDISCOUNI\b"), "DISCOUNT"),
    (re.compile(r"\bTHANI< YOU\b"), "THANK YOU"),
    (re.compile(r"\bPMT\b"), "PAYMENT"),
]
_ITEM_HEADER_RX = re.compile(r"^(ITEM|DESCRIPTION|PRODUCT|GOODS)S?", re.IGNORECASE)
_ITEM_END_RX = re.compile(r"^(SUBTOTAL|TOTAL|TAX|DISCOUNT)", re.IGNORECASE)
_ITEM_LINE_RX = re.compile(r"^(.+?)(?:\s+(\d+))?(?:\s+(?:x|@)\s+)?([0-9.,]+)")
# (literal, pattern, replacement): each case-insensitive pattern runs
# only when its literal is in the folded text (casefold.gated_subs)
_AMOUNT_FIXES = [
    ("subtotal", re.compile(r"(?i)subtotal\s*[:,]?\s*[$]?([0-9.,]+)"), r"SUBTOTAL: $\1"),
    ("tax", re.compile(r"(?i)tax\s*[:,]?\s*[$]?([0-9.,]+)"), r"TAX: $\1"),
    ("total", re.compile(r"(?i)total\s*[:,]?\s*[$]?([0-9.,]+)"), r"TOTAL: $\1"),
]


def fix_receipt(text: str) -> str:
    text = _CURRENCY_RX.sub(r"$\1.\2\3", text)
    text = _PERCENT_RX.sub(r"\1.\2%", text)
    for rx, rep in _RECEIPT_WORD_FIXES:
        text = rx.sub(rep, text)

    # item-section scan (ref lib/text_processing.py:203-245): inside
    # an ITEM/DESCRIPTION section, reformat each line to
    # "name: qty x $price" until a SUBTOTAL/TOTAL/TAX/DISCOUNT line.
    out = []
    in_items = False
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            out.append("")
            continue
        if _ITEM_HEADER_RX.match(line):
            in_items = True
            out.append(line)
            continue
        if in_items and _ITEM_END_RX.match(line):
            in_items = False
        if in_items:
            m = _ITEM_LINE_RX.search(line)
            if m:
                name, qty, price = m.group(1).strip(), m.group(2) or "1", m.group(3).strip()
                out.append(f"{name}: {qty} x ${price}")
            else:
                out.append(line)
        else:
            out.append(line)
    return gated_subs(_AMOUNT_FIXES, "\n".join(out))


# --------------------------------------------------------------------
# F4 ID-card fixes (ref lib/text_processing.py:254-321)
# --------------------------------------------------------------------

# label canonicalization (case-insensitive); identity mappings in the
# reference matter because they *re-case* the label to upper. Each
# (literal, pattern, replacement) runs only when its literal is in the
# folded text (casefold.gated_subs).
_ID_LABEL_FIXES = [
    (label.lower(), re.compile(rf"\b{re.escape(label)}\b", re.IGNORECASE), rep)
    for label, rep in (
        ("NAME", "NAMA"),
        ("NAMA", "NAMA"),
        ("ADDRESS", "ALAMAT"),
        ("ALAMAT", "ALAMAT"),
        ("TEMPAT/TGL LAHIR", "TEMPAT/TGL LAHIR"),
        ("TEMPAT TGL LAHIR", "TEMPAT/TGL LAHIR"),
        ("JENIS KELAMIN", "JENIS KELAMIN"),
        ("AGAMA", "AGAMA"),
        ("STATUS PERKAWINAN", "STATUS PERKAWINAN"),
        ("PEKERJAAN", "PEKERJAAN"),
        ("KEWARGANEGARARAN", "KEWARGANEGARAAN"),
        ("BERLAKU HINGGA", "BERLAKU HINGGA"),
        ("NIK", "NIK"),
        ("DESA/KELURAHAN", "DESA/KELURAHAN"),
        ("KECAMATAN", "KECAMATAN"),
        ("KABUPATEN", "KABUPATEN"),
        ("PROVINSI", "PROVINSI"),
    )
]
_ID_FIELDS = [
    "NAMA", "ALAMAT", "TEMPAT/TGL LAHIR", "JENIS KELAMIN", "AGAMA",
    "STATUS PERKAWINAN", "PEKERJAAN", "KEWARGANEGARAAN", "BERLAKU HINGGA",
    "DESA/KELURAHAN", "KECAMATAN", "KABUPATEN", "PROVINSI",
]
# (label, pattern): the patterns are case-sensitive, so one cannot
# match unless its label is a substring of the text
_ID_COLON_RXS = [
    (f, re.compile(f"({re.escape(f)})\\s+([^:\\n]+)")) for f in _ID_FIELDS
]
_NIK_RX = re.compile(r"NIK\s*:?\s*([0-9\s]+)", re.IGNORECASE)
_DATE_RX = re.compile(r"(\d{1,2})[/\-\.\\](\d{1,2})[/\-\.\\](\d{2,4})")


def fix_id_card(text: str) -> str:
    text = gated_subs(_ID_LABEL_FIXES, text)
    for label, rx in _ID_COLON_RXS:
        if label in text:
            text = rx.sub(r"\1: \2", text)
    # NIK 16-digit regroup in blocks of 4 (ref :302-312)
    m = _NIK_RX.search(text)
    if m:
        digits = m.group(1).replace(" ", "")
        if len(digits) >= 15:
            grouped = " ".join(digits[i : i + 4] for i in range(0, min(len(digits), 16), 4))
            text = _NIK_RX.sub(f"NIK: {grouped}", text, count=0)
    # date normalization DD-MM-YYYY with zero-fill (ref :314-319);
    # the reference's str.replace applies to every occurrence of the
    # matched substring — reproduced via a global sub.
    for dm in list(_DATE_RX.finditer(text)):
        day, month, year = dm.groups()
        formatted = f"{day.zfill(2)}-{month.zfill(2)}-{year.zfill(2 if len(year) == 2 else 4)}"
        text = text.replace(dm.group(0), formatted)
    return text


# --------------------------------------------------------------------
# F5 scientific fixes (ref lib/text_processing.py:323-404; dead code
# there — adopted for the 'scientific' block class with the subscript
# bug fixed to the evident intent)
# --------------------------------------------------------------------

_SUBSCRIPT_DIGITS = str.maketrans("0123456789", "₀₁₂₃₄₅₆₇₈₉")
_SUPERSCRIPT_RX = re.compile(r"(\d)\^(\d+)")
_SUBSCRIPT_RX = re.compile(r"([A-Za-z])_(\d)")
_CHEM_RX = re.compile(r"([A-Z][a-z]?)(\d+)")
_TIMES_RX = re.compile(r"(?<=\d)x(?=\d)")
_GREEK = {
    "alpha": "α", "beta": "β", "gamma": "γ", "delta": "δ",
    "epsilon": "ε", "theta": "θ", "lambda": "λ", "micro": "µ",
    "pi": "π", "sigma": "σ", "Sigma": "Σ", "tau": "τ",
    "phi": "φ", "omega": "ω", "Omega": "Ω", "approx": "≈",
    "neq": "≠", "leq": "≤", "geq": "≥", "sqrt": "√",
}
_GREEK_RX = re.compile(r"\b(" + "|".join(sorted(_GREEK, key=len, reverse=True)) + r")\b")
_UNIT_FIXES = [
    (re.compile(r"([0-9]+)\s*deg(?:ree)?s?\b"), r"\1°"),
    (re.compile(r"([0-9]+)\s*[Mm][Ll]\b"), r"\1 ml"),
    (re.compile(r"([0-9]+)\s*[Mm][Gg]\b"), r"\1 mg"),
    (re.compile(r"([0-9]+)\s*[Kk][Gg]\b"), r"\1 kg"),
    (re.compile(r"([0-9]+)\s*[Cc][Mm]\b"), r"\1 cm"),
    (re.compile(r"([0-9]+)\s*[Mm][Mm]\b"), r"\1 mm"),
    (re.compile(r"([0-9]+)\s*[Kk][Mm]\b"), r"\1 km"),
]


def fix_scientific(text: str) -> str:
    text = _SUPERSCRIPT_RX.sub(
        lambda m: m.group(1) + ("²" if m.group(2) == "2" else "³" if m.group(2) == "3" else "^" + m.group(2)),
        text,
    )
    text = _SUBSCRIPT_RX.sub(lambda m: m.group(1) + m.group(2).translate(_SUBSCRIPT_DIGITS), text)
    text = _TIMES_RX.sub("×", text)
    text = _GREEK_RX.sub(lambda m: _GREEK[m.group(1)], text)
    text = _CHEM_RX.sub(lambda m: m.group(1) + m.group(2).translate(_SUBSCRIPT_DIGITS), text)
    for rx, rep in _UNIT_FIXES:
        text = rx.sub(rep, text)
    text = text.replace("+/-", "±")
    return text


# --------------------------------------------------------------------
# F6 form fixes (ref lib/text_processing.py:406-460)
# --------------------------------------------------------------------

# (literal, pattern, replacement): each case-sensitive pattern runs
# only when the literal it cannot match without is in the text
_FORM_LABELS = [
    ("irst", re.compile(r"\b(?:F|f)irst\s*(?:N|n)ame\b"), "First Name"),
    ("ast", re.compile(r"\b(?:L|l)ast\s*(?:N|n)ame\b"), "Last Name"),
    ("iddle", re.compile(r"\b(?:M|m)iddle\s*(?:N|n)ame\b"), "Middle Name"),
    ("ull", re.compile(r"\b(?:F|f)ull\s*(?:N|n)ame\b"), "Full Name"),
    ("ddress", re.compile(r"\b(?:A|a)ddress\b"), "Address"),
    ("ity", re.compile(r"\b(?:C|c)ity\b"), "City"),
    ("tate", re.compile(r"\b(?:S|s)tate\b"), "State"),
    ("ode", re.compile(r"\b(?:Z|z)ip\s*(?:C|c)ode\b"), "Zip Code"),
    ("ostal", re.compile(r"\b(?:P|p)ostal\s*(?:C|c)ode\b"), "Postal Code"),
    ("ountry", re.compile(r"\b(?:C|c)ountry\b"), "Country"),
    ("mail", re.compile(r"\b(?:E|e)mail\b"), "Email"),
    ("hone", re.compile(r"\b(?:P|p)hone\b"), "Phone"),
    ("obile", re.compile(r"\b(?:M|m)obile\b"), "Mobile"),
    ("irth", re.compile(r"\b(?:D|d)ate\s*(?:O|o)f\s*(?:B|b)irth\b"), "Date of Birth"),
    ("ender", re.compile(r"\b(?:G|g)ender\b"), "Gender"),
    ("ccupation", re.compile(r"\b(?:O|o)ccupation\b"), "Occupation"),
    ("ompany", re.compile(r"\b(?:C|c)ompany\b"), "Company"),
    ("epartment", re.compile(r"\b(?:D|d)epartment\b"), "Department"),
    ("ignature", re.compile(r"\b(?:S|s)ignature\b"), "Signature"),
    ("ate", re.compile(r"\b(?:D|d)ate\b"), "Date"),
]
_CHECKED_BOX_RX = re.compile(r"\[\s*[xX✓✔]\s*\]")
_EMPTY_BOX_RX = re.compile(r"\[\s*\]")


# label: value colon insertion, then newline after each field
# (ref :443-458) — one pattern per canonical label string, in order,
# each paired with the literal it cannot match without (the patterns
# are case-sensitive).
_FORM_CANON = dict.fromkeys(rep for _, _, rep in _FORM_LABELS)
_FORM_COLON_RXS = [
    (label, re.compile(f"({re.escape(label)})\\s+([^:\\n]+)")) for label in _FORM_CANON
]
_FORM_BREAK_RXS = [
    (label + ":", re.compile(f"({re.escape(label)}:\\s+[^\\n]+)([^\\n])"))
    for label in _FORM_CANON
]


def fix_form(text: str) -> str:
    for literal, rx, rep in _FORM_LABELS:
        if literal in text:
            text = rx.sub(rep, text)
    for label, rx in _FORM_COLON_RXS:
        if label in text:
            text = rx.sub(r"\1: \2", text)
    text = _CHECKED_BOX_RX.sub("☑", text)
    text = _EMPTY_BOX_RX.sub("☐", text)
    for literal, rx in _FORM_BREAK_RXS:
        if literal in text:
            text = rx.sub(r"\1\n\2", text)
    return text


# --------------------------------------------------------------------
# F7 table normalization (ref lib/text_processing.py:462-599)
# --------------------------------------------------------------------

_PIPE_SPACING_RX = re.compile(r"\s*\|\s*")
_EMPTY_COL_RX = re.compile(r"\|\s+\|")
_WORD_POS_RX = re.compile(r"\S+")


def _separator_for(header_line: str) -> str:
    return "|".join("-" * len(part.strip()) for part in header_line.split("|"))


def fix_table(text: str) -> str:
    lines = text.split("\n")
    if any("|" in ln for ln in lines) or any("\t" in ln for ln in lines):
        # delimiter path (ref :477-508): tab->pipe, normalize pipe
        # spacing, drop empty columns, insert a separator row after a
        # pipe-bearing header pair.
        fmt = []
        for ln in lines:
            ln = ln.replace("\t", " | ")
            ln = _PIPE_SPACING_RX.sub(" | ", ln)
            ln = _EMPTY_COL_RX.sub("|", ln)
            fmt.append(ln)
        if len(fmt) > 1 and "|" in fmt[0] and "|" in fmt[1]:
            fmt.insert(1, _separator_for(fmt[0]))
        return "\n".join(fmt)

    # space-aligned path (ref :510-596): infer column boundaries from
    # word start/end positions recurring on >=40% of lines; merge
    # boundaries <5 px apart; require >=2 boundaries.
    positions_per_line = [
        [(m.start(), m.end()) for m in _WORD_POS_RX.finditer(ln)] for ln in lines
    ]
    if len(positions_per_line) <= 2:
        return text
    # starts and ends are counted in SEPARATE dicts and thresholded
    # separately (ref :527-542) — a position reaching 40% only when
    # its start and end counts are combined does NOT qualify; a
    # position qualifying as both appears twice in the candidate list
    col_starts: dict[int, int] = {}
    col_ends: dict[int, int] = {}
    for positions in positions_per_line:
        for start, end in positions:
            col_starts[start] = col_starts.get(start, 0) + 1
            col_ends[end] = col_ends.get(end, 0) + 1
    threshold = len(positions_per_line) * 0.4
    candidates = sorted(
        [pos for pos, n in col_starts.items() if n >= threshold]
        + [pos for pos, n in col_ends.items() if n >= threshold]
    )
    boundaries: list[int] = []
    current = None
    for pos in candidates:
        if current is None:
            current = pos
        elif pos - current < 5:
            current = (current + pos) // 2
        else:
            boundaries.append(current)
            current = pos
    if current is not None:
        boundaries.append(current)
    if len(boundaries) < 2:
        return text
    fmt = []
    for ln in lines:
        if not ln.strip():
            fmt.append("")
            continue
        rebuilt, last = "", 0
        for b in boundaries:
            if b > len(ln):
                continue
            rebuilt += ln[last:b] + " | "
            last = b
        if last < len(ln):
            rebuilt += ln[last:]
        fmt.append(_EMPTY_COL_RX.sub("|", rebuilt))
    if len(fmt) > 1:
        fmt.insert(1, _separator_for(fmt[0]))
    return "\n".join(fmt)


# --------------------------------------------------------------------
# dispatcher (ref lib/text_processing.py:130-146 + final strip)
# --------------------------------------------------------------------

_CLASS_FIXES = {
    "receipt": fix_receipt,
    "id_card": fix_id_card,
    "form": fix_form,
    "table": fix_table,
    "scientific": fix_scientific,
}


def clean_for_class(block_class: str, text: str) -> str:
    """Full per-span cleanup: F1 general pipeline, then the
    block-class-specific fix, then strip — mirroring
    ``post_process_text`` (ref lib/text_processing.py:77-146) with the
    image-type dispatch replaced by our span block class. Plain
    content additionally gets the F2 word-correction dictionary.
    Media spans and boilerplate never reach this function."""
    if not text:
        return ""
    text = general_cleanup(text)
    fix = _CLASS_FIXES.get(block_class)
    if fix is not None:
        text = fix(text)
    elif block_class == "content":
        text = apply_word_corrections(text)
    return text.strip()


# --------------------------------------------------------------------
# Indonesian doc-level correction pass (ref lib/smartglass_ocr.py:
# 663-780 `_fix_indonesian_text`). DEAD CODE in the executed
# reference: the gate at ref :596-600 compares detect_language(text)
# to 'ind', a value the reference's detect_language
# (lib/text_processing.py:1782-1857) can never return. Implemented
# for behavior-complete parity — like the organize family — and
# exposed as an explicit opt-in only; the golden path does not run it.
# --------------------------------------------------------------------

# ref :677-715 verbatim, including quirks: 'Tgl' -> 'Tgl.' fires on
# every standalone Tgl; 'PROVINSI' -> 'PROVINSI' is a no-op; the
# 'KAB\.'-style keys contain a literal backslash (the reference
# re.escape()s them, so they only match text containing a backslash —
# dead in practice, kept for fidelity).
_INDO_REPLACEMENTS = (
    ("l<epada", "kepada"), ("l<ami", "kami"), ("l<arena", "karena"),
    ("bal1wa", "bahwa"), ("adala11", "adalah"), ("dala1n", "dalam"),
    ("merniliki", "memiliki"), ("rnengenai", "mengenai"),
    ("dalarn", "dalam"), ("rnasa", "masa"),
    ("Nornor", "Nomor"), ("nornor", "nomor"), ("Narna", "Nama"),
    ("narna", "nama"), ("Ternpat", "Tempat"), ("ternpat", "tempat"),
    ("Tgl", "Tgl."), ("pernerintah", "pemerintah"),
    ("Provinsl", "Provinsi"), ("Kabupaten/l<ota", "Kabupaten/Kota"),
    ("Kecarnatan", "Kecamatan"), ("Kelura11an", "Kelurahan"),
    ("Jenis l<elarnin", "Jenis Kelamin"),
    ("Golongan Dara11", "Golongan Darah"),
    ("l<ecarnatan", "Kecamatan"), ("Agarna", "Agama"),
    ("RT/RVV", "RT/RW"), ("RT /RW", "RT/RW"), ("PROVINSI", "PROVINSI"),
    ("KAB\\.", "KAB."), ("KEL\\.", "KEL."), ("KEC\\.", "KEC."),
)
_INDO_PATTERNS = tuple(
    (re.compile(r"\b" + re.escape(err) + r"\b"), fix)
    for err, fix in _INDO_REPLACEMENTS
)
_NIK_SEARCH_RX = re.compile(r"(?:NIK|N[l1]K)\s*:?\s*([0-9\s\.,]+)", re.IGNORECASE)
_NIK_SUB_RX = re.compile(r"(?:NIK|N[l1]K)\s*:?\s*[0-9\s\.,]+", re.IGNORECASE)
_INDO_DATE_RX = re.compile(r"(\d{1,2})[/\-\.\\](\d{1,2})[/\-\.\\](\d{2,4})")
_INDO_ADDRESS_RX = re.compile(
    r"(?:ALAMAT|Alamat)\s*:?\s*(.+?)"
    r"(?=\n\s*(?:RT/RW|PROVINSI|KABUPATEN|KECAMATAN|KELURAHAN|NIK|AGAMA|\s*$))",
    re.IGNORECASE | re.DOTALL,
)
_WS_RUN_RX = re.compile(r"\s+")
# ref :768-778: field names are NOT regex-escaped — '.' in 'GOL. DARAH'
# matches any char and '/' is literal; kept verbatim
_INDO_ID_FIELDS = (
    "NAMA", "TEMPAT/TGL LAHIR", "JENIS KELAMIN", "ALAMAT", "AGAMA",
    "STATUS PERKAWINAN", "PEKERJAAN", "KEWARGANEGARAAN", "BERLAKU HINGGA",
    "GOL. DARAH", "RT/RW", "KELURAHAN", "KECAMATAN", "PROVINSI", "KABUPATEN",
)
_INDO_FIELD_RXS = tuple(
    re.compile(f"({field})\\s+([^\\n:]+)", re.IGNORECASE)
    for field in _INDO_ID_FIELDS
)


def fix_indonesian_text(text: str) -> str:
    """ref lib/smartglass_ocr.py:663-780 in its exact pass order:
    word replacements -> NIK 16-digit regrouping -> DD-MM-YYYY date
    normalization -> address whitespace cleanup -> missing colons for
    KTP field labels."""
    if not text:
        return ""
    for rx, fix in _INDO_PATTERNS:
        text = rx.sub(fix, text)

    m = _NIK_SEARCH_RX.search(text)
    if m:
        digits = "".join(c for c in m.group(1) if c.isdigit())
        if 15 <= len(digits) <= 17:
            digits = digits[:16].zfill(16)
            formatted = " ".join(digits[i : i + 4] for i in range(0, 16, 4))
            text = _NIK_SUB_RX.sub(f"NIK: {formatted}", text)

    # quirk kept (ref :736-755): str.replace rewrites EVERY substring
    # occurrence of a matched date, so '11/2/95' containing a match
    # for '1/2/95' gets corrupted — reference behavior
    for m in list(_INDO_DATE_RX.finditer(text)):
        day, month, year = m.groups()
        d, mo, y = int(day), int(month), int(year)
        if 1 <= d <= 31 and 1 <= mo <= 12:
            if y < 100:
                y = 2000 + y if y < 50 else 1900 + y
            formatted = f"{day.zfill(2)}-{month.zfill(2)}-{str(y).zfill(4)}"
            text = text.replace(m.group(0), formatted)

    m = _INDO_ADDRESS_RX.search(text)
    if m:
        address = _WS_RUN_RX.sub(" ", m.group(1).strip())
        # callable replacement: the reference interpolates the OCR'd
        # address into the replacement STRING (ref :729), which raises
        # re.error on a backslash in the address and expands literal
        # group references — deviation: same output whenever the
        # reference wouldn't crash/corrupt
        text = _INDO_ADDRESS_RX.sub(lambda _m: f"Alamat: {address}", text)

    for rx in _INDO_FIELD_RXS:
        text = rx.sub(r"\1: \2", text)
    return text
