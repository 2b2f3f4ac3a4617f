"""F8 text reconstruction stage: ``format_text`` dispatcher + the nine
structure formatters, the ``organize_*`` machines, and the F11
response cleanup.

Reference map (all cited against ``/root/reference``):

* ``format_text`` dispatcher          — lib/text_processing.py:1152-1210
* ``format_plain_text``               — :1261-1273
* ``format_paragraphs``               — :1275-1316 (text path)
* ``format_headers_and_content``      — :1318-1385  (W5)
* ``format_bullet_points``            — :1387-1434  (W6)
* ``format_table``                    — :1436-1545
* ``format_form``                     — :1547-1585
* ``format_multi_column``             — :1587-1700 (text path)
* ``format_scientific``               — :1702-1744
* ``default_formatting``              — :1746-1780
* ``organize_text`` + ``organize_*``  — :711-1150  (W3/W4 machines)
* ``clean_response_text``             — lib/utils.py:404-432 (F11)

Two layout-dependent branches are n/a by design: the reference's
``layout_info`` paths (paragraph bboxes at :1287-1292, region
column-bucketing at :1604-1641) consume OCR-engine geometry that the
north rule replaces with deterministic parsing — our documents carry
no bboxes, so ``format_text`` always takes the text-based path, same
as the reference does when ``layout_info`` lacks those keys.

``organize_text`` parity note: ``_enhance_text_organization`` is DEAD
CODE in the reference — defined at :711 and never called (verified:
the only references to it/its ``_organize_*`` callees are inside the
family itself; ``post_process_text`` dispatches the ``_fix_*`` family
instead and the live path goes straight to ``format_text``). It is
implemented here for behavior-complete parity and exposed as an
explicit opt-in stage, but the golden pipeline — like the reference —
does not run it.

Fidelity quirks reproduced on purpose (each marked inline):

* the Title-Case header regex ``^[A-Z][a-z]+(?:\\s+[A-Z][a-z]+){0,3}``
  matches any line whose first word is Title-case (the ``{0,3}``
  admits zero following words), so most sentence lines count as
  headers — reference behavior, kept;
* ``format_scientific`` tests ``line.startswith(' ')`` on an
  already-stripped line (always false) — kept;
* the final character strip removes ``@ $ % / #`` etc. from the
  formatted text, so downstream extraction sees the stripped text —
  reference behavior (format runs before extraction), kept.
"""

from __future__ import annotations

import re
import string

from smartglass_ocr_spark.rules.structure import detect_structure

# ---------------------------------------------------------------- F8 --

# ref :1208 — everything outside this set is dropped post-format
_UNWANTED_RX = re.compile(r"[^\w\s.!?,;:()\"'•\-\n]")

_ALLCAPS_HEADER_RX = re.compile(r"^[A-Z][A-Z\s]+")          # ref :1343,:1360
_TITLECASE_HEADER_RX = re.compile(r"^[A-Z][a-z]+(?:\s+[A-Z][a-z]+){0,3}")
_BULLET_ITEM_RX = re.compile(r"^([•\-*+]|\d+[\.\)])(.+)")    # ref :1410
_BULLET_PREFIX_RX = re.compile(r"^([•\-*+]|\d+[\.\)])")      # ref :1426
_STD_BULLETS = frozenset(
    ["•", "1.", "2.", "3.", "4.", "5.", "6.", "7.", "8.", "9."]
)  # ref :1418
_MULTI_SPACE_GAP_RX = re.compile(r"\s{2,}")
_TABLE_ROW_GAP_RX = re.compile(r"\S+\s{2,}\S+")              # ref :1469
_FORM_FIELD_COLON_RX = re.compile(r"^([A-Za-z\s]+):\s*(.+)")  # ref :1568
_FORM_FIELD_GAP_RX = re.compile(r"^([A-Za-z\s]+)\s{2,}(.+)")  # ref :1575
_FORMULA_INDICATORS = (
    "=", "+", "-", "*", "/", "^", "sqrt", "sin", "cos", "tan", "log"
)  # ref :1725


def format_plain_text(text: str) -> str:
    """ref :1261-1273 — strip every line, drop empties."""
    lines = [ln.strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def format_paragraphs(text: str) -> str:
    """ref :1275-1316 (text path) — fold runs of non-empty lines into
    space-joined paragraphs separated by blank lines."""
    paragraphs: list[str] = []
    cur: list[str] = []
    for ln in text.split("\n"):
        ln = ln.strip()
        if not ln:
            if cur:
                paragraphs.append(" ".join(cur))
                cur = []
        else:
            cur.append(ln)
    if cur:
        paragraphs.append(" ".join(cur))
    return "\n\n".join(paragraphs)


def format_headers_and_content(text: str) -> str:
    """W5 — ref :1318-1385. A line is a header when it matches the
    ALL-CAPS or Title-Case regex (quirk: the latter matches any line
    whose first word is Title-case) or is followed by a blank line;
    the content under a header runs until the next ALL-CAPS line and
    is folded into one paragraph."""
    lines = text.split("\n")
    out: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line:
            out.append("")
            i += 1
            continue
        is_header = bool(
            _ALLCAPS_HEADER_RX.match(line) or _TITLECASE_HEADER_RX.match(line)
        )
        if not is_header and i < len(lines) - 1 and not lines[i + 1].strip():
            is_header = True
        if is_header:
            out.append("")
            out.append(line)
            out.append("")
            i += 1
            content: list[str] = []
            while i < len(lines) and (
                not lines[i].strip()
                or not _ALLCAPS_HEADER_RX.match(lines[i].strip())
            ):
                if lines[i].strip():
                    content.append(lines[i].strip())
                i += 1
            if content:
                # ref :1366-1377 folds content into paragraphs, but the
                # collection loop above drops empty lines, so the fold
                # can never split — a single join is the same result
                out.append(" ".join(content))
        else:
            out.append(line)
            i += 1
    return "\n".join(out)


def format_bullet_points(text: str) -> str:
    """W6 — ref :1387-1434. Normalize bullet markers to ``•`` (keeping
    ``1.``-``9.``), attach non-bullet continuation lines with a
    two-space indent."""
    lines = text.split("\n")
    out: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line:
            out.append("")
            i += 1
            continue
        m = _BULLET_ITEM_RX.match(line)
        if m:
            bullet = m.group(1)
            content = m.group(2).strip()
            if bullet not in _STD_BULLETS:
                bullet = "•"
            out.append(f"{bullet} {content}")
            i += 1
            while (
                i < len(lines)
                and lines[i].strip()
                and not _BULLET_PREFIX_RX.match(lines[i].strip())
            ):
                out.append(f"  {lines[i].strip()}")
                i += 1
        else:
            out.append(line)
            i += 1
    return "\n".join(out)


def format_table(text: str) -> str:
    """ref :1436-1545 — collect delimiter/space-aligned rows, infer
    column boundaries for space-delimited tables from the first five
    rows (gap positions grouped within 3 chars), insert ``|``
    delimiters and a separator after the header row."""
    lines = text.split("\n")
    table_lines: list[str] = []
    for raw in lines:
        line = raw.strip()
        if not line:
            continue
        if "|" in line or "\t" in line:
            table_lines.append(line)
        elif _TABLE_ROW_GAP_RX.search(line):
            table_lines.append(line)
    if not table_lines:
        return text

    formatted_table: list[str] = []
    has_pipes = any("|" in ln for ln in table_lines)
    if not has_pipes:
        per_line_positions = []
        for line in table_lines[: min(5, len(table_lines))]:
            positions = [m.start() for m in _MULTI_SPACE_GAP_RX.finditer(line)]
            if positions:
                per_line_positions.append(positions)
        if per_line_positions:
            all_positions = sorted(
                pos for positions in per_line_positions for pos in positions
            )
            boundaries: list[int] = []
            group = [all_positions[0]]
            for pos in all_positions[1:]:
                if pos - group[-1] < 3:
                    group.append(pos)
                else:
                    boundaries.append(sum(group) // len(group))
                    group = [pos]
            if group:
                boundaries.append(sum(group) // len(group))
            for line in table_lines:
                formatted_line = line
                # ref :1517-1519 quirk: the bound check uses the
                # original line's length while slicing the mutated one
                for boundary in reversed(boundaries):
                    if boundary < len(line):
                        formatted_line = (
                            formatted_line[:boundary]
                            + " | "
                            + formatted_line[boundary:].lstrip()
                        )
                formatted_table.append(formatted_line)
        else:
            formatted_table = table_lines
    else:
        for line in table_lines:
            parts = [part.strip() for part in line.split("|")]
            formatted_table.append(" | ".join(parts))

    if len(formatted_table) > 1:
        header = formatted_table[0]
        if "|" in header:
            parts = header.split("|")
            separator = "|".join("-" * len(part.strip()) for part in parts)
        else:
            separator = "-" * len(header)
        formatted_table.insert(1, separator)
    return "\n".join(formatted_table)


def format_form(text: str) -> str:
    """ref :1547-1585 — normalize ``Label: Value`` / ``Label  Value``
    rows; everything else passes through."""
    out: list[str] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            out.append("")
            continue
        if _FORM_FIELD_COLON_RX.match(line):
            out.append(line)
            continue
        m = _FORM_FIELD_GAP_RX.match(line)
        if m:
            out.append(f"{m.group(1).strip()}: {m.group(2).strip()}")
        else:
            out.append(line)
    return "\n".join(out)


_MULTI_COLUMN_NOTE = (
    "NOTE: This text appears to be in multiple columns. "
    "The content below has been reformatted as a single column."
)
_SHORT_LINE_THRESHOLD = 30  # ref :1647


def format_multi_column(text: str) -> str:
    """ref :1587-1700 (text path) — when >50% of lines are short,
    prepend the reformat NOTE and fold lines into paragraphs, breaking
    after punctuation-terminated or very short (<4 words) lines;
    otherwise fall back to paragraph formatting."""
    lines = text.split("\n")
    short_lines = [
        i
        for i, ln in enumerate(lines)
        if 0 < len(ln.strip()) < _SHORT_LINE_THRESHOLD
    ]
    if len(short_lines) <= len(lines) * 0.5:
        return format_paragraphs(text)

    out: list[str] = [_MULTI_COLUMN_NOTE, ""]
    cur: list[str] = []
    for raw in lines:
        line = raw.strip()
        if not line:
            if cur:
                out.append(" ".join(cur))
                cur = []
            out.append("")
        elif (
            cur
            and line[0].isupper()
            and len(cur[-1]) < _SHORT_LINE_THRESHOLD
        ):
            if cur[-1].endswith((".", "!", "?", ":", ";")):
                out.append(" ".join(cur))
                cur = [line]
            elif len(cur[-1].split()) < 4:
                # very short prior line — treated as a column break
                out.append(" ".join(cur))
                cur = [line]
            else:
                cur.append(line)
        else:
            cur.append(line)
    if cur:
        out.append(" ".join(cur))
    return "\n".join(out)


def format_scientific(text: str) -> str:
    """ref :1702-1744 — isolate formula lines with blank lines; other
    lines continue the previous paragraph (quirk: the indent test runs
    on the stripped line, so continuation always wins)."""
    lines = text.split("\n")
    out: list[str] = []
    for i, raw in enumerate(lines):
        line = raw.strip()
        if not line:
            out.append("")
            continue
        if any(ind in line for ind in _FORMULA_INDICATORS):
            out.append("")
            out.append(line)
            out.append("")
        elif i > 0 and out and out[-1] and not line.startswith(" "):
            out[-1] += " " + line
        else:
            out.append(line)
    return "\n".join(out)


def default_formatting(text: str) -> str:
    """ref :1746-1780 — paragraph fold that preserves blank lines."""
    out: list[str] = []
    cur: list[str] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            if cur:
                out.append(" ".join(cur))
                cur = []
            out.append("")
        else:
            cur.append(line)
    if cur:
        out.append(" ".join(cur))
    return "\n".join(out)


_FORMATTERS = {
    "plain_text": format_plain_text,
    "paragraphs": format_paragraphs,
    "headers_and_content": format_headers_and_content,
    "bullet_points": format_bullet_points,
    "table": format_table,
    "form": format_form,
    "multi_column": format_multi_column,
    "scientific": format_scientific,
    # "mixed" and anything else -> default_formatting (ref :1204-1205)
}


def format_text(text: str, structure: str | None = None) -> str:
    """F8 dispatcher — ref :1152-1210. Structure is detected on the
    INPUT text (ref :1182-1185); the caller may pass a precomputed
    detection to avoid recomputing. Ends with the unwanted-character
    strip (ref :1208) and outer strip (ref :1210)."""
    if not text:
        return ""
    if structure is None:
        structure = detect_structure(text)
    formatted = _FORMATTERS.get(structure, default_formatting)(text)
    return _UNWANTED_RX.sub("", formatted).strip()


# ---------------------------------------------- organize family (dead) --

_ORG_LIST_RX = re.compile(r"^\d+[\.\)]")                      # ref :769
_ORG_ALLCAPS_RX = re.compile(r"^[A-Z][A-Z\s]+:?")             # ref :775
_ORG_LABEL_RX = re.compile(r"^[A-Z][A-Za-z\s]+:")             # ref :775


def organize_document_text(text: str) -> str:
    """W3 paragraph machine — ref :744-805. Breaks before list items,
    headings/labels, and short unpunctuated lines; a regular line
    starts a new paragraph when it begins upper/digit and the previous
    accumulated line ended a sentence."""
    out: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            out.append(" ".join(cur))
            cur.clear()

    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            flush()
            out.append("")
        elif (
            line.startswith("•")
            or line.startswith("-")
            or _ORG_LIST_RX.match(line)
        ):
            flush()
            out.append(line)
        elif _ORG_ALLCAPS_RX.match(line) or _ORG_LABEL_RX.match(line):
            flush()
            out.append(line)
        elif len(line) < 40 and not line.endswith((".", "?", "!")):
            flush()
            out.append(line)
        else:
            if (
                cur
                and (line[0].isupper() or line[0].isdigit())
                and cur[-1].endswith((".", "!", "?"))
            ):
                flush()
                cur.append(line)
            else:
                cur.append(line)
    flush()
    return "\n".join(out)


def organize_form_text(text: str) -> str:
    """ref :807-848 — same field normalization as :func:`format_form`
    but re-emits matched colon rows re-joined as ``Label: Value``."""
    out: list[str] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            out.append("")
            continue
        m = _FORM_FIELD_COLON_RX.match(line)
        if m:
            out.append(f"{m.group(1).strip()}: {m.group(2).strip()}")
            continue
        m = _FORM_FIELD_GAP_RX.match(line)
        if m:
            out.append(f"{m.group(1).strip()}: {m.group(2).strip()}")
        else:
            out.append(line)
    return "\n".join(out)


_RCPT_ITEMS_START_RX = re.compile(
    r"^ITEM|^DESCRIPTION|^QTY|PRICE|^-+", re.IGNORECASE
)  # ref :881
_RCPT_RULE_RX = re.compile(r"^={5,}")                          # ref :882
_RCPT_TOTALS_RX = re.compile(r"^SUBTOTAL|^TAX|^TOTAL|^={5,}", re.IGNORECASE)
_RCPT_FOOTER_RX = re.compile(
    r"^THANK|^RETURN|^EXCHANGE|^POLICY|^RECEIPT", re.IGNORECASE
)  # ref :895


def organize_receipt_text(text: str) -> str:
    """W4 receipt section machine — ref :850-930. header -> items ->
    totals -> footer, with the items-start delimiter line consumed."""
    header: list[str] = []
    items: list[str] = []
    totals: list[str] = []
    footer: list[str] = []
    section = "header"
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        if section == "header" and (
            _RCPT_ITEMS_START_RX.match(line) or _RCPT_RULE_RX.match(line)
        ):
            section = "items"
            continue
        if section == "items" and _RCPT_TOTALS_RX.match(line):
            section = "totals"
        if section == "totals" and _RCPT_FOOTER_RX.match(line):
            section = "footer"
        {"header": header, "items": items, "totals": totals, "footer": footer}[
            section
        ].append(line)

    out: list[str] = []
    if header:
        out.extend(header)
        out.append("")
    if items:
        out.append("ITEMS:")
        out.extend("  " + ln for ln in items)
        out.append("")
    if totals:
        out.append("TOTALS:")
        out.extend(totals)
        out.append("")
    if footer:
        out.extend(footer)
    return "\n".join(out)


_ID_FIELDS = (
    "NAME", "ADDRESS", "DATE OF BIRTH", "DOB", "EXPIRATION DATE", "SEX",
    "GENDER", "HEIGHT", "WEIGHT", "EYES", "HAIR", "DRIVER'S LICENSE",
    "ISSUE DATE", "PLACE OF BIRTH", "NATIONALITY", "RELIGION",
    "MARITAL STATUS", "BLOOD TYPE", "OCCUPATION", "ID NUMBER", "SIGNATURE",
)  # ref :947-952
_ID_FIELD_ORDER = (
    "ADDRESS", "DATE OF BIRTH", "DOB", "PLACE OF BIRTH", "SEX", "GENDER",
    "HEIGHT", "WEIGHT", "EYES", "HAIR", "BLOOD TYPE", "NATIONALITY",
    "RELIGION", "MARITAL STATUS", "OCCUPATION", "ISSUE DATE",
    "EXPIRATION DATE",
)  # ref :996-1001


# per field: the anchored "FIELD: value" line and the bare field name
_ID_FIELD_RXS = tuple(
    (
        field,
        re.compile(f"^{re.escape(field)}\\s*:?\\s*(.+)", re.IGNORECASE),
        re.compile(re.escape(field), re.IGNORECASE),
    )
    for field in _ID_FIELDS
)


def organize_id_card_text(text: str) -> str:
    """ref :932-1012 — harvest known ID fields into a dict (first the
    anchored ``FIELD: value`` match, else a split on the field name
    anywhere in the line), then emit NAME, the id number, the fixed
    field order, and any leftovers in insertion order."""
    field_values: dict[str, str] = {}
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        matched = None
        for field, rx_line, _ in _ID_FIELD_RXS:
            m = rx_line.match(line)
            if m:
                matched = (field, m.group(1).strip())
                break
        if matched:
            field_values[matched[0].upper()] = matched[1]
        else:
            for field, _, rx_name in _ID_FIELD_RXS:
                if field.upper() in line.upper():
                    parts = rx_name.split(line)
                    if len(parts) > 1 and parts[1].strip():
                        field_values[field.upper()] = parts[1].strip()
                        break

    out: list[str] = []
    if "NAME" in field_values:
        out.append(f"NAME: {field_values['NAME']}")
    for field in ("ID NUMBER", "DRIVER'S LICENSE"):
        if field in field_values:
            out.append(f"{field}: {field_values[field]}")
            break
    for field in _ID_FIELD_ORDER:
        if field in field_values:
            out.append(f"{field}: {field_values[field]}")
    leading = ("NAME", "ID NUMBER", "DRIVER'S LICENSE") + _ID_FIELD_ORDER
    for field, value in field_values.items():
        if field not in leading:
            out.append(f"{field}: {value}")
    return "\n".join(out)


_PIPE_PAD_RX = re.compile(r"\s*\|\s*")


def organize_table_text(text: str) -> str:
    """W8 twin — ref :1014-1119. Pipe rows get normalized delimiters +
    a ``---`` separator after the header; otherwise whitespace-column
    boundaries are inferred from the first five lines and pipes
    inserted; else lines are stripped."""
    lines = text.split("\n")
    out: list[str] = []

    if any("|" in ln for ln in lines):
        for i, raw in enumerate(lines):
            if not raw.strip():
                out.append("")
                continue
            line = _PIPE_PAD_RX.sub(" | ", raw.strip())
            if not line.startswith("|"):
                line = "| " + line
            if not line.endswith("|"):
                line = line + " |"
            out.append(line)
            if i == 0 and len(lines) > 1:
                nxt = lines[1].strip()
                if not nxt.startswith("--") and not nxt.startswith("=="):
                    columns = line.count("|") - 1
                    out.append("|" + "|".join(" --- " for _ in range(columns)) + "|")
        return "\n".join(out)

    if len(lines) > 2:
        whitespace_cols: list[tuple[int, int]] = []
        for line in lines[:5]:
            if not line.strip():
                continue
            prev_char = ""
            col_start = -1
            for i, char in enumerate(line):
                if char.isspace() and prev_char not in string.whitespace:
                    col_start = i
                elif (
                    not char.isspace()
                    and prev_char in string.whitespace
                    and col_start >= 0
                ):
                    if i - col_start >= 2:
                        whitespace_cols.append((col_start, i))
                    col_start = -1
                prev_char = char
        if whitespace_cols:
            boundaries: list[int] = []
            for start, _end in sorted(whitespace_cols, key=lambda x: x[0]):
                if not boundaries or start > boundaries[-1] + 3:
                    boundaries.append(start)
            if boundaries:
                for line in lines:
                    if not line.strip():
                        out.append("")
                        continue
                    new_line = "| "
                    last_pos = 0
                    for boundary in boundaries:
                        if boundary < len(line):
                            new_line += line[last_pos:boundary].strip() + " | "
                            last_pos = boundary
                    if last_pos < len(line):
                        new_line += line[last_pos:].strip() + " |"
                    out.append(new_line)
                if out:
                    columns = out[0].count("|") - 1
                    out.insert(
                        1, "|" + "|".join(" --- " for _ in range(columns)) + "|"
                    )
                return "\n".join(out)

    return "\n".join(ln.strip() for ln in lines)


def default_text_organization(text: str) -> str:
    """ref :1121-1150 — strip lines, collapse runs of blank lines."""
    out: list[str] = []
    prev_empty = False
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            if not prev_empty:
                out.append("")
                prev_empty = True
        else:
            out.append(line)
            prev_empty = False
    return "\n".join(out)


_ORGANIZERS = {
    # ImageType.DOCUMENT / BOOK_PAGE -> document machine (ref :723-725)
    "content": organize_document_text,
    "heading": organize_document_text,
    "form": organize_form_text,
    "receipt": organize_receipt_text,
    "id_card": organize_id_card_text,
    "table": organize_table_text,
}


def organize_text(text: str, block_class: str = "content") -> str:
    """``_enhance_text_organization`` analogue — ref :711-742, keyed by
    our block classes instead of ``ImageType``. Dead code in the
    reference (see module docstring); exposed as an explicit opt-in
    stage only."""
    return _ORGANIZERS.get(block_class, default_text_organization)(text)


# --------------------------------------------------------------- F11 --

_NEWLINES_RX = re.compile(r"\n+")
_WS_RX = re.compile(r"\s+")


def clean_response_text(text: str | None) -> str:
    """F11 — ref lib/utils.py:404-432 / app/api/utils.py:97-123:
    newlines -> spaces, whitespace runs -> one space, backslashes
    dropped, strip. (The reference's trailing ``\\t``/``\\r`` replaces
    are no-ops — the whitespace collapse already consumed them — and
    are folded away here.)"""
    if not text:
        return ""
    text = _NEWLINES_RX.sub(" ", text)
    text = _WS_RX.sub(" ", text)
    return text.replace("\\", "").strip()
