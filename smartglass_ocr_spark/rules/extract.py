"""Structured field extraction (E1-E7 in SURVEY.md §2.8).

Re-expresses ``lib/information_extraction.py`` as pure functions.
Two views of the same extraction:

- flattened ``dict[str, str]`` (Spark ``map<string,string>``;
  FIXTURES.md §3 ``structured_info``) — nested shapes flatten with
  deterministic keys (``item_0_name``, ``row_0``, ...);
- TYPED nested twins (``extract_receipt_typed`` /
  ``extract_table_typed`` / ``extract_structured_typed``) matching
  the reference's actual JSON shapes byte-for-byte — receipt
  ``items`` as a list of structs, table ``rows`` as {header: value}
  maps — surfaced as the ``structured_typed`` struct column
  (executed-reference parity with NO flattening caveat,
  tests/test_reference_parity.py).

Parity citations:
- dispatcher          -> ``lib/information_extraction.py:28-53``
- ``extract_id_card`` -> ``lib/information_extraction.py:55-134``
- ``extract_receipt`` -> ``lib/information_extraction.py:136-276``
- ``extract_form``    -> ``lib/information_extraction.py:278-329``
- ``extract_table``   -> ``lib/information_extraction.py:331-528``
- ``extract_generic`` -> ``lib/information_extraction.py:530-562``

Documented deviation: the reference guards values with
``not re.match(r'^[:\\-,.;]*', value)`` (``:307``, ``:559``) — that
pattern matches the empty string, so the guard rejects *every* value
and the form line-scan / generic extractor are constant no-ops. We
implement the evident intent (reject values that are only punctuation)
by anchoring the pattern with ``$``.
"""

from __future__ import annotations

import re
from bisect import bisect_left

from smartglass_ocr_spark.rules.casefold import fold, twin

# ---------------------------------------------------------------- E2
_ID_FIELD_PATTERNS = {
    "name": r"(?:name|nama)[\s:]+([^\n]+)",
    "date_of_birth": r"(?:date of birth|birth date|birthdate|dob|tanggal lahir)[\s:]+([^\n]+)",
    "gender": r"(?:gender|sex|jenis kelamin)[\s:]+([^\n]+)",
    "address": r"(?:address|alamat)[\s:]+([^\n]+)",
    "id_number": r"(?:id|no|number|nomor)[\s:]+([A-Z0-9\-\s]+)",
    "expiration_date": r"(?:expiration|expiry|exp|berlaku sampai)[\s:]+([^\n]+)",
    "issue_date": r"(?:issue|issued|date of issue|tanggal dikeluarkan)[\s:]+([^\n]+)",
    "nationality": r"(?:nationality|negara|warga negara|citizenship)[\s:]+([^\n]+)",
    "place_of_birth": r"(?:place of birth|birthplace|tempat lahir)[\s:]+([^\n]+)",
    "blood_type": r"(?:blood|blood type|golongan darah)[\s:]+([^\n]+)",
    "marital_status": r"(?:marital status|status perkawinan)[\s:]+([^\n]+)",
    "occupation": r"(?:occupation|job|pekerjaan)[\s:]+([^\n]+)",
    "religion": r"(?:religion|agama)[\s:]+([^\n]+)",
}
# the patterns are case-insensitive: each runs as its lowercase twin on
# the folded haystack (rules/casefold.py)
_ID_FIELD_RXS = {f: twin(p) for f, p in _ID_FIELD_PATTERNS.items()}
# fallback label patterns, precompiled once (the rf-string rebuild per
# call cost ~30% of extract_id_card in the flagship profile); the
# label literal itself gates each search C-side — both patterns
# require it verbatim in the folded haystack, so a failed `in` skips
# the regex scan exactly
_ID_FIELD_LABELS = {
    "name": ["name", "nama"],
    "date_of_birth": ["date of birth", "birth date", "birthdate", "dob", "tanggal lahir"],
    "gender": ["gender", "sex", "jenis kelamin"],
    "address": ["address", "alamat"],
    "id_number": ["id", "no", "number", "nomor", "nomor kartu"],
    "expiration_date": ["expiration", "expiry", "exp", "berlaku sampai"],
    "issue_date": ["issue", "issued", "date of issue", "tanggal dikeluarkan"],
    "nationality": ["nationality", "negara", "warga negara", "citizenship"],
    "place_of_birth": ["place of birth", "birthplace", "tempat lahir"],
    "blood_type": ["blood", "blood type", "golongan darah"],
    "marital_status": ["marital status", "status perkawinan"],
    "occupation": ["occupation", "job", "pekerjaan"],
    "religion": ["religion", "agama"],
}
_ID_LABEL_RXS = {
    field: [
        (
            label,
            twin(rf"\b{re.escape(label)}\s*:\s*([^\n]+)"),
            twin(rf"^\s*{re.escape(label)}\s+([^\n]+)", re.MULTILINE),
        )
        for label in labels
    ]
    for field, labels in _ID_FIELD_LABELS.items()
}


def _group1(m: re.Match | None, source: str) -> str:
    """Group 1 of a twin's match on a folded copy, sliced by span from
    ``source`` (the text the copy was folded from) and stripped; ""
    without a match."""
    return source[m.start(1):m.end(1)].strip() if m else ""


def extract_id_card(text: str) -> dict[str, str]:
    """ID-card fields; note the reference lowercases the haystack
    before matching (``:84``), so extracted values come out lowercase
    — reproduced. The twins search the folded copy of the lowered
    text, and values are sliced from the lowered text."""
    out: dict[str, str] = {}
    lowered = text.lower()
    folded = fold(lowered)
    for field, rx in _ID_FIELD_RXS.items():
        value = _group1(rx.search(folded), lowered)
        if value:
            out[field] = value
    for field, labels in _ID_LABEL_RXS.items():
        if field in out:
            continue
        for label, rx_colon, rx_line in labels:
            if label not in folded:
                continue
            value = _group1(rx_colon.search(folded), lowered) or _group1(
                rx_line.search(folded), lowered
            )
            if value:
                out[field] = value
                break
    return out


# ---------------------------------------------------------------- E3
_PAYMENT_METHODS = (
    "cash", "card", "credit", "debit", "visa", "mastercard", "amex",
    "american express", "discover", "tunai", "kartu", "kredit",
)
_RECEIPT_ITEM_START_RX = re.compile(r"^(?:items?|description|qty|quantity|item price)", re.IGNORECASE)
_RECEIPT_ITEM_END_RX = re.compile(r"^(?:subtotal|total|tax|amount)", re.IGNORECASE)
_ITEM_P1 = re.compile(r"(.+?)\s+(\d+)\s+\$?([0-9\.,]+)")
_ITEM_P2 = re.compile(r"(.+?)\s+\$?([0-9\.,]+)")
_ITEM_P3 = re.compile(r"(\d+)(?:\s*[xX]\s*)(.+?)\s+\$?([0-9\.,]+)")
# labelled fields search the lowercased text; the bare date/time
# fallbacks search the original
_RECEIPT_DATE_RX = re.compile(r"(?:date|tanggal)[\s:]+([0-9/\-\.]+)")
_RECEIPT_BARE_DATE_RX = re.compile(r"\b(\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4})\b")
_RECEIPT_TIME_RX = re.compile(r"(?:time|waktu)[\s:]+(\d{1,2}:\d{2}(?::\d{2})?(?:\s*[AP]M)?)")
_RECEIPT_BARE_TIME_RX = re.compile(r"\b(\d{1,2}:\d{2}(?::\d{2})?(?:\s*[AP]M)?)\b")
_RECEIPT_AMOUNT_RXS = (
    ("subtotal", re.compile(r"(?:subtotal|sub[\s-]?total)[\s:]+\$?([0-9\.,]+)")),
    ("tax", re.compile(r"(?:tax|vat|pajak)[\s:]+\$?([0-9\.,]+)")),
    ("total", re.compile(r"(?:total|amount|jumlah)[\s:]+\$?([0-9\.,]+)")),
)


def extract_receipt_typed(text: str) -> dict:
    """The reference's NESTED receipt shape (ref lib/
    information_extraction.py:136-276): scalar fields plus
    ``items: [{name, quantity, price}]`` — SURVEY §1.1's promised
    ``array<struct>``. :func:`extract_receipt` flattens this."""
    out: dict = {"items": []}
    lines = text.split("\n")
    if lines and lines[0].strip():
        out["merchant"] = lines[0].strip()

    lowered = text.lower()
    m = _RECEIPT_DATE_RX.search(lowered)
    if m:
        out["date"] = m.group(1).strip()
    else:
        m = _RECEIPT_BARE_DATE_RX.search(text)
        if m:
            out["date"] = m.group(1)
    m = _RECEIPT_TIME_RX.search(lowered)
    if m:
        out["time"] = m.group(1).strip()
    else:
        m = _RECEIPT_BARE_TIME_RX.search(text)
        if m:
            out["time"] = m.group(1)
    for key, rx in _RECEIPT_AMOUNT_RXS:
        m = rx.search(lowered)
        if m:
            out[key] = m.group(1).strip()
    for method in _PAYMENT_METHODS:
        if method in lowered:
            out["payment_method"] = method
            break

    # item-section state machine (ref :200-274)
    item_lines: list[str] = []
    in_items = False
    for raw in lines:
        line = raw.strip()
        if _RECEIPT_ITEM_START_RX.match(line):
            in_items = True
            continue
        if in_items and _RECEIPT_ITEM_END_RX.match(line):
            in_items = False
            continue
        if in_items and line:
            item_lines.append(line)

    for line in item_lines:
        m = _ITEM_P1.match(line)
        if m:
            name, qty, price = m.group(1).strip(), m.group(2), m.group(3)
        else:
            m = _ITEM_P2.match(line)
            if m:
                name, qty, price = m.group(1).strip(), "1", m.group(2)
            else:
                m = _ITEM_P3.match(line)
                if m:
                    qty, name, price = m.group(1), m.group(2).strip(), m.group(3)
                else:
                    name, qty, price = line, "1", "0.00"
        out["items"].append({"name": name, "quantity": qty, "price": price})
    return out


def extract_receipt(text: str) -> dict[str, str]:
    """Flattened map view of :func:`extract_receipt_typed`
    (``item_N_*`` keys + ``items_count``) — the stable
    ``map<string,string>`` contract column."""
    typed = extract_receipt_typed(text)
    out = {k: v for k, v in typed.items() if k != "items"}
    for n, item in enumerate(typed["items"]):
        out[f"item_{n}_name"] = item["name"]
        out[f"item_{n}_quantity"] = item["quantity"]
        out[f"item_{n}_price"] = item["price"]
    out["items_count"] = str(len(typed["items"]))
    return out


# ---------------------------------------------------------------- E4
_FORM_LINE_RX = re.compile(r"([A-Za-z\s]+[A-Za-z])[\s:]+(.+)")
_PUNCT_ONLY_RX = re.compile(r"^[:\-,.;]*$")  # intent-fixed, see module docstring
# case-insensitive in the reference: run as lowercase twins on the
# folded text, groups sliced from the text itself
_FORM_SPECIAL_PATTERNS = {
    "name": r"(?:name|nama)[\s:]+([^\n]+)",
    "email": r"(?:email|e-mail)[\s:]+([^\n]+)",
    "phone": r"(?:phone|telephone|tel|hp|handphone)[\s:]+([^\n]+)",
    "address": r"(?:address|alamat)[\s:]+([^\n]+)",
    "date": r"(?:date|tanggal)[\s:]+([^\n]+)",
    "company": r"(?:company|perusahaan)[\s:]+([^\n]+)",
    "department": r"(?:department|departemen)[\s:]+([^\n]+)",
}
_FORM_SPECIAL_RXS = {f: twin(p) for f, p in _FORM_SPECIAL_PATTERNS.items()}


def extract_form(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        m = _FORM_LINE_RX.match(line)
        if m:
            field = m.group(1).strip().lower().replace(" ", "_")
            value = m.group(2).strip()
            if value and not _PUNCT_ONLY_RX.match(value):
                out[field] = value
    folded = fold(text)
    for field, rx in _FORM_SPECIAL_RXS.items():
        if field not in out:
            value = _group1(rx.search(folded), text)
            if value:
                out[field] = value
    return out


# ---------------------------------------------------------------- E5/E6
def _is_separator(line: str) -> bool:
    return all(c in "-=" or c.isspace() for c in line)


def _parse_delimited(lines: list[str], delimiter: str) -> tuple[list[str], list[list[str]]]:
    non_empty = [ln for ln in lines if ln.strip()]
    if not non_empty:
        return [], []
    headers = [h.strip() for h in non_empty[0].split(delimiter) if h.strip()]
    if not headers:
        return [], []
    rows = []
    for row in non_empty[1:]:
        if _is_separator(row):
            continue
        values = [v.strip() for v in row.split(delimiter)]
        rows.append(values[: len(headers)])
    return headers, rows


_NON_SPACE_RUN_RX = re.compile(r"\S+")


def _column_starts(rows: list[str]) -> list[int]:
    """Column starts inferred from word positions of the first <=5 rows
    (ref :440-469: merge within 5 chars by midpoint, else new column)."""
    col_starts: list[int] = []
    for i, row in enumerate(rows[:5]):
        positions = [m.start() for m in _NON_SPACE_RUN_RX.finditer(row)]
        if i == 0:
            col_starts = positions
            continue
        new_positions = []
        for pos in positions:
            # nearest start, the lower of two equidistant ones (a min()
            # scan's first): the starts stay strictly increasing, since
            # a merge moves one only within the gap to ``pos``
            j = bisect_left(col_starts, pos)
            if j == len(col_starts) or (j and pos - col_starts[j - 1] <= col_starts[j] - pos):
                j -= 1
            closest = col_starts[j]
            if abs(closest - pos) < 5:
                col_starts[j] = (closest + pos) // 2
            else:
                new_positions.append(pos)
        col_starts.extend(new_positions)
        col_starts.sort()
    return col_starts


def _parse_space_aligned(lines: list[str]) -> tuple[list[str], list[list[str]]]:
    non_empty = [ln for ln in lines if ln.strip()]
    if not non_empty:
        return [], []
    col_starts = _column_starts(non_empty)
    if not col_starts:
        return [], []

    # a cell runs from its column's start to the next column's (the
    # last one to the line's end); a column past the line is empty
    bounds = list(zip(col_starts, col_starts[1:] + [None]))
    head = non_empty[0]
    headers = [h for h in (head[a:b].strip() for a, b in bounds) if h]
    if not headers:
        return [], []
    # a body row keeps its first len(headers) cells: build only those
    bounds = bounds[: len(headers)]
    return headers, [
        [row[a:b].strip() for a, b in bounds]
        for row in non_empty[1:]
        if not _is_separator(row)
    ]


def _table_headers_rows(text: str) -> tuple[list[str], list[list[str]]]:
    lines = text.split("\n")
    if any("|" in ln for ln in lines):
        return _parse_delimited(lines, "|")
    if any("\t" in ln for ln in lines):
        return _parse_delimited(lines, "\t")
    return _parse_space_aligned(lines)


def extract_table_typed(text: str) -> dict:
    """The reference's NESTED table shape (ref lib/
    information_extraction.py:331-369): ``headers`` list + ``rows``
    as per-row {header: value} maps (``row_data[headers[j]] =
    values[j]`` ≡ ``dict(zip(headers, values))`` — same truncation at
    the shorter side, same last-wins collapse of duplicate headers;
    empty row_data rows are skipped, ref :421-423)."""
    headers, rows = _table_headers_rows(text)
    row_maps = [dict(zip(headers, values)) for values in rows]
    return {"headers": headers, "rows": [r for r in row_maps if r]}


def extract_table(text: str) -> dict[str, str]:
    """Flattened map view ('|'-joined headers and value rows) — the
    stable ``map<string,string>`` contract column."""
    headers, rows = _table_headers_rows(text)
    out = {"headers": "|".join(headers), "n_rows": str(len(rows))}
    for i, row in enumerate(rows):
        out[f"row_{i}"] = "|".join(row)
    return out


# ---------------------------------------------------------------- E7
_GENERIC_KV_RX = re.compile(r"([A-Za-z][A-Za-z\s]{2,20})[\s:]+([^\n:]{2,100})")


def extract_generic(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        for m in _GENERIC_KV_RX.finditer(line):
            field = m.group(1).strip().lower().replace(" ", "_")
            value = m.group(2).strip()
            if value and not _PUNCT_ONLY_RX.match(value):
                out[field] = value
    return out


# ---------------------------------------------------------------- E1
def extract_structured(block_class: str, text: str) -> dict[str, str]:
    """Dispatcher (ref lib/information_extraction.py:28-53), keyed by
    our block class instead of ImageType."""
    if not text:
        return {}
    if block_class == "id_card":
        return extract_id_card(text)
    if block_class == "receipt":
        return extract_receipt(text)
    if block_class == "form":
        return extract_form(text)
    if block_class == "table":
        return extract_table(text)
    return extract_generic(text)


def extract_structured_typed(block_class: str, text: str) -> dict | None:
    """Typed nested twin of :func:`extract_structured` for the two
    classes whose reference output is genuinely nested — receipts
    (``items array<struct<name,quantity,price>>``, ref lib/
    information_extraction.py:236-274) and tables (``headers``/
    ``rows``, ref :366-369). id_card/form/generic reference shapes
    are flat string maps already, fully carried by the flattened
    ``structured_info`` column — None here."""
    if not text:
        return None
    if block_class == "receipt":
        t = extract_receipt_typed(text)
        return {
            "receipt": {
                "merchant": t.get("merchant"),
                "date": t.get("date"),
                "time": t.get("time"),
                "subtotal": t.get("subtotal"),
                "tax": t.get("tax"),
                "total": t.get("total"),
                "payment_method": t.get("payment_method"),
                "items": t["items"],
            },
            "table": None,
        }
    if block_class == "table":
        return {"receipt": None, "table": extract_table_typed(text)}
    return None


def confidence_level(confidence: float) -> str:
    """Confidence bands (ref lib/information_extraction.py:621-642)."""
    if confidence >= 90:
        return "Very High"
    if confidence >= 75:
        return "High"
    if confidence >= 60:
        return "Good"
    if confidence >= 40:
        return "Moderate"
    if confidence >= 20:
        return "Low"
    return "Very Low"


# ref lib/information_extraction.py:644-684 `_format_structured_info`
# key sets (the reference filters its nested dict by these exact keys)
_FMT_ID_CARD_KEYS = (
    "name", "id_number", "date_of_birth", "gender", "address",
    "expiration_date", "issue_date", "nationality",
)
_FMT_RECEIPT_KEYS = ("merchant", "date", "time", "subtotal", "tax", "total")


def format_structured_info(info: dict) -> dict[str, dict]:
    """Grouped view of the flat structured_info map — E8's
    ``_format_structured_info`` (ref lib/information_extraction.py:
    644-684): id_card / receipt sections keyed by sentinel fields,
    'general' fallback. Our receipt items are flattened
    ``item_N_*`` keys (the reference keeps a nested list), so
    items_count counts distinct item indices."""
    if not info:
        return {}
    formatted: dict[str, dict] = {}
    if "name" in info or "id_number" in info:
        formatted["id_card"] = {
            k: v for k, v in info.items() if k in _FMT_ID_CARD_KEYS
        }
    if "merchant" in info or "total" in info:
        receipt = {k: v for k, v in info.items() if k in _FMT_RECEIPT_KEYS}
        item_keys = [k for k in info if k.startswith("item_")]
        if item_keys:
            receipt["items_count"] = str(len({k.split("_")[1] for k in item_keys}))
            for k in sorted(item_keys):
                receipt[k] = info[k]
        formatted["receipt"] = receipt
    if not formatted:
        formatted["general"] = dict(info)
    return formatted
