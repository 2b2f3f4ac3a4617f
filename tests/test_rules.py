"""Edge-case unit tests pinning each rule to the reference's cited
behavior (SURVEY.md §5.2 layer 1). These are hand-written expectations
— NOT generated by the rules themselves — so the shared-spec design
(golden generator and UDFs importing the same module) stays honest.
"""

from __future__ import annotations

from smartglass_ocr_spark.rules.classify import classify_block, html_densities, strip_html
from smartglass_ocr_spark.rules.cleanup import (
    apply_word_corrections,
    clean_for_class,
    fix_form,
    fix_id_card,
    fix_receipt,
    fix_table,
    general_cleanup,
)
from smartglass_ocr_spark.rules.confidence import status_for, weighted_confidence
from smartglass_ocr_spark.rules.extract import (
    extract_form,
    extract_id_card,
    extract_generic,
    extract_receipt,
    extract_table,
)
from smartglass_ocr_spark.rules.langdetect import detect_language
from smartglass_ocr_spark.rules.structure import detect_structure
from smartglass_ocr_spark.rules.summarize import extract_key_insights, generate_summary


# ---- F1 general cleanup (ref lib/text_processing.py:88-128) --------

def test_digit_context_confusions():
    # ref :103-108 — only *between* digits
    assert general_cleanup("4l2") == "412"
    assert general_cleanup("4I2") == "412"
    assert general_cleanup("1O0") == "100"
    assert general_cleanup("2S3") == "253"
    assert general_cleanup("7Z1") == "721"
    assert general_cleanup("9B9") == "989"
    # NOT applied at word edges: 'l2' has no leading digit — but the
    # letter/digit space rule (:112) then separates them
    assert general_cleanup("l2") == "l 2"


def test_space_insertion_and_camel_case():
    # ref :111-122
    assert general_cleanup("fooBar") == "foo Bar"
    assert general_cleanup("abc123") == "abc 123"
    assert general_cleanup("123abc") == "123 abc"
    assert general_cleanup("end.Begin") == "end. Begin"


def test_multi_space_collapse_and_newlines():
    assert general_cleanup("a  b   c") == "a b c"
    assert general_cleanup("a\n\n\n\nb") == "a\n\nb"


def test_hyphen_line_break_vs_bullet_order():
    # ref :100 (bullet normalization) runs BEFORE the hyphen rejoin at
    # :128 and its char class contains '-', so '-\n' is consumed as a
    # bullet first — the rejoin never sees a dash line break. Pinned:
    # faithful statement order, not the (dead) rejoin intent.
    assert general_cleanup("exam-\nple") == "exam• ple"


def test_bullet_normalization():
    # ref :100 — bullet char followed by whitespace becomes '• '
    assert general_cleanup("* item") == "• item"
    assert general_cleanup("- item") == "• item"
    # leading dash with no space is untouched
    assert general_cleanup("-item") == "-item"


def test_quote_normalization_effective_subset():
    # ref :95-97 — smart-quote args in source are plain ASCII (no-ops);
    # only these three substitutions act
    assert general_cleanup("a,,b") == 'a"b'
    assert general_cleanup("a''b") == 'a"b'
    assert general_cleanup("a`b") == "a'b"


def test_non_bmp_strip():
    assert general_cleanup("a\U0001F600b") == "ab"


def test_word_corrections():
    # ref :648-682
    assert apply_word_corrections("ofthe") == "of the"
    assert apply_word_corrections("tbe") == "the"
    assert apply_word_corrections("frorntbe") == "from the"  # longest-first
    assert apply_word_corrections("rnay I borrow") == "may I borrow"
    # word-bounded: no substring hits
    assert apply_word_corrections("scathe") == "scathe"


# ---- F3 receipt (ref lib/text_processing.py:148-252) ---------------

def test_receipt_keyword_fixes_and_totals():
    out = fix_receipt("SUBTOTAI 12.50\nTOTAI 13.75\nCASI-I")
    assert "SUBTOTAL: $12.50" in out
    assert "TOTAL: $13.75" in out
    assert "CASH" in out


def test_receipt_item_section_reformat():
    # explicit 'qty x price' form is rebuilt (ref :229-237). The
    # price must not look like \d+.\d\d — the currency fix (ref :159)
    # runs first and its inserted '$' breaks the item pattern.
    out = fix_receipt("ITEMS\ncoffee 2 x 4.5\nTOTAL 9.00")
    assert "coffee: 2 x $4.5" in out
    # 'name qty price' WITHOUT x/@: the reference's lazy pattern stops
    # at the first number — qty becomes the price, the real price is
    # dropped ('coffee 2 4.50' -> 'coffee: 1 x $2'). Pinned as-is.
    out2 = fix_receipt("ITEMS\ncoffee 2 4.50\nTOTAL 9.00")
    assert "coffee: 1 x $2" in out2


# ---- F4 id card (ref lib/text_processing.py:254-321) ---------------

def test_id_card_nik_regroup():
    out = fix_id_card("NIK 1234 5678 9012 3456")
    assert "NIK: 1234 5678 9012 3456" in out


def test_id_card_label_canonicalization_and_colon():
    out = fix_id_card("nama Budi Santoso")
    assert out.startswith("NAMA: Budi Santoso")


def test_id_card_date_zfill():
    out = fix_id_card("lahir 1/2/95")
    assert "01-02-95" in out
    out = fix_id_card("lahir 1/2/1995")
    assert "01-02-1995" in out


# ---- F6 form / F7 table ---------------------------------------------

def test_form_checkboxes_and_labels():
    out = fix_form("first name Alex\ngender [x] M [ ] F")
    # colon insertion (ref :443-448) works, but the newline-after-
    # field rule (ref :454-458) backtracks one char and inserts '\n'
    # before the LAST char of the value — 'Alex' -> 'Ale\nx'. Pinned
    # as the reference's literal behavior.
    assert "First Name: Ale\nx" in out
    assert "☑" in out and "☐" in out


def test_table_pipe_normalization_and_separator():
    out = fix_table("Name|Qty\nfoo|2")
    lines = out.split("\n")
    assert lines[0] == "Name | Qty"
    assert set(lines[1]) <= {"-", "|"}  # separator row
    assert lines[2] == "foo | 2"


def test_table_tab_to_pipe():
    out = fix_table("a\tb\nc\td")
    assert "a | b" in out


# ---- F9 language (ref lib/text_processing.py:1782-1857) ------------

def test_detect_language_en_id_unknown():
    assert detect_language("short") == "unknown"
    en = "the cat is on the mat and they will have more time for all of this"
    assert detect_language(en) == "en"
    ind = "saya akan pergi dengan mereka karena sudah telah ada yang baru dan untuk kita"
    assert detect_language(ind) == "id"


def test_detect_language_latin_fallback():
    # no EN/ID keywords, >90% latin letters
    assert detect_language("lorem ipsum dolor sit amet consectetur adipiscing elit") == "latin"


# ---- structure (ref lib/text_processing.py:1212-1259) --------------

def test_structure_decision_ladder():
    bullets = "\n".join(f"• item {i}" for i in range(7))
    assert detect_structure(bullets) == "bullet_points"
    table = "\n".join("a b |c d |" for _ in range(7))
    assert detect_structure(table) == "table"
    assert detect_structure("tiny") == "plain_text"
    paragraphs = ("word " * 30 + "\n\n") * 3
    assert detect_structure(paragraphs) == "paragraphs"


# ---- summary / insights (ref lib/text_processing.py:2033-2130) -----

def test_summary_short_circuit_and_truncation():
    assert generate_summary("short text.") == "short text."
    long_text = " ".join(
        f"Sentence number {i} talks about the important result of data." for i in range(30)
    )
    s = generate_summary(long_text, max_length=200)
    assert 0 < len(s) <= 200


def test_summary_position_and_keyterm_bias():
    # unique words per sentence so frequency is flat; then the +5
    # first-sentence, +3 key-term, +3 last-sentence bonuses
    # (ref :2076-2097) decide the top-3 selection.
    uniq = [
        "Apple banana cherry dragonfruit elderberry fig grape.",
        "Hotel india juliet kilo lima mike november oscar.",
        "Papa quebec romeo sierra tango uniform victor whiskey.",
        "Xray yankee zulu alpha bravo charlie delta echo.",
        "Golf foxtrot echo delta charlie bravo conclusion reached.",
        "Kite lantern marble nutmeg opal pearl quartz ruby.",
        "Saffron topaz umber violet walnut xenon yarrow zinc.",
    ]
    s = generate_summary(" ".join(uniq), max_length=200)
    assert uniq[0] in s            # first sentence (+5)
    assert "conclusion" in s       # key-term sentence (+3)


def test_insights_marker_and_fallback():
    text = "You must act now. Nothing else here. The weather is plain today."
    out = extract_key_insights(text)
    assert "You must act now." in out
    # fallback: no markers -> first + last sentences
    plain = "One plain sentence. Another plain thing. Final words here."
    out2 = extract_key_insights(plain)
    assert plain.split(". ")[0] + "." in out2[0]


# ---- classify (north-rule HTML heuristics) --------------------------

def test_html_boilerplate_vs_content():
    nav = "<div>" + "".join(f"<a href='/{i}'>link {i}</a>" for i in range(6)) + "</div>"
    assert classify_block("html", nav) == "boilerplate"
    art = "<p>" + "This is a long paragraph of real readable content. " * 5 + "</p>"
    assert classify_block("html", art) == "content"
    ld, td = html_densities(nav)
    assert ld > 0.5


def test_strip_html_entities_and_script():
    out = strip_html("<p>A &amp; B</p><script>var x=1;</script>")
    assert out == "A & B"


def test_media_passthrough_class():
    assert classify_block("image", None) == "media"


# ---- confidence / status (ref lib/ocr_engines.py:849-924) -----------

def test_weighted_confidence_factors():
    assert weighted_confidence("") == 0.0
    short = weighted_confidence("hi")  # len<20, words<3 -> 85*0.8*0.8
    assert abs(short - 85 * 0.8 * 0.8) < 1e-9
    long_clean = weighted_confidence("word " * 40)
    assert long_clean == min(100.0, 85 * 1.1 * 1.0 * 1.0)


def test_status_thresholds():
    assert status_for(25, "plenty of text here") == "poor_quality"
    assert status_for(50, "plenty of text here") == "partial_success"
    assert status_for(80, "plenty of text here") == "success"
    assert status_for(80, "abc") == "poor_quality"  # len<5


# ---- extraction (ref lib/information_extraction.py) -----------------

def test_extract_receipt_fields_and_items():
    text = "MART STORE\nDATE: 12/3/2024\nITEMS\ncoffee 2 4.50\nbread 2.25\nTOTAL 9.00\nCASH"
    out = extract_receipt(text)
    assert out["merchant"] == "MART STORE"
    assert out["date"] == "12/3/2024"
    assert out["total"] == "9.00"
    assert out["payment_method"] == "cash"
    assert out["item_0_name"] == "coffee" and out["item_0_quantity"] == "2"
    assert out["item_1_name"] == "bread" and out["item_1_quantity"] == "1"
    assert out["items_count"] == "2"


def test_id_card_label_gate_sees_folded_label():
    # "ıd" (dotless i) is "id" to the IGNORECASE label patterns, so the
    # fallback's literal gate must look in the folded text
    assert extract_id_card("ıd:  ?") == {"id_number": "?"}


def test_extract_form_special_patterns():
    out = extract_form("email: user@example.com\nphone 555-1234")
    assert out["email"] == "user@example.com"
    assert out["phone"] == "555-1234"


def test_extract_table_delimited():
    out = extract_table("Name | Qty\nfoo | 2\nbar | 3")
    assert out["headers"] == "Name|Qty"
    assert out["n_rows"] == "2"
    assert out["row_0"] == "foo|2"


def test_extract_generic_intent_fixed_guard():
    # the reference's unanchored punctuation guard rejects everything
    # (lib/information_extraction.py:559); our intent-fix keeps real
    # values and rejects punctuation-only ones
    out = extract_generic("Project Alpha: launch ready\nNote: ---")
    assert out.get("project_alpha") == "launch ready"
    assert "note" not in out


# ---- dispatcher ------------------------------------------------------

def test_clean_for_class_dispatch():
    # F1 runs before the receipt fix (ref post_process_text order) and
    # its punctuation-spacing rule (:119) splits '9.99' -> '9. 99'
    # first; the receipt total rule then captures '9.' only.
    assert clean_for_class("receipt", "TOTAI 9.99\n").startswith("TOTAL: $9. 99")
    assert clean_for_class("content", "ofthe  thing") == "of the thing"
    assert clean_for_class("content", "") == ""


# ---- Indonesian correction pass (ref lib/smartglass_ocr.py:663-780)


def test_fix_indonesian_replacements_and_nik():
    from smartglass_ocr_spark.rules.cleanup import fix_indonesian_text

    out = fix_indonesian_text("Narna Budi dalarn rnasa l<arena bal1wa")
    # replacements applied; the KTP field-colon pass then labels NAMA
    assert out == "Nama: Budi dalam masa karena bahwa"
    # NIK regrouped to 4x4 digits; 15-digit input zero-padded to 16
    out = fix_indonesian_text("NIK : 123456789012345")
    assert "NIK: 0123 4567 8901 2345" in out
    # 18+ digits: left untouched (outside the 15..17 window)
    out = fix_indonesian_text("NIK 123456789012345678")
    assert out == "NIK 123456789012345678"


def test_fix_indonesian_dates_and_field_colons():
    from smartglass_ocr_spark.rules.cleanup import fix_indonesian_text

    assert "01-02-1995" in fix_indonesian_text("lahir 1/2/95 x")
    assert "05-06-2003" in fix_indonesian_text("tgl 5.6.03 x")
    # invalid month keeps original
    assert "13/13/99" in fix_indonesian_text("on 13/13/99 x")
    out = fix_indonesian_text("AGAMA ISLAM\nPEKERJAAN Guru")
    assert "AGAMA: ISLAM" in out and "PEKERJAAN: Guru" in out


def test_golden_does_not_apply_indonesian_fix():
    """The reference's Indonesian pass is dead code (its gate compares
    detect_language to 'ind', a value it never returns) — the golden
    path must NOT run it; it is opt-in only."""
    from smartglass_ocr_spark.golden import process_document

    spans = [
        {"kind": "para",
         "text": "yang dengan dan untuk dari pada adalah ini Narna dalarn "
                 "yang dengan dan untuk dari pada adalah ini",
         "media_ref": None, "offset": 0}
    ]
    out = process_document({"doc_id": "d", "spans": spans})
    assert "Narna" in out["formatted_text"] and "dalarn" in out["formatted_text"]


def test_fix_indonesian_address_with_backslash_does_not_crash():
    from smartglass_ocr_spark.rules.cleanup import fix_indonesian_text

    # the reference would raise re.error here (replacement-string
    # interpolation); our callable replacement is the documented fix
    out = fix_indonesian_text("ALAMAT: Jl. Kenanga \\jakarta\nNIK 1")
    assert "Alamat: Jl. Kenanga \\jakarta" in out


# ---- summary styles (ref lib/text_processing.py:2121-2242) ---------


def test_summary_bullets_style():
    from smartglass_ocr_spark.rules.summarize import format_as_bullet_points

    out = format_as_bullet_points("First point. Second point without dot")
    lines = out.split("\n")
    assert lines[0] == "• First point."
    assert lines[1] == "• Second point without dot."


def test_summary_structured_style():
    from smartglass_ocr_spark.rules.summarize import format_as_structured_summary

    s = "John Smith visited Acme Corp on 1/2/2021. NASA agreed."
    out = format_as_structured_summary(s)
    assert out.startswith("SUMMARY:")
    assert "PEOPLE:" in out and "John Smith" in out
    assert "ORGANIZATIONS:" in out and "NASA" in out
    assert "DATES:" in out and "1/2/2021" in out


def test_generate_summary_style_dispatch():
    from smartglass_ocr_spark.rules.summarize import generate_summary

    text = ("This is the first sentence of a longer document. " * 2
            + "The key finding is that results improved. "
            + "Finally we conclude the matter entirely here today.")
    assert generate_summary(text, style="bullets").startswith("• ")
    assert generate_summary(text, style="structured").startswith("SUMMARY:")


def test_format_structured_info_groups():
    from smartglass_ocr_spark.rules.extract import format_structured_info

    r = format_structured_info(
        {"merchant": "MART", "total": "9.99",
         "item_0_name": "coffee", "item_1_name": "bread", "noise": "x"}
    )
    assert set(r) == {"receipt"}
    assert r["receipt"]["items_count"] == "2"
    assert "noise" not in r["receipt"]
    assert format_structured_info({"name": "Budi"}) == {"id_card": {"name": "Budi"}}
    assert format_structured_info({"k": "v"}) == {"general": {"k": "v"}}
    assert format_structured_info({}) == {}
