"""RTF (sources/rtfparse.py) and ODS (the odtparse spreadsheet body):
the office long tail → corpus span grammar."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.odtparse import (
    OdtError,
    build_ods,
    parse_odt_spans,
)
from pdf_extractor_scripts_spark.sources.rtfparse import (
    RtfError,
    build_rtf,
    parse_rtf_spans,
)


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _pages(spans):
    return [s["text"] for s in spans if s["kind"] == "page_break"]


# ------------------------------------------------------------------ RTF

def test_rtf_paragraphs_and_escapes():
    spans = parse_rtf_spans(build_rtf(
        ["First paragraph of text.", "Braces {and} back\\slash.",
         "Dashes — and – quotes."]), "r")
    assert _texts(spans) == ["First paragraph of text.",
                             "Braces {and} back\\slash.",
                             "Dashes — and – quotes."]


def test_rtf_unicode_and_codepage_escapes():
    text = "café résumé — ünïcödé"
    for kwargs in ({"unicode_escapes": True}, {"codepage": 1252}):
        spans = parse_rtf_spans(build_rtf([text], **kwargs), "r")
        assert _texts(spans) == [text]


def test_rtf_uc_fallback_bytes_are_skipped():
    # \uc1\u233? — the '?' fallback byte must not surface next to é
    data = b"{\\rtf1\\ansi\\uc1 caf\\u233? au lait\\par}"
    assert _texts(parse_rtf_spans(data, "r")) == ["café au lait"]


def test_rtf_tables_cohere_rows():
    spans = parse_rtf_spans(build_rtf(
        ["Items:"], tables={0: [["Qty", "Part", "Price"],
                                ["2", "Hinge", "11.50"]]}), "r")
    assert _texts(spans) == ["Items:", "Qty Part Price", "2 Hinge 11.50"]


def test_rtf_page_breaks_and_header_chrome():
    spans = parse_rtf_spans(build_rtf(
        ["Page one.", "Page two."], page_breaks=(0,),
        header="CONFIDENTIAL CHROME"), "r")
    assert _pages(spans) == ["=== PAGE 1 ===", "=== PAGE 2 ==="]
    joined = " ".join(_texts(spans))
    assert "Page one." in joined and "Page two." in joined
    assert "CONFIDENTIAL" not in joined


def test_rtf_fonttbl_info_and_star_destinations_skip():
    data = (b"{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}"
            b"{\\*\\generator Fixture 1.0;}{\\info{\\author nobody}}"
            b"visible text\\par}")
    assert _texts(parse_rtf_spans(data, "r")) == ["visible text"]


def test_rtf_bin_skips_raw_bytes():
    data = (b"{\\rtf1\\ansi before \\bin5 \\x7B\\x7D after\\par}"
            .replace(b"\\x7B", b"{").replace(b"\\x7D", b"}"))
    # \bin5 swallows ' {} af' (5 raw bytes incl the literal braces)
    spans = parse_rtf_spans(data, "r")
    joined = " ".join(_texts(spans))
    assert joined.startswith("before") and joined.endswith("ter")


def test_rtf_rejects_non_rtf():
    with pytest.raises(RtfError):
        parse_rtf_spans(b"plain text", "r")


def test_rtf_sniffs():
    from pdf_extractor_scripts_spark.sources.containers import sniff

    assert sniff(build_rtf(["x"])) == "rtf"


# ------------------------------------------------------------------ ODS

def test_ods_page_per_sheet_rows_cohere():
    spans = parse_odt_spans(build_ods(
        {"Invoice": [["Invoice", "#", "1042"],
                     ["Qty", "Part", "Price"],
                     ["2", "Hinge", "11.50"]],
         "Notes": [["terms net 30"]]}), "s")
    assert _pages(spans) == ["=== PAGE 1 ===", "=== PAGE 2 ==="]
    assert _texts(spans) == [
        "Invoice", "Invoice # 1042", "Qty Part Price", "2 Hinge 11.50",
        "Notes", "terms net 30"]


def test_ods_repeated_cells_capped():
    spans = parse_odt_spans(build_ods(
        {"S": [["x", "pad"]]}, repeated={("S", 0, 1): 100000}), "s")
    row = _texts(spans)[1]
    assert row.startswith("x pad pad") and len(row.split()) == 257


def test_ods_sniffs_as_odt_family():
    from pdf_extractor_scripts_spark.sources.containers import sniff

    blob = build_ods({"S": [["x"]]})
    assert sniff(blob) == "odt"


def test_ods_empty_rejects():
    with pytest.raises(OdtError):
        parse_odt_spans(build_ods({}), "s")


def test_interleaved_auto_covers_rtf_and_ods(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(tmp_path / "a.rtf", "wb") as f:
        f.write(build_rtf(["rtf body text"]))
    with open(tmp_path / "b.ods", "wb") as f:
        f.write(build_ods({"S": [["ods body text"]]}))
    rows = {r["doc_id"].rsplit(".", 1)[-1]:
            [s["text"] for s in r["spans"] if s["kind"] == "text"]
            for r in parse_binary_to_spans(
                read_binary_docs(spark, str(tmp_path), glob="*"),
                container="auto").collect()}
    assert rows == {"rtf": ["rtf body text"], "ods": ["S", "ods body text"]}
