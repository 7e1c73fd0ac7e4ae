"""XLSX (sources/xlsxparse.py) and ODT (sources/odtparse.py): the
remaining office container forms → corpus span grammar."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.odtparse import (
    OdtError,
    build_odt,
    odt_media_payloads,
    parse_odt_spans,
)
from pdf_extractor_scripts_spark.sources.xlsxparse import (
    XlsxError,
    build_xlsx,
    parse_xlsx_spans,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _pages(spans):
    return [s["text"] for s in spans if s["kind"] == "page_break"]


# ---------------------------------------------------------------- XLSX

INVOICE = {"Invoice": [["Invoice", "#", 1042],
                       ["Qty", "Part", "Price"],
                       [2, "Hinge 4.5in", 11.5],
                       [1, "Closer LCN", 88.0],
                       ["Total", "", 111.0]]}


def test_xlsx_rows_cohere_and_numbers_keep_value_text():
    spans = parse_xlsx_spans(build_xlsx(INVOICE), "x")
    assert _pages(spans) == ["=== PAGE 1 ==="]
    assert _texts(spans) == [
        "Invoice",            # sheet name
        "Invoice # 1042",
        "Qty Part Price",
        "2 Hinge 4.5in 11.5",
        "1 Closer LCN 88.0",
        "Total 111.0",
    ]


def test_xlsx_one_page_per_sheet_in_workbook_order():
    spans = parse_xlsx_spans(
        build_xlsx({"Summary": [["totals here"]],
                    "Detail": [["line", 1], ["line", 2]]}), "x")
    assert _pages(spans) == ["=== PAGE 1 ===", "=== PAGE 2 ==="]
    assert _texts(spans) == ["Summary", "totals here",
                             "Detail", "line 1", "line 2"]


def test_xlsx_inline_strings_and_booleans():
    spans = parse_xlsx_spans(
        build_xlsx({"S": [["a b", True, False]]}, shared_strings=False),
        "x")
    assert _texts(spans) == ["S", "a b TRUE FALSE"]


def test_xlsx_sparse_cells_keep_column_order():
    # hand-build a row with only C1 and A1 present, in reversed doc order
    import io
    import zipfile

    data = build_xlsx({"S": [["x"]]})
    zin = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: zin.read(n) for n in zin.namelist()}
    parts["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.'
        b'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="C1"><v>30</v></c><c r="A1"><v>10</v></c></row>'
        b"</sheetData></worksheet>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n, b in parts.items():
            zf.writestr(n, b)
    assert _texts(parse_xlsx_spans(buf.getvalue(), "x")) == ["S", "10 30"]


def test_xlsx_corrupt_rejects():
    good = build_xlsx(INVOICE)
    with pytest.raises(XlsxError):
        parse_xlsx_spans(good[: len(good) // 2], "x")
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", "<broken")
    with pytest.raises(XlsxError):
        parse_xlsx_spans(buf.getvalue(), "x")


# ----------------------------------------------------------------- ODT

def test_odt_paragraphs_headings_tables():
    spans = parse_odt_spans(
        build_odt(["Body paragraph one.", "Second paragraph."],
                  headings={0: "Title Heading"},
                  tables={1: [["Qty", "Part"], ["2", "Hinge"]]}), "d")
    assert _texts(spans) == [
        "Title Heading", "Body paragraph one.", "Second paragraph.",
        "Qty Part", "2 Hinge"]


def test_odt_footnote_bodies_are_skipped():
    spans = parse_odt_spans(
        build_odt(["Main text."], footnote="FOOTNOTE BODY"), "d")
    assert _texts(spans) == ["Main text."]


def test_odt_embedded_image_payload_aligns():
    data = build_odt(["With a picture."],
                     images={0: ("pic.png", PNG_MAGIC)})
    spans = parse_odt_spans(data, "docZ")
    media = [s["media_ref"] for s in spans if s["kind"] == "media"]
    assert media == ["img://docZ/1/0"]
    pay = odt_media_payloads(data, "docZ")
    assert [(p["media_ref"], p["filter"], bytes(p["payload"]))
            for p in pay] == [("img://docZ/1/0", "PNG", PNG_MAGIC)]


def test_odt_corrupt_rejects():
    good = build_odt(["x"])
    with pytest.raises(OdtError):
        parse_odt_spans(good[: len(good) // 2], "d")


def test_zip_sniffer_separates_the_office_family():
    from pdf_extractor_scripts_spark.sources.containers import sniff
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx

    assert sniff(build_docx(["x"])) == "docx"
    assert sniff(build_xlsx({"S": [["x"]]})) == "xlsx"
    assert sniff(build_odt(["x"])) == "odt"


def test_interleaved_auto_parse_all_office_forms(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(tmp_path / "a.docx", "wb") as f:
        f.write(build_docx(["docx text"]))
    with open(tmp_path / "b.xlsx", "wb") as f:
        f.write(build_xlsx({"S": [["xlsx text"]]}))
    with open(tmp_path / "c.odt", "wb") as f:
        f.write(build_odt(["odt text"]))
    out = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"), container="auto")
    rows = {r["doc_id"].rsplit(".", 1)[-1]:
            [s["text"] for s in r["spans"] if s["kind"] == "text"]
            for r in out.collect()}
    assert rows == {"docx": ["docx text"], "xlsx": ["S", "xlsx text"],
                    "odt": ["odt text"]}
