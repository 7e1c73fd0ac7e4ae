"""DOCX (OOXML) container: package parse → corpus span grammar.

The interleaved crawl's office-document form (sources/docxparse.py):
paragraph/table text, page-break markers, embedded + linked media,
header/footer chrome exclusion, tracked-changes accepted view — and
the Spark integration (container='auto' sniffing, the distributed
media payload path)."""

from __future__ import annotations

import os
import zipfile
from xml.etree import ElementTree as ET

import pytest

from pdf_extractor_scripts_spark.sources.docxparse import (
    DocxError,
    build_docx,
    docx_media_payloads,
    parse_docx_spans,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def test_paragraph_roundtrip_in_order():
    paras = ["First paragraph of body text.",
             "Second one with more words.",
             "Third closes the document."]
    spans = parse_docx_spans(build_docx(paras), "d1")
    assert spans[0] == {"kind": "page_break", "text": "=== PAGE 1 ===",
                        "media_ref": "", "offset": 0}
    assert _texts(spans) == paras
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_split_runs_reassemble_without_injected_spaces():
    # Word fragments runs on every formatting/spellcheck boundary,
    # often mid-word — concatenation must not invent whitespace
    paras = ["hyphenation boundary lands midword here"]
    whole = parse_docx_spans(build_docx(paras), "d")
    split = parse_docx_spans(build_docx(paras, split_runs=True), "d")
    assert _texts(whole) == _texts(split) == paras


def test_headings_are_their_own_text_spans():
    spans = parse_docx_spans(
        build_docx(["Body under the heading."],
                   headings={0: "Quarterly Report"}), "d")
    assert _texts(spans) == ["Quarterly Report", "Body under the heading."]


def test_table_rows_cohere_one_span_per_row():
    # the DOCX invoice grid: cells of one row merge (the HTML <tr> rule)
    spans = parse_docx_spans(
        build_docx(["Items below."],
                   tables={0: [["Qty", "Part", "Price"],
                               ["2", "Hinge 4.5in", "11.50"],
                               ["1", "Closer LCN", "88.00"]]}), "d")
    assert _texts(spans) == [
        "Items below.",
        "Qty Part Price",
        "2 Hinge 4.5in 11.50",
        "1 Closer LCN 88.00",
    ]


def test_embedded_image_span_and_payload_align():
    data = build_docx(["Before the picture."],
                      images={0: ("logo.png", PNG_MAGIC)})
    spans = parse_docx_spans(data, "docA")
    media = [s for s in spans if s["kind"] == "media"]
    assert [m["media_ref"] for m in media] == ["img://docA/1/0"]
    pay = docx_media_payloads(data, "docA")
    assert [(p["media_ref"], p["filter"], bytes(p["payload"]))
            for p in pay] == [("img://docA/1/0", "PNG", PNG_MAGIC)]


def test_jpeg_payload_gets_pdf_codec_label():
    jpg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    pay = docx_media_payloads(
        build_docx(["x"], images={0: ("scan.jpg", jpg)}), "d")
    assert pay[0]["filter"] == "DCTDecode"


def test_external_image_is_a_crawl_reference():
    url = "https://cdn.example.com/banner.png"
    data = build_docx(["Linked, not embedded."],
                      external_images={0: url})
    spans = parse_docx_spans(data, "d")
    media = [s for s in spans if s["kind"] == "media"]
    assert [m["media_ref"] for m in media] == [url]
    pay = docx_media_payloads(data, "d")
    assert pay[0] == {"media_ref": url, "payload": b"",
                      "filter": "External", "params": {}}


def test_page_breaks_advance_marker_and_reset_image_counter():
    data = build_docx(["Page one text.", "Page two text."],
                      page_breaks=(0,),
                      images={1: ("p2.png", PNG_MAGIC)})
    spans = parse_docx_spans(data, "d")
    kinds = [(s["kind"], s["text"] or s["media_ref"]) for s in spans]
    assert kinds == [
        ("page_break", "=== PAGE 1 ==="),
        ("text", "Page one text."),
        ("page_break", "=== PAGE 2 ==="),
        ("text", "Page two text."),
        ("media", "img://d/2/0"),
    ]


def test_header_and_footer_are_excluded_chrome():
    data = build_docx(["Only the body survives."],
                      header="ACME Corp — Confidential",
                      footer="Page X of Y")
    joined = " ".join(_texts(parse_docx_spans(data, "d")))
    assert "Only the body survives." in joined
    assert "Confidential" not in joined and "Page X" not in joined


def test_tracked_changes_accepted_view():
    spans = parse_docx_spans(
        build_docx(["Base text."], tracked=("INSERTED", "DELETED")), "d")
    joined = " ".join(_texts(spans))
    assert "INSERTED" in joined
    assert "DELETED" not in joined


def test_corrupt_packages_raise_docx_error():
    good = build_docx(["x"])
    with pytest.raises(DocxError):
        parse_docx_spans(good[: len(good) // 2], "d")  # truncated zip
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "not office")
    with pytest.raises(DocxError):
        parse_docx_spans(buf.getvalue(), "d")  # zip, but no main part


def test_sdt_content_controls_unwrap():
    # Word wraps blocks in w:sdt content controls — parse must descend
    from pdf_extractor_scripts_spark.sources.docxparse import _body_events

    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    body = ET.fromstring(
        f'<w:body xmlns:w="{w}"><w:sdt><w:sdtPr/><w:sdtContent>'
        "<w:p><w:r><w:t>controlled</w:t></w:r></w:p>"
        "</w:sdtContent></w:sdt></w:body>"
    )
    evs = list(_body_events(body))
    assert ("text", "controlled") in evs and ("flush",) in evs


def test_nested_table_text_is_reached():
    from pdf_extractor_scripts_spark.sources.docxparse import _body_events

    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    body = ET.fromstring(
        f'<w:body xmlns:w="{w}"><w:tbl><w:tr><w:tc>'
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>inner</w:t></w:r></w:p>"
        "</w:tc></w:tr></w:tbl>"
        "</w:tc></w:tr></w:tbl></w:body>"
    )
    assert ("text", "inner") in list(_body_events(body))


def test_sniffer_dispatches_docx_and_rejects_plain_zip():
    import io

    from pdf_extractor_scripts_spark.sources.containers import sniff

    assert sniff(build_docx(["x"])) == "docx"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", "plain archive")
    # non-office zip → PDF chain (which rejects it as a counted fallback)
    assert sniff(buf.getvalue()) == "pdf"


def _write(path, data):
    with open(path, "wb") as f:
        f.write(data)


def test_interleaved_auto_parse_covers_all_three_containers(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    pdf_spans = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                  "media_ref": "", "offset": 0},
                 {"kind": "text", "text": "pdf body line",
                  "media_ref": "", "offset": 1}]
    _write(tmp_path / "a.pdf", spans_to_pdf(pdf_spans))
    _write(tmp_path / "b.html", build_html(
        ["one paragraph of html body text with enough words to keep"] * 2))
    _write(tmp_path / "c.docx", build_docx(["docx body paragraph"]))

    out = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"), container="auto")
    rows = {os.path.basename(r["doc_id"]): r for r in out.collect()}
    assert len(rows) == 3 and all(r["parse_ok"] for r in rows.values())
    docx_texts = [s["text"] for s in rows["c.docx"]["spans"]
                  if s["kind"] == "text"]
    assert docx_texts == ["docx body paragraph"]


def test_distributed_media_path_decodes_docx_jpeg(spark, tmp_path):
    from pdf_extractor_scripts_spark.operators.jpegcodec import (
        encode_gray_jpeg,
    )
    from pdf_extractor_scripts_spark.operators.multimodal import (
        decode_pdf_media,
        media_from_pdfs,
    )
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs

    w, h = 16, 8
    jpg = encode_gray_jpeg(bytes(range(128, 128 + w)) * h, w, h)
    _write(tmp_path / "doc.docx",
           build_docx(["text near the scan"],
                      images={0: ("scan.jpg", jpg), }))
    feats = decode_pdf_media(
        media_from_pdfs(read_binary_docs(spark, str(tmp_path), glob="*.docx"))
    ).collect()
    assert len(feats) == 1
    row = feats[0]
    assert row["filter"] == "DCTDecode" and row["decoded"]
    assert row["feature"][0] == float(w) and row["feature"][1] == float(h)
