"""PPTX container (sources/pptxparse.py): one page per slide, notes
and masters excluded, tables cohere, media payloads align."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.pptxparse import (
    PptxError,
    build_pptx,
    parse_pptx_spans,
    pptx_media_payloads,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _pages(spans):
    return [s["text"] for s in spans if s["kind"] == "page_break"]


def test_one_page_per_slide_in_deck_order():
    spans = parse_pptx_spans(build_pptx([
        {"title": "Q3 Review", "bullets": ["Revenue up", "Costs down"]},
        {"title": "Next steps", "bullets": ["Ship it"]},
    ]), "d")
    assert _pages(spans) == ["=== PAGE 1 ===", "=== PAGE 2 ==="]
    assert _texts(spans) == ["Q3 Review", "Revenue up", "Costs down",
                             "Next steps", "Ship it"]


def test_notes_are_excluded_chrome():
    spans = parse_pptx_spans(build_pptx(
        [{"title": "Visible", "notes": "SPEAKER NOTES SECRET"}]), "d")
    assert _texts(spans) == ["Visible"]


def test_slide_table_rows_cohere():
    spans = parse_pptx_spans(build_pptx(
        [{"title": "Items", "table": [["Qty", "Part"], ["2", "Hinge"]]}]),
        "d")
    assert _texts(spans) == ["Items", "Qty Part", "2 Hinge"]


def test_picture_payloads_align_per_slide():
    data = build_pptx([
        {"title": "one", "image": ("a.png", PNG_MAGIC)},
        {"title": "two", "image": ("b.png", PNG_MAGIC)},
    ])
    spans = parse_pptx_spans(data, "deck")
    media = [s["media_ref"] for s in spans if s["kind"] == "media"]
    assert media == ["img://deck/1/0", "img://deck/2/0"]
    pay = pptx_media_payloads(data, "deck")
    assert [(p["media_ref"], p["filter"]) for p in pay] == [
        ("img://deck/1/0", "PNG"), ("img://deck/2/0", "PNG")]


def test_corrupt_rejects():
    good = build_pptx([{"title": "x"}])
    with pytest.raises(PptxError):
        parse_pptx_spans(good[: len(good) // 2], "d")
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/presentation.xml", "<broken")
    with pytest.raises(PptxError):
        parse_pptx_spans(buf.getvalue(), "d")


def test_sniffs_and_parses_through_auto(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.containers import sniff
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    blob = build_pptx([{"title": "deck title", "bullets": ["point one"]}])
    assert sniff(blob) == "pptx"
    with open(tmp_path / "deck.pptx", "wb") as f:
        f.write(blob)
    rows = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"),
        container="auto").collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert _texts(rows[0]["spans"]) == ["deck title", "point one"]
