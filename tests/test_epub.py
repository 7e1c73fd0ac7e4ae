"""EPUB container (sources/epubparse.py): one page per spine chapter,
classifier-off block extraction (short dialogue survives), non-linear
spine chrome skipped, chapter images resolve to payloads."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.epubparse import (
    EpubError,
    build_epub,
    epub_media_payloads,
    parse_epub_spans,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _pages(spans):
    return [s["text"] for s in spans if s["kind"] == "page_break"]


def test_page_per_chapter_in_spine_order():
    spans = parse_epub_spans(build_epub([
        {"title": "Chapter One", "paragraphs": ["It begins.", "Slowly."]},
        {"title": "Chapter Two", "paragraphs": ["It ends."]},
    ]), "b")
    assert _pages(spans) == ["=== PAGE 1 ===", "=== PAGE 2 ==="]
    assert _texts(spans) == ["Chapter One", "It begins.", "Slowly.",
                             "Chapter Two", "It ends."]


def test_short_dialogue_survives_classifier_off():
    # the web classifier would drop these word-starved lines; a book
    # chapter is all content
    lines = ['"No."', '"Yes."', '"Why?"', '"Because."']
    spans = parse_epub_spans(build_epub(
        [{"paragraphs": lines}]), "b")
    assert _texts(spans) == lines


def test_nonlinear_cover_is_skipped_chrome():
    spans = parse_epub_spans(build_epub(
        [{"paragraphs": ["real chapter text"]}], cover=True), "b")
    assert _pages(spans) == ["=== PAGE 1 ==="]
    assert "COVER PAGE CHROME" not in " ".join(_texts(spans))


def test_chapter_images_resolve_to_payloads():
    data = build_epub([
        {"paragraphs": ["see figure"], "image": ("fig1.png", PNG_MAGIC)},
        {"paragraphs": ["chapter two"], "image": ("fig2.png", PNG_MAGIC)},
    ])
    spans = parse_epub_spans(data, "book")
    media = [s["media_ref"] for s in spans if s["kind"] == "media"]
    assert media == ["img://book/1/0", "img://book/2/0"]
    pay = epub_media_payloads(data, "book")
    assert [(p["media_ref"], p["filter"], bytes(p["payload"]))
            for p in pay] == [("img://book/1/0", "PNG", PNG_MAGIC),
                              ("img://book/2/0", "PNG", PNG_MAGIC)]


def test_corrupt_rejects():
    good = build_epub([{"paragraphs": ["x"]}])
    with pytest.raises(EpubError):
        parse_epub_spans(good[: len(good) // 2], "b")
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("META-INF/container.xml", "<broken")
    with pytest.raises(EpubError):
        parse_epub_spans(buf.getvalue(), "b")


def test_sniffs_and_parses_through_auto(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.containers import sniff
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    blob = build_epub([{"title": "T", "paragraphs": ["book body text"]}])
    assert sniff(blob) == "epub"
    with open(tmp_path / "book.epub", "wb") as f:
        f.write(blob)
    rows = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"),
        container="auto").collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert _texts(rows[0]["spans"]) == ["T", "book body text"]
