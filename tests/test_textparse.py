"""Plain-text container (sources/textparse.py): blank-line paragraph
spans, conservative sniffing, transport-declared legacy charsets, and
the WET-style WARC conversion-record path end-to-end."""

from __future__ import annotations

from pdf_extractor_scripts_spark.sources.containers import sniff
from pdf_extractor_scripts_spark.sources.textparse import (
    looks_like_text,
    parse_text_spans,
)


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def test_blank_line_paragraphs_normalize():
    spans = parse_text_spans(
        b"first para\nsecond line\n\n\n  third   para  \r\n\r\nlast", "t")
    assert spans[0]["kind"] == "page_break"
    assert _texts(spans) == ["first para second line", "third para", "last"]
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_bom_and_charsets():
    assert _texts(parse_text_spans(
        "élève".encode("utf-8"), "t")) == ["élève"]
    assert _texts(parse_text_spans(b"\xef\xbb\xbfbom text", "t")) \
        == ["bom text"]
    # declared legacy charset (the windows-1252 WET record)
    assert _texts(parse_text_spans(b"r\xe9sum\xe9", "t",
                                   charset="windows-1252")) == ["résumé"]


def test_sniffer_is_conservative():
    assert sniff(b"plain english words\n\nand more") == "text"
    assert sniff("utf-8 é text".encode()) == "text"
    assert looks_like_text(b"ok text")
    assert not looks_like_text(b"")
    assert not looks_like_text(b"   \n  ")
    assert not looks_like_text(b"has \x00 nul")
    assert not looks_like_text(b"\xe9 latin-1 only")  # not UTF-8 → pdf chain
    assert sniff(b"\xe9 latin-1 only") == "pdf"
    # truncated multibyte tail doesn't flip the verdict
    long = ("x" * 4090).encode() + "é".encode()  # é split at the 4096 cut
    assert looks_like_text(long + b"more")


def test_wet_conversion_records_parse_end_to_end(spark, tmp_path):
    """A WET-style archive: conversion records with text/plain payloads
    — including a windows-1252 one reached via the Content-Type hint —
    parse as text documents, zero fallbacks."""
    import os

    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
    )
    from pdf_extractor_scripts_spark.sources.warcparse import (
        build_warc,
        read_warc_docs,
    )

    docs = [
        {"url": f"https://x.test/{i}", "record_type": "conversion",
         "payload": f"extracted text {i}\n\nsecond paragraph {i}".encode(),
         "content_type": "text/plain"}
        for i in range(4)
    ] + [
        {"url": "https://x.test/legacy", "record_type": "conversion",
         "payload": "résumé legacy".encode("windows-1252"),
         "content_type": "text/plain; charset=windows-1252"},
    ]
    with open(os.path.join(str(tmp_path), "a.warc.gz"), "wb") as f:
        f.write(build_warc(docs, with_requests=False))
    acc = spark.sparkContext.accumulator(0)
    out = parse_binary_to_spans(
        read_warc_docs(spark, str(tmp_path)).filter(
            "archive_error IS NULL AND revisit_of IS NULL"),
        fallback_acc=acc, container="auto",
        ctype_col="content_type").collect()
    assert len(out) == 5 and all(r["parse_ok"] for r in out)
    assert acc.value == 0
    by_id = {r["doc_id"]: _texts(r["spans"]) for r in out}
    assert by_id["https://x.test/0"] == ["extracted text 0",
                                         "second paragraph 0"]
    assert by_id["https://x.test/legacy"] == ["résumé legacy"]
