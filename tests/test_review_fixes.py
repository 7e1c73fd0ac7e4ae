"""Regression pins for the session-6 code-review findings: each test
reproduces the reviewed failure scenario against the fixed code."""

from __future__ import annotations

import gzip
import struct
import zipfile
import zlib

import pytest


def test_rtf_surrogate_pair_escapes_combine():
    # Word writes emoji as \uN UTF-16 surrogate PAIRS; the combined
    # string must be Arrow-safe (no unpaired surrogates)
    import pyarrow as pa

    from pdf_extractor_scripts_spark.sources.rtfparse import (
        build_rtf,
        parse_rtf_spans,
    )

    data = b"{\\rtf1\\ansi\\uc1 hello \\u-10179?\\u-8704? world\\par}"
    texts = [s["text"] for s in parse_rtf_spans(data, "r")
             if s["kind"] == "text"]
    assert texts == ["hello \U0001F600 world"]
    pa.array(texts)  # must not raise 'surrogates not allowed'
    # a LONE surrogate becomes U+FFFD, never a crash
    lone = b"{\\rtf1\\ansi\\uc1 x \\u-10179? y\\par}"
    texts = [s["text"] for s in parse_rtf_spans(lone, "r")
             if s["kind"] == "text"]
    pa.array(texts)
    assert "�" in texts[0]
    # the writer round-trips astral chars via pair escapes
    rt = parse_rtf_spans(build_rtf(["hi \U0001F600"],
                                   unicode_escapes=True), "r")
    assert [s["text"] for s in rt if s["kind"] == "text"] \
        == ["hi \U0001F600"]


def test_png_dimension_and_inflate_bombs_reject():
    from pdf_extractor_scripts_spark.operators.pngcodec import (
        MAX_PIXELS,
        PngError,
        decode_png,
    )

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    sig = b"\x89PNG\r\n\x1a\n"
    # 50000x50000 IHDR from a <100-byte payload: reject BEFORE allocating
    ihdr = struct.pack(">IIBBBBB", 50000, 50000, 8, 0, 0, 0, 0)
    bomb = sig + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")
    with pytest.raises(PngError, match="pixel cap"):
        decode_png(bomb)
    assert 50000 * 50000 > MAX_PIXELS
    # small declared geometry, huge inflate: reject at the geometry cap
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = sig + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * (32 << 20))) + chunk(b"IEND", b"")
    with pytest.raises(PngError, match="bomb"):
        decode_png(bomb)


def test_multimember_gzip_decodes_fully():
    from pdf_extractor_scripts_spark.sources.compress import (
        maybe_decompress,
    )

    a, b = b"first member text\n", b"second member text\n"
    data = gzip.compress(a) + gzip.compress(b)
    assert maybe_decompress(data) == a + b
    # zero padding after the stream is legal; other bytes are not
    assert maybe_decompress(data + b"\x00" * 8) == a + b
    with pytest.raises(ValueError, match="trailing garbage"):
        maybe_decompress(gzip.compress(a) + b"not gzip")


def test_rfc822_attachment_recurses_and_inner_parts_stay_inner():
    from pdf_extractor_scripts_spark.sources.mimeparse import (
        build_mhtml,
        parse_mime_spans,
    )
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    inner_pdf = spans_to_pdf([
        {"kind": "page_break", "text": "=== PAGE 1 ===",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "nested invoice body",
         "media_ref": "", "offset": 1}])
    inner = build_mhtml(plain="INNER BODY TEXT", subtype="mixed",
                        attachments=[("inv.pdf", inner_pdf)],
                        boundary="----=_inner")
    bnd = b"----=_outer"
    outer = build_mhtml(plain="cover note", subtype="mixed",
                        boundary=bnd.decode())
    part = (b"--" + bnd + b"\r\nContent-Type: message/rfc822\r\n\r\n"
            + inner + b"\r\n")
    outer = outer.replace(b"--" + bnd + b"--", part + b"--" + bnd + b"--")
    spans = parse_mime_spans(outer, "m")
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    assert texts == ["cover note", "INNER BODY TEXT",
                     "nested invoice body"]
    # three documents deep → three page markers, one numbering
    assert [s["kind"] for s in spans].count("page_break") == 3
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_binary_served_as_text_plain_stays_loud_fallback(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
    )
    from pdf_extractor_scripts_spark.sources.warcparse import (
        build_warc,
        read_warc_docs,
    )

    jpegish = b"\xff\xd8\xff\xe0" + bytes(range(256)) * 8
    docs = [{"url": "https://x.test/mislabeled",
             "payload": jpegish, "content_type": "text/plain"},
            {"url": "https://x.test/legit",
             "payload": "r\xe9sum\xe9 ok".encode("windows-1252"),
             "content_type": "text/plain; charset=windows-1252"}]
    with open(tmp_path / "a.warc.gz", "wb") as f:
        f.write(build_warc(docs, with_requests=False))
    acc = spark.sparkContext.accumulator(0)
    rows = {r["doc_id"]: r for r in parse_binary_to_spans(
        read_warc_docs(spark, str(tmp_path)).filter(
            "archive_error IS NULL"),
        fallback_acc=acc, container="auto",
        ctype_col="content_type").collect()}
    assert not rows["https://x.test/mislabeled"]["parse_ok"]
    assert rows["https://x.test/legit"]["parse_ok"]
    assert acc.value == 1


def test_pptx_fallback_slide_order_is_numeric():
    from pdf_extractor_scripts_spark.sources.pptxparse import (
        build_pptx,
        parse_pptx_spans,
    )

    blob = build_pptx([{"title": f"slide {i}"} for i in range(1, 13)])
    # strip the sldIdLst so the fallback path orders the parts
    import io

    zin = zipfile.ZipFile(io.BytesIO(blob))
    parts = {n: zin.read(n) for n in zin.namelist()}
    parts["ppt/presentation.xml"] = (
        b'<?xml version="1.0"?><p:presentation xmlns:p="http://schemas.'
        b'openxmlformats.org/presentationml/2006/main"/>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n, d in parts.items():
            zf.writestr(n, d)
    texts = [s["text"] for s in parse_pptx_spans(buf.getvalue(), "d")
             if s["kind"] == "text"]
    assert texts == [f"slide {i}" for i in range(1, 13)]


def test_media_audit_unwraps_compressed_documents(spark, tmp_path):
    from pdf_extractor_scripts_spark.operators.multimodal import (
        media_from_pdfs,
    )
    from pdf_extractor_scripts_spark.operators.pngcodec import encode_png
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs

    png = encode_png(bytes(range(32)) * 8, 32, 8)
    with open(tmp_path / "doc.docx.gz", "wb") as f:
        f.write(gzip.compress(build_docx(["x"],
                                         images={0: ("p.png", png)})))
    rows = media_from_pdfs(
        read_binary_docs(spark, str(tmp_path), glob="*")).collect()
    assert len(rows) == 1 and rows[0]["filter"] == "PNG"


def test_xlsx_negative_shared_index_rejects():
    import io

    from pdf_extractor_scripts_spark.sources.xlsxparse import (
        XlsxError,
        build_xlsx,
        parse_xlsx_spans,
    )

    data = build_xlsx({"S": [["a", "b"]]})
    zin = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: zin.read(n) for n in zin.namelist()}
    parts["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.'
        b'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="A1" t="s"><v>-1</v></c></row>'
        b"</sheetData></worksheet>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n, d in parts.items():
            zf.writestr(n, d)
    with pytest.raises(XlsxError, match="out of range"):
        parse_xlsx_spans(buf.getvalue(), "x")


def test_odt_parent_relative_href_falls_to_external():
    import io

    from pdf_extractor_scripts_spark.sources.odtparse import (
        build_odt,
        odt_media_payloads,
        parse_odt_spans,
    )

    data = build_odt(["text"], images={0: ("pic.png", b"\x89PNG\r\n\x1a\n")})
    zin = zipfile.ZipFile(io.BytesIO(data))
    parts = {n: zin.read(n) for n in zin.namelist()}
    parts["content.xml"] = parts["content.xml"].replace(
        b'xlink:href="Pictures/pic.png"',
        b'xlink:href="../Pictures/pic.png"')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n, d in parts.items():
            zf.writestr(n, d)
    blob = buf.getvalue()
    # must NOT silently bind to Pictures/pic.png: the href denotes a
    # path outside the package root → external reference
    pay = odt_media_payloads(blob, "d")
    assert pay == [{"media_ref": "../Pictures/pic.png", "payload": b"",
                    "filter": "External", "params": {}}]
    media = [s["media_ref"] for s in parse_odt_spans(blob, "d")
             if s["kind"] == "media"]
    assert media == ["../Pictures/pic.png"]


def test_atom_xhtml_mixed_content_keeps_text_and_tails():
    from pdf_extractor_scripts_spark.sources.feedparse import (
        parse_feed_spans,
    )

    # the RFC 4287 canonical example: div text + inline child + tail
    data = (b'<?xml version="1.0"?>'
            b'<feed xmlns="http://www.w3.org/2005/Atom">'
            b"<title>X</title><entry><title>E</title>"
            b'<content type="xhtml">'
            b'<div xmlns="http://www.w3.org/1999/xhtml">'
            b"This is <b>XHTML</b> content.</div>"
            b"</content></entry></feed>")
    texts = [s["text"] for s in parse_feed_spans(data, "f")
             if s["kind"] == "text"]
    assert texts == ["X", "E", "This is XHTML content."]
    # child-less div still emits its text
    data2 = data.replace(b"This is <b>XHTML</b> content.",
                         b"plain text only")
    texts = [s["text"] for s in parse_feed_spans(data2, "f")
             if s["kind"] == "text"]
    assert texts == ["X", "E", "plain text only"]


def test_many_member_gzip_is_linear_and_capped():
    import time

    from pdf_extractor_scripts_spark.sources.compress import (
        BombError,
        maybe_decompress,
    )

    one = gzip.compress(b"")
    t0 = time.time()
    assert maybe_decompress(one * 60000) == b""
    # linear input feeding: 60k members decode in well under a second;
    # the old whole-tail-per-member loop memcpy'd O(members²) bytes
    # (~36 GB here) and took minutes
    assert time.time() - t0 < 5.0
    with pytest.raises(BombError, match="member count"):
        maybe_decompress(one * 70000)


def test_bom_prefixed_feeds_and_text_sniff_correctly():
    from pdf_extractor_scripts_spark.sources.feedparse import (
        build_rss,
        parse_feed_spans,
    )
    from pdf_extractor_scripts_spark.sources.containers import sniff

    bom_feed = b"\xef\xbb\xbf" + build_rss("T", [
        {"title": "P", "html": "<p>body</p>"}])
    assert sniff(bom_feed) == "feed"
    texts = [s["text"] for s in parse_feed_spans(bom_feed, "f")
             if s["kind"] == "text"]
    assert texts[0] == "T"
    assert sniff(b"\xef\xbb\xbf# Title\n\nbody") == "md"
    assert sniff(b"\xef\xbb\xbfa,b\n1,2\n3,4\n") == "csv"


def test_fixture_writers_escape_attribute_urls():
    from pdf_extractor_scripts_spark.sources.feedparse import (
        build_atom,
        build_rss,
        parse_feed_spans,
    )

    url = 'https://x.test/ep?id=1&fmt=mp3&q="x"'
    for blob in (build_rss("t", [{"title": "x", "enclosure": url}]),
                 build_atom("t", [{"title": "x", "enclosure": url}])):
        spans = parse_feed_spans(blob, "f")  # must parse: valid XML
        assert [s["media_ref"] for s in spans
                if s["kind"] == "media"] == [url]


def test_single_shared_xml_escape_helper():
    import pdf_extractor_scripts_spark.sources.docxparse as m1
    import pdf_extractor_scripts_spark.sources.feedparse as m2
    import pdf_extractor_scripts_spark.sources.xmlutil as xu

    assert m1._esc is xu.xml_escape and m2._esc is xu.xml_escape
