"""MIME container (sources/mimeparse.py): MHTML saved pages and EML
mail with document attachments → corpus span grammar; placement/
payload-store matching; Spark auto-sniff integration."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.mimeparse import (
    MimeError,
    build_mhtml,
    looks_like_mime,
    mime_media_payloads,
    parse_mime_spans,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _page_html(paragraphs, images=None):
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html

    return build_html(paragraphs, images=images or {}).decode()


PARA = ("a long main-content paragraph with plenty of running words so "
        "the shallow-features classifier keeps it as body text")


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _media(spans):
    return [s["media_ref"] for s in spans if s["kind"] == "media"]


def test_mhtml_root_html_goes_through_boilerplate_strip():
    data = build_mhtml(html=_page_html([PARA, PARA + " two"]))
    spans = parse_mime_spans(data, "m1")
    assert spans[0]["kind"] == "page_break"
    assert _texts(spans) == [PARA, PARA + " two"]


def test_placed_image_resolves_payload_via_content_location():
    # relative src in the HTML, absolute Content-Location in the store
    # (the RFC 2557 resolution rule saved pages rely on)
    data = build_mhtml(
        html=_page_html([PARA, PARA + " two"], images={0: "img/logo.png"}),
        images={"img/logo.png": PNG_MAGIC})
    spans = parse_mime_spans(data, "m")
    assert _media(spans) == ["img/logo.png"]
    pay = mime_media_payloads(data, "m")
    assert [(p["media_ref"], p["filter"], bytes(p["payload"]))
            for p in pay] == [("img/logo.png", "PNG", PNG_MAGIC)]


def test_cid_reference_matches_content_id():
    data = build_mhtml(
        html=_page_html([PARA, PARA + " two"], images={0: "cid:photo1"}),
        cids={"photo1": PNG_MAGIC})
    pay = mime_media_payloads(data, "m")
    assert [(p["media_ref"], bytes(p["payload"])) for p in pay] == [
        ("cid:photo1", PNG_MAGIC)]


def test_unplaced_store_image_is_boilerplate():
    # stored in the archive, never referenced from retained content:
    # tracker pixels / chrome sprites contribute no spans, no payloads
    data = build_mhtml(html=_page_html([PARA]),
                       images={"tracker.png": PNG_MAGIC})
    spans = parse_mime_spans(data, "m")
    assert _media(spans) == []
    assert mime_media_payloads(data, "m") == []


def test_unstored_placement_is_an_external_reference():
    data = build_mhtml(
        html=_page_html([PARA, PARA + " two"], images={0: "https://cdn.other/x.png"}))
    pay = mime_media_payloads(data, "m")
    assert pay == [{"media_ref": "https://cdn.other/x.png", "payload": b"",
                    "filter": "External", "params": {}}]


def test_plain_text_mail_paragraphs():
    data = build_mhtml(plain="first para line one\nline two\n\nsecond para",
                       subtype="mixed")
    assert _texts(parse_mime_spans(data, "m")) == [
        "first para line one line two", "second para"]


def test_pdf_attachment_recurses_after_the_body():
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    pdf = spans_to_pdf([
        {"kind": "page_break", "text": "=== PAGE 1 ===",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "attached invoice body",
         "media_ref": "", "offset": 1}])
    data = build_mhtml(plain="see attached", subtype="mixed",
                       attachments=[("invoice.pdf", pdf)])
    spans = parse_mime_spans(data, "m")
    assert _texts(spans) == ["see attached", "attached invoice body"]
    # two documents → two page markers, offsets re-sequenced
    assert [s["kind"] for s in spans].count("page_break") == 2
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_docx_attachment_recurses_and_payloads_align():
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx

    docx = build_docx(["docx attachment text"],
                      images={0: ("p.png", PNG_MAGIC)})
    data = build_mhtml(plain="cover note", subtype="mixed",
                       attachments=[("report.docx", docx)])
    spans = parse_mime_spans(data, "m")
    assert _texts(spans) == ["cover note", "docx attachment text"]
    assert _media(spans) == ["img://m!report.docx/1/0"]
    pay = mime_media_payloads(data, "m")
    assert [(p["media_ref"], bytes(p["payload"])) for p in pay] == [
        ("img://m!report.docx/1/0", PNG_MAGIC)]


def test_corrupt_attachment_does_not_sink_the_mail_body():
    data = build_mhtml(plain="body survives", subtype="mixed",
                       attachments=[("broken.pdf", b"%PDF-1.4 truncated")])
    spans = parse_mime_spans(data, "m")
    assert _texts(spans) == ["body survives"]


def test_non_mime_bytes_raise():
    with pytest.raises(MimeError):
        parse_mime_spans(b"just some plain text\nwith lines\n", "m")


def test_sniffer_boundaries():
    from pdf_extractor_scripts_spark.sources.containers import sniff

    assert sniff(build_mhtml(html=_page_html([PARA]))) == "mime"
    eml = (b"From: a@b.test\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/plain\r\n\r\nhi there\r\n")
    assert looks_like_mime(eml) and sniff(eml) == "mime"
    # mbox leading "From " line
    assert looks_like_mime(b"From a@b Mon Jan 1\n" + eml)
    # HTML that QUOTES mail headers is still HTML
    html = (b"<html><body><pre>MIME-Version: 1.0\n"
            b"Content-Type: multipart/related</pre></body></html>")
    assert sniff(html) == "html"
    # header-shaped but not MIME (an HTTP response dump) stays non-mime
    assert not looks_like_mime(b"HTTP/1.1 200 OK\r\nServer: x\r\n\r\nbody")


def test_interleaved_auto_parse_includes_mime(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(tmp_path / "page.mht", "wb") as f:
        f.write(build_mhtml(html=_page_html([PARA, PARA + " two"])))
    out = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"), container="auto")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert [s["text"] for s in rows[0]["spans"]
            if s["kind"] == "text"] == [PARA, PARA + " two"]


def test_distributed_media_path_covers_mhtml(spark, tmp_path):
    from pdf_extractor_scripts_spark.operators.jpegcodec import (
        encode_gray_jpeg,
    )
    from pdf_extractor_scripts_spark.operators.multimodal import (
        decode_pdf_media,
        media_from_pdfs,
    )
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs

    w, h = 16, 8
    jpg = encode_gray_jpeg(bytes(range(100, 100 + w)) * h, w, h)
    with open(tmp_path / "page.mht", "wb") as f:
        f.write(build_mhtml(
            html=_page_html([PARA, PARA + " two"], images={0: "scan.jpg"}),
            images={"scan.jpg": jpg}))
    feats = decode_pdf_media(
        media_from_pdfs(read_binary_docs(spark, str(tmp_path), glob="*.mht"))
    ).collect()
    assert len(feats) == 1
    assert feats[0]["filter"] == "DCTDecode" and feats[0]["decoded"]
