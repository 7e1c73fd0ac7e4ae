"""RSS/Atom feeds (sources/feedparse.py): one page per entry,
escaped-HTML bodies through the classifier-off block extractor."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.feedparse import (
    FeedError,
    build_atom,
    build_rss,
    looks_like_feed,
    parse_feed_spans,
)


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _pages(spans):
    return [s["text"] for s in spans if s["kind"] == "page_break"]


def test_rss_items_become_pages():
    spans = parse_feed_spans(build_rss("Daily Blog", [
        {"title": "Post one",
         "html": "<p>first body para</p><p>second para</p>"},
        {"title": "Post two", "html": "<p>short post</p>",
         "enclosure": "https://x.test/ep1.mp3"},
    ]), "f")
    assert _pages(spans) == [f"=== PAGE {n} ===" for n in (1, 2, 3)]
    assert _texts(spans) == ["Daily Blog", "Post one", "first body para",
                             "second para", "Post two", "short post"]
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] \
        == ["https://x.test/ep1.mp3"]


def test_atom_entries_and_inline_images():
    spans = parse_feed_spans(build_atom("Atom Site", [
        {"title": "Entry A",
         "html": '<p>body text</p><p>more <img src="pic.png"> here</p>'},
    ]), "f")
    assert _texts(spans) == ["Atom Site", "Entry A", "body text",
                             "more here"]
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] \
        == ["pic.png"]


def test_short_feed_bodies_survive_classifier_off():
    spans = parse_feed_spans(build_rss("B", [
        {"title": "T", "html": "<p>Tiny.</p>"}]), "f")
    assert "Tiny." in _texts(spans)


def test_rejects_and_sniffer_boundaries():
    from pdf_extractor_scripts_spark.sources.containers import sniff

    with pytest.raises(FeedError):
        parse_feed_spans(b"<rss version='2.0'><channel></channel></rss>",
                         "f")  # no items
    with pytest.raises(FeedError):
        parse_feed_spans(b"<rss><channel><item>", "f")  # malformed
    assert looks_like_feed(build_rss("t", [{"title": "x"}]))
    assert looks_like_feed(build_atom("t", [{"title": "x"}]))
    assert sniff(build_rss("t", [{"title": "x"}])) == "feed"
    # XML prolog + comments before the root still match
    assert looks_like_feed(
        b'<?xml version="1.0"?><!-- c --><feed xmlns="http://www.w3.org/'
        b'2005/Atom"></feed>')
    # an HTML page MENTIONING <rss stays html
    html = b"<html><body><p>about &lt;rss&gt; and <rss> tags</p></body></html>"
    assert not looks_like_feed(html)
    assert sniff(html) == "html"
    # generic XML is not a feed (falls to the loud pdf chain)
    assert not looks_like_feed(b"<?xml version='1.0'?><config><a/></config>")


def test_auto_parse_covers_feeds(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(tmp_path / "blog.rss", "wb") as f:
        f.write(build_rss("Feed Title", [
            {"title": "P1", "html": "<p>feed body text</p>"}]))
    rows = parse_binary_to_spans(
        read_binary_docs(spark, str(tmp_path), glob="*"),
        container="auto").collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert _texts(rows[0]["spans"]) == ["Feed Title", "P1",
                                        "feed body text"]


def test_atom_xhtml_content_extracts_text():
    # type="xhtml" content is REAL XML children, not escaped markup
    data = (b'<?xml version="1.0"?>'
            b'<feed xmlns="http://www.w3.org/2005/Atom">'
            b"<title>X</title><entry><title>E</title>"
            b'<content type="xhtml">'
            b'<div xmlns="http://www.w3.org/1999/xhtml">'
            b"<p>xhtml body text</p><p>second para</p></div>"
            b"</content></entry></feed>")
    spans = parse_feed_spans(data, "f")
    assert _texts(spans) == ["X", "E", "xhtml body text", "second para"]
