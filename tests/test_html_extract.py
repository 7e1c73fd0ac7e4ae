"""HTML main-content extraction (sources/htmlparse.py): the north
rule's other container form — boilerplate strip + DOM heuristics
emitting the same span grammar as the PDF parse, dispatched per
document by container sniffing inside one Arrow map stage."""

import os

import pytest

from pdf_extractor_scripts_spark.sources.containers import sniff
from pdf_extractor_scripts_spark.sources.htmlparse import (
    build_html,
    extract_main_blocks,
    parse_html_spans,
)

_LONG = ("The quarterly reconciliation pipeline processes every vendor "
         "feed with full lineage tracking and writes checkpoint rows "
         "for resumable exactly-once batch extraction at scale.")
_LONG2 = ("Batch statistics show sustained throughput improvements "
          "after the kernel rewrite and the salted repartition keeps "
          "the largest documents from serializing whole partitions.")


def _words(n, base="token"):
    return " ".join(f"{base}{i}" for i in range(n))


def test_chrome_stripped_content_kept_spans_exact():
    """The writer's nav/sidebar/footer/title chrome disappears; the
    content paragraphs, attached headings and the figure survive, in
    document order, as the exact span sequence."""
    html = build_html([_LONG, _LONG2], title="Report",
                      images={1: "https://cdn.example.com/f.png"},
                      headings={0: "Overview"})
    spans = parse_html_spans(html, "d1")
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    assert got == [
        ("page_break", "=== PAGE 1 ===", "", 0),
        ("text", "Overview", "", 1),
        ("text", _LONG, "", 2),
        ("text", _LONG2, "", 3),
        ("media", "", "https://cdn.example.com/f.png", 4),
    ]
    # no chrome text leaks into any span
    joined = " ".join(s["text"] for s in spans)
    for chrome in ("Home", "Products", "About", "Deals", "Newsletter",
                   "Example Corp", "Report"):
        assert chrome not in joined


def test_messy_markup_matches_clean():
    """Unclosed <p>/<li> (the wild's dominant malformation) produce the
    identical span sequence."""
    kw = dict(images={1: "x.png"}, headings={0: "Overview", 1: "Detail"})
    clean = parse_html_spans(build_html([_LONG, _LONG2], **kw), "d")
    messy = parse_html_spans(build_html([_LONG, _LONG2], messy=True,
                                        **kw), "d")
    assert clean == messy


def test_classifier_rules_black_box():
    """The WSDM-2010 NumWords/LinkDensity rules, exercised through real
    markup: link-heavy blocks drop regardless of length; a block after
    a link-heavy one needs >40 words (or a long successor) to survive;
    short isolated blocks drop; long blocks always survive."""
    linkfarm = "".join(
        f"<a href='/{i}'>related article number {i} for you</a> "
        for i in range(12))
    mid = _words(20)          # 20 words, after the link farm
    big = _words(45)          # 45 words, after the link farm
    lone = "Tiny isolated note."
    html = (f"<html><body><div>{linkfarm}</div><p>{mid}</p>"
            f"<div>{linkfarm}</div><p>{big}</p>"
            f"<p>{lone}</p></body></html>")
    texts = [b["text"] for b in extract_main_blocks(html)]
    assert mid not in texts          # prev ld>0.55, 20 words, short next
    assert big in texts              # prev ld>0.55 but >40 words
    assert lone not in texts         # 3 words, no support
    assert not any("related article" in t for t in texts)

    # the same 20-word block WITHOUT a link-farm predecessor survives
    # via the long-neighbour rule
    html2 = f"<html><body><p>{_LONG}</p><p>{mid}</p></body></html>"
    texts2 = [b["text"] for b in extract_main_blocks(html2)]
    assert mid in texts2


def test_semantic_chrome_wins_over_length():
    """DOM role beats shallow features: a LONG paragraph inside
    <nav>/<footer>/<aside> is still boilerplate."""
    html = (f"<html><body><nav><p>{_LONG}</p></nav>"
            f"<p>{_LONG2}</p>"
            f"<footer><p>{_LONG}</p></footer></body></html>")
    texts = [b["text"] for b in extract_main_blocks(html)]
    assert texts == [_LONG2]


def test_entities_scripts_and_garbage():
    html = ("<html><head><script>var x = '<p>not text</p>';</script>"
            "</head><body><p>" + _words(18) +
            " caf&eacute; &amp; r&#233;sum&#233;</p></body></html>")
    blocks = extract_main_blocks(html)
    assert len(blocks) == 1
    assert "café & résumé" in blocks[0]["text"]
    assert "not text" not in blocks[0]["text"]
    # pathological inputs never raise — they just yield no content
    for junk in (b"", b"<<<>>>", b"<html>", b"\x00\xff" * 40,
                 ("<div>" * 300).encode()):
        assert isinstance(parse_html_spans(junk, "j"), list)


def test_table_rows_merge_and_cohere():
    """Cells merge into one block per ROW (td/th are not block
    boundaries); a data table coheres — its word-starved rows classify
    together and ride adjacency to content — while a legacy nav-layout
    table of links is never promoted."""
    rows = [("001", "DOOR-A", "2", "450.00", "900.00"),
            ("002", "FRAME-B", "1", "1200.00", "1200.00"),
            ("003", "HINGE-C", "8", "15.00", "120.00")]
    table = ("<table><tr>"
             + "".join(f"<th>{h}</th>"
                       for h in ("Line", "Item", "Qty", "Unit", "Ext"))
             + "</tr>"
             + "".join("<tr>" + "".join(f"<td>{c}</td>" for c in r)
                       + "</tr>" for r in rows)
             + "</table>")
    html = f"<html><body><p>{_LONG}</p>{table}<p>{_LONG2}</p></body></html>"
    texts = [b["text"] for b in extract_main_blocks(html)]
    assert "Line Item Qty Unit Ext" in texts
    assert "001 DOOR-A 2 450.00 900.00" in texts
    assert "003 HINGE-C 8 15.00 120.00" in texts

    # rows too short for any base rule (2 words) survive ONLY via the
    # table-adjacency promotion
    tiny = ("<table>"
            + "".join(f"<tr><td>00{i}</td><td>{i}.00</td></tr>"
                      for i in range(3))
            + "</table>")
    html2 = f"<html><body><p>{_LONG}</p>{tiny}</body></html>"
    texts2 = [b["text"] for b in extract_main_blocks(html2)]
    assert "000 0.00" in texts2 and "002 2.00" in texts2
    # ...but not when the table is nowhere near content
    html3 = f"<html><body>{tiny}</body></html>"
    assert extract_main_blocks(html3) == []

    # a link-grid layout table is NOT promoted, even next to content
    navtable = ("<table>"
                + "".join(f"<tr><td><a href='/{i}'>cat {i} link</a>"
                          "</td></tr>" for i in range(6))
                + "</table>")
    html4 = (f"<html><body><p>{_LONG}</p>{navtable}"
             f"<p>{_LONG2}</p></body></html>")
    assert not any("cat 0" in t
                   for t in (b["text"] for b in extract_main_blocks(html4)))


def test_charset_sniffing():
    """windows-1252 pages with a meta charset decode correctly; bogus
    labels and BOM-prefixed UTF-8 fall back sanely."""
    para = _words(18) + " caf\xe9 fran\xe7ais"
    page = ("<html><head><meta http-equiv='Content-Type' "
            "content='text/html; charset=windows-1252'></head><body><p>"
            + para + "</p></body></html>").encode("cp1252")
    assert "café français" in extract_main_blocks(page)[0]["text"]
    page2 = ("<html><head><meta charset='no-such-enc'></head><body><p>"
             + _words(18) + " café</p></body></html>").encode("utf-8")
    assert "café" in extract_main_blocks(page2)[0]["text"]
    bom = b"\xef\xbb\xbf" + (
        "<html><body><p>" + _words(18) + " café</p></body></html>"
    ).encode("utf-8")
    assert "café" in extract_main_blocks(bom)[0]["text"]


def test_aria_roles_and_hidden_content():
    """div-soup DOM heuristics: ARIA landmark roles make chrome,
    hidden/aria-hidden/display:none content never extracts."""
    linkfarm = " ".join(f"<a href='/l{i}'>Item number {i} here</a>"
                        for i in range(12))
    html = (f"<html><body>"
            f"<div role='navigation'><p>{_LONG}</p></div>"
            f"<div role='banner'><p>{_LONG}</p></div>"
            f"<p>{_LONG}</p>"
            f"<div hidden><p>{_LONG} HIDDENWORD</p></div>"
            f"<div aria-hidden='true'><p>ARIAWORD {_LONG}</p></div>"
            f"<div style='display: none'><p>CSSWORD {_LONG}</p></div>"
            f"<div style='visibility:hidden'><p>VISWORD {_LONG}</p></div>"
            f"<div role='complementary'>{linkfarm}</div>"
            "</body></html>")
    texts = [b["text"] for b in extract_main_blocks(html)]
    assert len(texts) == 1 and _LONG in texts[0]
    joined = " ".join(texts)
    for marker in ("HIDDENWORD", "ARIAWORD", "CSSWORD", "VISWORD"):
        assert marker not in joined
    # hidden images are not media either
    html2 = (f"<html><body><p>{_LONG}</p>"
             f"<img src='real.png'><img src='ghost.png' hidden>"
             "</body></html>")
    imgs = [s for b in extract_main_blocks(html2) for s in b["images"]]
    assert imgs == ["real.png"]


def test_main_landmark_scopes_content():
    """A declared <main> / role='main' landmark wins: long boilerplate
    outside it (cookie banners, related-article rivers) drops; the same
    page without the landmark keeps both."""
    cookie = ("This website uses cookies to improve your experience and "
              "by continuing to browse you consent to analytics tracking "
              "partners processing data as described in our policy terms")
    with_main = (f"<html><body><div><p>{cookie}</p></div>"
                 f"<main><p>{_LONG}</p></main></body></html>")
    texts = [b["text"] for b in extract_main_blocks(with_main)]
    assert len(texts) == 1 and _LONG in texts[0]
    # role='main' on a div works the same
    role_main = (f"<html><body><div><p>{cookie}</p></div>"
                 f"<div role='main'><p>{_LONG}</p></div></body></html>")
    texts2 = [b["text"] for b in extract_main_blocks(role_main)]
    assert len(texts2) == 1 and _LONG in texts2[0]
    # no landmark: the rules alone decide, both survive
    plain = (f"<html><body><div><p>{cookie}</p></div>"
             f"<div><p>{_LONG}</p></div></body></html>")
    texts3 = [b["text"] for b in extract_main_blocks(plain)]
    assert len(texts3) == 2


def test_transport_charset_precedence():
    """WHATWG sniffing order: BOM > transport-layer (HTTP header)
    charset > meta declaration > UTF-8."""
    from pdf_extractor_scripts_spark.sources.htmlparse import charset_of

    para = _words(18) + " caf\xe9 fran\xe7ais"
    # header-only page (no meta): the transport hint decodes it
    bare = ("<html><body><p>" + para + "</p></body></html>").encode("cp1252")
    assert "café français" in extract_main_blocks(
        bare, charset="windows-1252")[0]["text"]
    # transport beats a WRONG meta declaration
    lying_meta = ("<html><head><meta charset='utf-8'></head><body><p>"
                  + para + "</p></body></html>").encode("cp1252")
    assert "café français" in extract_main_blocks(
        lying_meta, charset="windows-1252")[0]["text"]
    # BOM beats transport
    bom = b"\xef\xbb\xbf" + (
        "<html><body><p>" + para + "</p></body></html>").encode("utf-8")
    assert "café français" in extract_main_blocks(
        bom, charset="windows-1252")[0]["text"]
    # bogus transport label falls through to meta
    meta = ("<html><head><meta charset='windows-1252'></head><body><p>"
            + para + "</p></body></html>").encode("cp1252")
    assert "café français" in extract_main_blocks(
        meta, charset="no-such-enc")[0]["text"]
    # Content-Type parsing
    assert charset_of("text/html; charset=ISO-8859-1") == "ISO-8859-1"
    assert charset_of('text/html; charset="utf-8"') == "utf-8"
    assert charset_of("application/pdf") is None
    assert charset_of(None) is None


def test_images_in_skip_content_ignored():
    """<img> inside <template>/<noscript>/<svg> is not page media; an
    <img> inside real content still is (the figure rule keeps it)."""
    html = (f"<html><body><template><img src='ghost.png'></template>"
            f"<noscript><img src='pixel.gif'></noscript>"
            f"<p>{_LONG}</p><figure><img src='real.png'></figure>"
            "</body></html>")
    imgs = [s for b in extract_main_blocks(html) for s in b["images"]]
    assert imgs == ["real.png"]


def test_sniff_container():
    assert sniff(b"%PDF-1.7\n...") == "pdf"
    assert sniff(b"  \n<!DOCTYPE html><html>") == "html"
    assert sniff(b"<HTML><BODY>x</BODY>") == "html"
    assert sniff(b"\xef\xbb\xbf<div>frag</div>") == "html"
    # printable bytes with no structure are plain TEXT documents (the
    # WET-record form); binary garbage still falls to the PDF chain
    assert sniff(b"random bytes") == "text"
    assert sniff(b"\x01\x02 binary junk \x03") == "pdf"


def test_auto_dispatch_and_pipeline(spark, tmpdir):
    """One directory, three container forms (PDF, HTML, garbage) →
    parse_binary_to_spans(container='auto') matches the local parsers
    per document and flags the garbage as a counted fallback; the HTML
    spans then flow through run_pipeline like any other document."""
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline
    from pdf_extractor_scripts_spark.sources.pdfparse import (
        build_pdf,
        parse_pdf_spans,
    )
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    pdf = build_pdf([[("text", "INVOICE #123"), ("text", "TOTAL: $9.00")]])
    html = build_html([_LONG, _LONG2], images={0: "img://h/1.png"})
    with open(os.path.join(tmpdir, "a.pdf"), "wb") as f:
        f.write(pdf)
    with open(os.path.join(tmpdir, "b.html"), "wb") as f:
        f.write(html)
    with open(os.path.join(tmpdir, "c.bin"), "wb") as f:
        f.write(b"\x01\x02 not a document \x03")

    acc = spark.sparkContext.accumulator(0)
    rows = {os.path.basename(r["doc_id"]): r for r in
            parse_binary_to_spans(
                read_binary_docs(spark, str(tmpdir), glob="*"),
                fallback_acc=acc, container="auto").collect()}
    assert set(rows) == {"a.pdf", "b.html", "c.bin"}

    def tup(spans):
        return [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans]

    assert rows["a.pdf"]["parse_ok"]
    assert tup(rows["a.pdf"]["spans"]) == tup(
        [dict(s) for s in parse_pdf_spans(pdf, "a.pdf")])
    assert rows["b.html"]["parse_ok"]
    assert tup(rows["b.html"]["spans"]) == tup(
        [dict(s) for s in parse_html_spans(html, "b.html")])
    assert not rows["c.bin"]["parse_ok"] and rows["c.bin"]["parse_error"]
    assert acc.value == 1

    # an HTML *invoice* (emailed-invoice form) extracts for real: the
    # generic pattern bank runs over the assembled main-content text
    # and the retained figure rides through as the media span
    inv = build_html(
        [f"Invoice #: 9923 {_LONG}", f"Customer PO: 55812 {_LONG2}"],
        title="Billing portal", images={1: "img://h/1.png"})
    with open(os.path.join(tmpdir, "d.html"), "wb") as f:
        f.write(inv)
    out = run_pipeline(
        parse_binary_to_spans(
            read_binary_docs(spark, str(tmpdir), glob="d.html"),
            container="auto").select("doc_id", "spans")).collect()
    assert len(out) == 1
    spans_out = {s["kind"]: s for s in out[0]["out_spans"]}
    assert spans_out["field:header.invoice_number"]["text"] == "9923"
    assert spans_out["media"]["media_ref"] == "img://h/1.png"
    texts = " ".join(s["text"] for s in out[0]["out_spans"])
    assert "Newsletter" not in texts  # chrome stayed stripped end-to-end
