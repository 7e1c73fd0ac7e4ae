"""The shared intake (sources.spans.read_documents): the doc_id prefix strip
over hand-written URIs, one read per FORMATS entry that picks only the
format's files and keys them by their path relative to the input, and the
container table (sources.containers) every raw-document read dispatches
through: its sniff, its parsers and its media extractors."""

from __future__ import annotations

from functools import reduce

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_scripts_spark.fixtures import make_corpus
from pdf_extractor_scripts_spark.operators.multimodal import media_from_pdfs
from pdf_extractor_scripts_spark.sources.containers import CONTAINERS, sniff
from pdf_extractor_scripts_spark.sources.docxparse import build_docx
from pdf_extractor_scripts_spark.sources.epubparse import build_epub
from pdf_extractor_scripts_spark.sources.feedparse import build_rss
from pdf_extractor_scripts_spark.sources.htmlparse import build_html
from pdf_extractor_scripts_spark.sources.mimeparse import build_mhtml
from pdf_extractor_scripts_spark.sources.odtparse import build_odt
from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
from pdf_extractor_scripts_spark.sources.pptxparse import build_pptx
from pdf_extractor_scripts_spark.sources.rtfparse import build_rtf
from pdf_extractor_scripts_spark.sources.spans import (
    FORMATS,
    parse_binary_to_spans,
    read_documents,
    relative_doc_id,
)
from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx


PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 24


def _pdf() -> bytes:
    doc = next(d for d in make_corpus(8, seed=42)
               if not any(s["kind"] in ("media_text", "media_text_alt")
                          for s in d["spans"]))
    return spans_to_pdf(doc["spans"] + [{"kind": "media", "text": "",
                                         "media_ref": "", "offset": 0}])


def _html(images: dict | None = None) -> bytes:
    para = ("The main content of this page runs long enough, with plenty "
            "of running words, to be kept as body text by the classifier.")
    return build_html([para, para + " two"], images=images)


# format → (file extension, bytes of one small document); every form with
# a media extractor gets one embedded picture
WRITERS = {
    "pdf": (".pdf", _pdf),
    "html": (".html", _html),
    "docx": (".docx", lambda: build_docx(["Invoice paragraph"],
                                         images={0: ("p.png", PNG)})),
    "xlsx": (".xlsx", lambda: build_xlsx({"Sheet1": [["item", 3]]})),
    "odt": (".odt", lambda: build_odt(["OpenDocument paragraph"],
                                      images={0: ("p.png", PNG)})),
    "rtf": (".rtf", lambda: build_rtf(["Rich text paragraph"])),
    "pptx": (".pptx", lambda: build_pptx([{"title": "Deck",
                                           "bullets": ["one point"],
                                           "image": ("p.png", PNG)}])),
    "epub": (".epub", lambda: build_epub([{"title": "Chapter",
                                           "paragraphs": ["Once upon"],
                                           "image": ("p.png", PNG)}])),
    "text": (".txt", lambda: b"First paragraph.\n\nSecond paragraph.\n"),
    "md": (".md", lambda: b"# Title\n\nBody text.\n"),
    "csv": (".csv", lambda: b"sku,qty,price\nA-1,2,3.50\nB-2,5,1.25\n"),
    "feed": (".rss", lambda: build_rss("Feed", [{"title": "Entry",
                                                 "html": "<p>Body</p>"}])),
    "mime": (".mht", lambda: build_mhtml(
        html=_html(images={0: "p.png"}).decode(), images={"p.png": PNG})),
    "web": (".pdf", _pdf),
}


def test_every_format_has_a_writer():
    assert set(WRITERS) == set(FORMATS)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_read_documents_reads_only_the_format(spark, tmp_path, fmt):
    ext, write = WRITERS[fmt]
    base = tmp_path / "in"
    want = f"vendor dir/a+b (1){ext}"
    (base / "vendor dir").mkdir(parents=True)
    (base / want).write_bytes(write())
    # a decoy no format glob but web's matches; web sniffs it as HTML
    (base / "decoy.dat").write_bytes(_html())

    rows = read_documents(spark, str(base), fmt).collect()
    expected = {want, "decoy.dat"} if fmt == "web" else {want}
    assert {r["doc_id"] for r in rows} == expected
    assert all(r["parse_ok"] for r in rows), [r["parse_error"] for r in rows]


def test_relative_doc_id_over_uris(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    cases = [
        # (base, reported URI, expected doc_id)
        ("/data/in", "file:/data/in/a%20b.pdf", "a b.pdf"),
        ("/data/in/", "file:///data/in/v/x+y.pdf", "v/x+y.pdf"),
        ("hdfs://nn/corpus", "hdfs://nn/corpus/v/a%20b.pdf", "v/a b.pdf"),
        ("s3a://bucket/raw/", "s3a://bucket/raw/x%2By.pdf", "x+y.pdf"),
        ("s3a://bucket/raw", "s3a://bucket/raw/a+b.pdf", "a+b.pdf"),
        ("/d/in (1)+[x].*", "file:/d/in%20(1)+[x].*/doc.pdf", "doc.pdf"),
        ("rel", f"file:{tmp_path}/rel/sub/c.pdf", "sub/c.pdf"),
        # outside the base: the decoded, scheme-less path
        ("/data/in", "file:/other/z%20z.pdf", "/other/z z.pdf"),
        ("/data/in", "file:/data/input2/z.pdf", "/data/input2/z.pdf"),
        ("hdfs://nn/corpus", "s3a://bucket/corpus/z.pdf", "bucket/corpus/z.pdf"),
    ]
    for base, uri, expected in cases:
        df = spark.createDataFrame([(uri,)], "doc_id string")
        got = relative_doc_id(df, base).first()["doc_id"]
        assert got == expected, (base, uri)


@pytest.mark.parametrize("form", list(CONTAINERS))
def test_sniff_recognises_every_form(form):
    assert sniff(WRITERS[form][1]()) == form


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=512), st.sampled_from(
    [None, "text/plain", "text/plain; charset=windows-1252", "text/html"]))
def test_sniff_always_names_a_table_row(raw, content_type):
    assert sniff(raw, content_type) in CONTAINERS


def _docs(spark, forms):
    return spark.createDataFrame([(f, WRITERS[f][1]()) for f in forms],
                                 "doc_id string, content binary")


def test_pinned_container_parses_like_auto(spark):
    docs = _docs(spark, CONTAINERS)
    auto = {r["doc_id"]: (r["spans"], r["parse_ok"])
            for r in parse_binary_to_spans(docs).collect()}
    assert all(ok for _, ok in auto.values()), auto
    pinned = reduce(lambda a, b: a.unionByName(b), (
        parse_binary_to_spans(docs.filter(docs.doc_id == f), container=f)
        for f in CONTAINERS))
    assert {r["doc_id"]: (r["spans"], r["parse_ok"])
            for r in pinned.collect()} == auto


def test_media_audit_runs_each_forms_extractor(spark):
    forms = [f for f, c in CONTAINERS.items() if c.media is not None]
    direct = {f: [r["media_ref"]
                  for r in CONTAINERS[f].media(WRITERS[f][1](), f)]
              for f in forms}
    assert all(direct.values()), direct
    rows = media_from_pdfs(_docs(spark, forms)).collect()
    assert sorted(r["media_ref"] for r in rows) \
        == sorted(ref for refs in direct.values() for ref in refs)
