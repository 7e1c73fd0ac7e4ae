"""The shared intake (sources.spans.read_documents): the doc_id prefix strip
over hand-written URIs, and one read per FORMATS entry that picks only the
format's files and keys them by their path relative to the input."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.fixtures import make_corpus
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
    read_documents,
    relative_doc_id,
)
from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx


def _pdf() -> bytes:
    doc = next(d for d in make_corpus(8, seed=42)
               if not any(s["kind"] in ("media_text", "media_text_alt")
                          for s in d["spans"]))
    return spans_to_pdf(doc["spans"])


def _html() -> bytes:
    return build_html(["The main content of this page runs long enough to "
                       "be kept as content by the boilerplate classifier."])


# format → (file extension, bytes of one small document)
WRITERS = {
    "pdf": (".pdf", _pdf),
    "html": (".html", _html),
    "docx": (".docx", lambda: build_docx(["Invoice paragraph"])),
    "xlsx": (".xlsx", lambda: build_xlsx({"Sheet1": [["item", 3]]})),
    "odt": (".odt", lambda: build_odt(["OpenDocument paragraph"])),
    "rtf": (".rtf", lambda: build_rtf(["Rich text paragraph"])),
    "pptx": (".pptx", lambda: build_pptx([{"title": "Deck",
                                           "bullets": ["one point"]}])),
    "epub": (".epub", lambda: build_epub([{"title": "Chapter",
                                           "paragraphs": ["Once upon"]}])),
    "text": (".txt", lambda: b"First paragraph.\n\nSecond paragraph.\n"),
    "md": (".md", lambda: b"# Title\n\nBody text.\n"),
    "csv": (".csv", lambda: b"sku,qty,price\nA-1,2,3.50\nB-2,5,1.25\n"),
    "feed": (".rss", lambda: build_rss("Feed", [{"title": "Entry",
                                                 "html": "<p>Body</p>"}])),
    "mime": (".mht", lambda: build_mhtml(
        html="<html><body><p>Saved page body</p></body></html>")),
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
