"""Markdown and CSV/TSV documents (sources/mdparse.py): block
structure → span grammar; conservative sniffing boundaries."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.sources.containers import sniff
from pdf_extractor_scripts_spark.sources.mdparse import (
    looks_like_csv,
    looks_like_markdown,
    parse_csv_spans,
    parse_md_spans,
)


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _media(spans):
    return [s["media_ref"] for s in spans if s["kind"] == "media"]


MD = b"""# Project Title

First paragraph line one
soft-wrapped line two.

Second paragraph with [a link](https://x.test/) and `inline code`
and **bold** plus *emphasis*.

## Usage

- item one
- item two with ![diagram](img/d.png)

| Qty | Part | Price |
|-----|------|-------|
| 2 | Hinge | 11.50 |

> quoted wisdom here

```
code block line 1
code block line 2
```

Setext Heading
==============

tail paragraph
"""


def test_markdown_blocks_map_to_spans():
    spans = parse_md_spans(MD, "m")
    assert _texts(spans) == [
        "Project Title",
        "First paragraph line one soft-wrapped line two.",
        "Second paragraph with a link and inline code and bold plus "
        "emphasis.",
        "Usage",
        "item one",
        "item two with diagram",
        "Qty Part Price",
        "2 Hinge 11.50",
        "quoted wisdom here",
        "code block line 1 code block line 2",
        "Setext Heading",
        "tail paragraph",
    ]
    assert _media(spans) == ["img/d.png"]


def test_markdown_paragraph_image_placement():
    spans = parse_md_spans(
        b"para one with ![fig](a.png) inline\n\npara two\n", "m")
    kinds = [(s["kind"], s["text"] or s["media_ref"]) for s in spans[1:]]
    assert kinds == [("text", "para one with fig inline"),
                     ("media", "a.png"), ("text", "para two")]


def test_csv_rows_cohere():
    data = b'qty,part,price\n2,"Hinge, 4.5in",11.50\n1,Closer,88.00\n'
    spans = parse_csv_spans(data, "c")
    assert _texts(spans) == ["qty part price", "2 Hinge, 4.5in 11.50",
                             "1 Closer 88.00"]


def test_tsv_and_quoted_newlines():
    data = b"a\tb\n1\t\"two\nlines\"\n3\t4\n"
    spans = parse_csv_spans(data, "c")
    assert _texts(spans) == ["a b", "1 two lines", "3 4"]


def test_csv_rejects_structureless_text():
    with pytest.raises(ValueError):
        parse_csv_spans(b"just prose\nwith lines\nno structure\n", "c")


def test_sniffer_boundaries():
    assert sniff(MD) == "md"
    assert looks_like_markdown(MD)
    csv_doc = b"a,b,c\n1,2,3\n4,5,6\n7,8,9\n"
    assert sniff(csv_doc) == "csv" and looks_like_csv(csv_doc)
    # prose with commas does NOT csv-sniff (field counts disagree)
    prose = (b"One sentence, with a comma.\n"
             b"Another, with, two commas here.\n"
             b"And a third line, different again, and more, here.\n")
    assert sniff(prose) == "text"
    # plain text without md structure stays text
    assert sniff(b"plain words\n\nmore words") == "text"
    # binary stays on the pdf chain
    assert sniff(b"\x01\x02\x03") == "pdf"


def test_interleaved_auto_covers_md_and_csv(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(tmp_path / "README.md", "wb") as f:
        f.write(b"# Title\n\nbody paragraph\n")
    with open(tmp_path / "items.csv", "wb") as f:
        f.write(b"a,b\n1,2\n3,4\n")
    rows = {r["doc_id"].rsplit(".", 1)[-1]:
            [s["text"] for s in r["spans"] if s["kind"] == "text"]
            for r in parse_binary_to_spans(
                read_binary_docs(spark, str(tmp_path), glob="*"),
                container="auto").collect()}
    assert rows == {"md": ["Title", "body paragraph"],
                    "csv": ["a b", "1 2", "3 4"]}
