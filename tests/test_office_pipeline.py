"""Office containers end-to-end: invoice-shaped DOCX/XLSX/MHTML
documents extract REAL fields through run_pipeline — the proof the
container layer feeds the same extraction the reference runs on PDFs
— plus sniffer robustness under adversarial bytes."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_scripts_spark.sources.docxparse import build_docx
from pdf_extractor_scripts_spark.sources.mimeparse import build_mhtml
from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx

_PAD = ("with additional descriptive commentary providing enough running "
        "words for every container's content heuristics to keep the line")


def _fields(spark, tmpdir, fname, data):
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    with open(os.path.join(str(tmpdir), fname), "wb") as f:
        f.write(data)
    out = run_pipeline(
        parse_binary_to_spans(
            read_binary_docs(spark, str(tmpdir), glob=fname),
            container="auto").select("doc_id", "spans")).collect()
    assert len(out) == 1
    return {s["kind"]: s["text"] for s in out[0]["out_spans"]}


def test_docx_invoice_extracts_fields(spark, tmp_path):
    fields = _fields(spark, tmp_path, "inv.docx", build_docx(
        [f"Invoice #: 7731 {_PAD}", f"Customer PO: 41290 {_PAD}"],
        headings={0: "ACME Door Hardware"}))
    assert fields["field:header.invoice_number"] == "7731"


def test_xlsx_invoice_extracts_fields(spark, tmp_path):
    fields = _fields(spark, tmp_path, "inv.xlsx", build_xlsx(
        {"Invoice": [["Invoice #:", 8842],
                     ["Customer PO:", 31555],
                     ["Qty", "Part", "Price"],
                     [2, "Hinge 4.5in", 11.5]]}))
    assert fields["field:header.invoice_number"] == "8842"


def test_mailed_pdf_invoice_extracts_fields(spark, tmp_path):
    from pdf_extractor_scripts_spark.sources.pdfparse import build_pdf

    pdf = build_pdf([[("text", "Invoice #: 6120"),
                      ("text", "TOTAL: $99.00")]])
    fields = _fields(spark, tmp_path, "mail.eml", build_mhtml(
        plain=f"invoice attached {_PAD}", subtype="mixed",
        attachments=[("invoice.pdf", pdf)]))
    assert fields["field:header.invoice_number"] == "6120"


# ------------------------------------------------------- sniffer fuzz

@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=512))
def test_sniffer_never_crashes_on_random_bytes(data):
    from pdf_extractor_scripts_spark.sources.containers import sniff

    assert sniff(data) in ("pdf", "html", "docx", "xlsx",
                           "odt", "rtf", "pptx", "epub", "mime", "text",
                           "md", "csv", "feed")


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_truncated_containers_sniff_and_reject_cleanly(data):
    """Any prefix of any real container either parses or raises a
    clean ValueError subclass — never hangs, never returns garbage
    spans silently (the parse either completes or signals)."""
    from pdf_extractor_scripts_spark.sources.docxparse import (
        parse_docx_spans,
    )
    from pdf_extractor_scripts_spark.sources.containers import sniff
    from pdf_extractor_scripts_spark.sources.mimeparse import (
        parse_mime_spans,
    )
    from pdf_extractor_scripts_spark.sources.odtparse import (
        build_odt,
        parse_odt_spans,
    )
    from pdf_extractor_scripts_spark.sources.xlsxparse import (
        parse_xlsx_spans,
    )

    whole = {
        "docx": build_docx(["truncation target paragraph"]),
        "xlsx": build_xlsx({"S": [["a", 1]]}),
        "odt": build_odt(["truncation target paragraph"]),
        "mime": build_mhtml(plain="truncation target", subtype="mixed"),
    }
    parsers = {"docx": parse_docx_spans, "xlsx": parse_xlsx_spans,
               "odt": parse_odt_spans, "mime": parse_mime_spans}
    form = data.draw(st.sampled_from(sorted(whole)))
    blob = whole[form]
    cut = data.draw(st.integers(min_value=0, max_value=len(blob)))
    prefix = blob[:cut]
    sniffed = sniff(prefix)  # must not raise
    if sniffed in parsers:
        try:
            spans = parsers[sniffed](prefix, "t")
            assert isinstance(spans, list)
        except ValueError:
            pass  # clean reject → counted fallback upstream
