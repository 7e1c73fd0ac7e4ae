"""The container forms: which ones exist, how each is recognised, and which
parser and media extractor each runs.

One row per form in ``CONTAINERS``; ``sniff`` picks a row from a document's
bytes (the interleaved-crawl dispatch: a web corpus carries every form in
one table, so the parse stage sniffs per document). Adding a form is one
row here plus its parser module. Pure stdlib, no Spark: the parse stage
runs it inside an Arrow map task.
"""

from __future__ import annotations

import io
import zipfile
from typing import Callable, NamedTuple

from . import (
    docxparse,
    epubparse,
    feedparse,
    htmlparse,
    mdparse,
    mimeparse,
    odtparse,
    pdfparse,
    pptxparse,
    rtfparse,
    textparse,
    xlsxparse,
)


class Container(NamedTuple):
    glob: str  # binaryFile pathGlobFilter for a directory of this form
    parse: Callable[..., list[dict]]  # (raw, doc_id[, charset]) → spans
    charset: bool  # parse takes the transport charset (charset=...)
    media: Callable[[bytes, str], list[dict]] | None  # payload rows, if any
    about: str  # one line for the CLI's --input-format help


CONTAINERS: dict[str, Container] = {
    "pdf": Container("*.pdf", pdfparse.parse_pdf_spans, False,
                     pdfparse.pdf_media_payloads,
                     "*.pdf files: byte-stream parse"),
    "html": Container("*.htm*", htmlparse.parse_html_spans, True, None,
                      "*.htm(l) pages: boilerplate-strip main content"),
    "docx": Container("*.docx", docxparse.parse_docx_spans, False,
                      docxparse.docx_media_payloads,
                      "*.docx documents, headers/footers excluded"),
    "xlsx": Container("*.xlsx", xlsxparse.parse_xlsx_spans, False, None,
                      "*.xlsx spreadsheets: a page per sheet, a span per row"),
    "odt": Container("*.{odt,ods}", odtparse.parse_odt_spans, False,
                     odtparse.odt_media_payloads,
                     "*.odt/*.ods OpenDocument text and spreadsheets"),
    "rtf": Container("*.rtf", rtfparse.parse_rtf_spans, False, None,
                     "*.rtf legacy office documents"),
    "pptx": Container("*.pptx", pptxparse.parse_pptx_spans, False,
                      pptxparse.pptx_media_payloads,
                      "*.pptx decks: a page per slide, notes excluded"),
    "epub": Container("*.epub", epubparse.parse_epub_spans, False,
                      epubparse.epub_media_payloads,
                      "*.epub books: a page per spine chapter"),
    "text": Container("*.txt", textparse.parse_text_spans, True, None,
                      "*.txt plain text: blank-line paragraphs"),
    "md": Container("*.md", mdparse.parse_md_spans, True, None,
                    "*.md markdown; images become media spans"),
    "csv": Container("*.{csv,tsv}", mdparse.parse_csv_spans, True, None,
                     "*.csv/*.tsv records: a span per record"),
    "feed": Container("*.{xml,rss,atom}", feedparse.parse_feed_spans, False,
                      None, "RSS/Atom feeds: a page per entry"),
    "mime": Container("*.{mht,mhtml,eml}", mimeparse.parse_mime_spans, False,
                      mimeparse.mime_media_payloads,
                      "*.mht(ml)/*.eml saved pages and mail with "
                      "document attachments"),
}


def sniff(raw: bytes, content_type: str | None = None) -> str:
    """The ``CONTAINERS`` key for a document's bytes. ZIP packages are
    probed for their main part; anything unrecognised is 'pdf', whose
    parser rejects non-PDF bytes as a COUNTED parse fallback instead of
    misparsing them. ``content_type``: the transport Content-Type, if
    any — a text/plain declaration turns that fallback into 'text' when
    the bytes are plausibly text in a legacy charset (windows-1252 WET
    records fail the UTF-8 sniff)."""
    form = _sniff_bytes(raw)
    if (form == "pdf"
            and (content_type or "").split(";")[0].strip().lower()
            == "text/plain"
            and not raw.lstrip()[:5].startswith(b"%PDF-")
            and textparse.plausible_declared_text(raw)):
        return "text"  # binary served as text/plain fails the byte floor
    return form


def _sniff_bytes(content: bytes) -> str:
    if content[:3] == b"\xef\xbb\xbf":
        # a UTF-8 BOM wraps any text-family form (Windows-generated
        # feeds/markdown/csv); every text parser strips it itself, so
        # sniff the content BEHIND it
        content = content[3:]
    head = content[:4096].lstrip()
    if head.startswith(b"%PDF"):
        return "pdf"
    if head.startswith(b"{\\rtf"):
        return "rtf"
    if content[:4] == b"PK\x03\x04":
        return _zip_main_part(content) or "pdf"
    # MIME (MHTML/EML) wins only for header-shaped leading bytes, so HTML
    # quoting mail headers stays HTML
    if not head.startswith(b"<") and mimeparse.looks_like_mime(content):
        return "mime"
    if head.startswith(b"<") and feedparse.looks_like_feed(content):
        return "feed"  # root-element match only: <rss/<feed/<rdf:RDF
    low = head[:2048].lower()
    if (low.startswith(b"<!doctype html") or b"<html" in low
            or b"<head" in low or b"<body" in low):
        return "html"
    # BOM-prefixed or fragment HTML: any tag soup with no PDF header
    if low.startswith(b"\xef\xbb\xbf<") or low.startswith(b"<"):
        return "html"
    if mdparse.looks_like_markdown(content):
        return "md"  # README/docs-site corpora
    if mdparse.looks_like_csv(content):
        return "csv"  # delimiter-consistent records
    if textparse.looks_like_text(content):
        return "text"  # WET conversion records, bare .txt — documents
    return "pdf"


def _zip_main_part(content: bytes) -> str | None:
    """The office/book form a ZIP package's main part names, else None
    (a plain archive has no parser)."""
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            names = set(zf.namelist())
            if docxparse.MAIN_PART in names:
                return "docx"
            if xlsxparse.MAIN_PART in names:
                return "xlsx"
            if pptxparse.MAIN_PART in names:
                return "pptx"
            if "META-INF/container.xml" in names:
                mt = (zf.read("mimetype").decode("ascii", "replace").strip()
                      if "mimetype" in names else "")
                if mt == epubparse.MIMETYPE or (
                        not mt and "content.xml" not in names):
                    return "epub"
            if "content.xml" in names:
                mt = (zf.read("mimetype").decode("ascii", "replace").strip()
                      if "mimetype" in names else "")
                if mt in (odtparse.MIMETYPE, odtparse.MIMETYPE_ODS) or not mt:
                    return "odt"  # the ODT parser handles both bodies
    except Exception:
        return None
    return None


def image_filter(raw: bytes, target: str) -> str:
    """Codec label of a packaged image from its payload magic (the part
    name's extension only as fallback) — DCTDecode for JPEG keeps the
    multimodal stage's PDF-side dispatch working unchanged on office and
    mail media."""
    if raw.startswith(b"\xff\xd8\xff"):
        return "DCTDecode"
    if raw.startswith(b"\x89PNG\r\n\x1a\n"):
        return "PNG"
    if raw.startswith((b"GIF87a", b"GIF89a")):
        return "GIF"
    if raw.startswith(b"BM"):
        return "BMP"
    if raw.startswith((b"II*\x00", b"MM\x00*")):
        return "TIFF"
    ext = target.rsplit(".", 1)[-1].lower() if "." in target else ""
    return {"jpg": "DCTDecode", "jpeg": "DCTDecode", "png": "PNG",
            "gif": "GIF", "bmp": "BMP", "tif": "TIFF",
            "tiff": "TIFF", "emf": "EMF", "wmf": "WMF"}.get(ext, "Unknown")
