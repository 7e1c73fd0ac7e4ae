"""Pure-stdlib ODT/ODS (OpenDocument, ISO/IEC 26300) parsing.

The OpenDocument sibling of the DOCX half — LibreOffice/OpenOffice
documents are a steady share of any real crawl's office content. An
.odt is a ZIP whose ``content.xml`` carries the document body
(``office:body/office:text``): paragraphs (``text:p``), headings
(``text:h``), tables (``table:table`` — one text span per row, the
same row-coherence rule as HTML/DOCX/XLSX), and embedded pictures
(``draw:image xlink:href="Pictures/..."``) on the ``img://`` payload
scheme. Encoded whitespace (``text:s``/``text:tab``/
``text:line-break``) expands; footnote/endnote bodies (``text:note``)
and tracked-change records are skipped (the accepted main-text view);
page headers/footers live in ``styles.xml``, which the parse never
opens — the same structural chrome exclusion as DOCX.

ODS spreadsheets share the package format with a different body
(``office:spreadsheet``): the XLSX mapping applies — one page per
sheet (``table:table``), the sheet name as the page's first text
span, one text span per non-empty row. ODS cell/row repetition
(``table:number-columns-repeated``) is honored with a cap so a
sheet padded with a million repeated empties stays O(content).
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_DRAW = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
_XLINK = "{http://www.w3.org/1999/xlink}"

MIMETYPE = "application/vnd.oasis.opendocument.text"
MIMETYPE_ODS = "application/vnd.oasis.opendocument.spreadsheet"
_REPEAT_CAP = 256  # repeated-cell expansion bound


class OdtError(ValueError):
    """Raised for bytes that are not a parseable ODT package."""


def _para_events(el) -> Iterator[tuple]:
    tag = el.tag
    if tag in (f"{_TEXT}note", f"{_TEXT}tracked-changes",
               f"{_TEXT}deletion"):
        return
    if tag == f"{_DRAW}image":
        href = el.get(f"{_XLINK}href")
        if href:
            yield ("img", href)
        return
    if el.text:
        yield ("text", el.text)
    for child in el:
        ctag = child.tag
        if ctag == f"{_TEXT}s":
            yield ("text", " " * int(child.get(f"{_TEXT}c", "1") or "1"))
        elif ctag in (f"{_TEXT}tab", f"{_TEXT}line-break"):
            yield ("text", " ")
        else:
            yield from _para_events(child)
        if child.tail:
            yield ("text", child.tail)


def _parse(data: bytes, doc_id: str) -> tuple[list[dict], list[dict]]:
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise OdtError(f"not a ZIP package: {e}") from None
    names = set(zf.namelist())
    if "content.xml" not in names:
        raise OdtError("ZIP package has no content.xml")
    try:
        root = ET.fromstring(zf.read("content.xml"))
    except ET.ParseError as e:
        raise OdtError(f"malformed content.xml: {e}") from None
    body = root.find(f"{_OFFICE}body")
    if body is not None and body.find(f"{_OFFICE}spreadsheet") is not None:
        return _parse_sheets(body.find(f"{_OFFICE}spreadsheet")), []
    text_el = body.find(f"{_OFFICE}text") if body is not None else None
    if text_el is None:
        raise OdtError("content.xml has no office:body/office:text"
                       " (or office:spreadsheet)")

    spans: list[dict] = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                          "media_ref": "", "offset": 0}]
    payloads: list[dict] = []
    off, img_i = 1, 0
    parts: list[str] = []
    seg_imgs: list[str] = []

    def flush():
        nonlocal off, img_i
        text = " ".join("".join(parts).split())
        if text:
            spans.append({"kind": "text", "text": text,
                          "media_ref": "", "offset": off})
            off += 1
        for href in seg_imgs:
            # strip ONE leading "./" only — lstrip would eat "../"
            # segments and bind a parent-relative href to the WRONG
            # package entry; unresolvable hrefs fall to External
            cand = href[2:] if href.startswith("./") else href
            internal = href in names or cand in names
            if internal:
                ref = f"img://{doc_id}/1/{img_i}"
                raw = zf.read(href if href in names else cand)
                from .containers import image_filter

                payloads.append({"media_ref": ref, "payload": raw,
                                 "filter": image_filter(raw, href),
                                 "params": {}})
                img_i += 1
            else:
                ref = href
                payloads.append({"media_ref": ref, "payload": b"",
                                 "filter": "External", "params": {}})
            spans.append({"kind": "media", "text": "", "media_ref": ref,
                          "offset": off})
            off += 1
        parts.clear()
        seg_imgs.clear()

    # table rows must flush as whole rows, so the cell recursion above
    # suppresses per-paragraph flushes: translate them to spaces there
    def run(events):
        for ev in events:
            if ev[0] == "text":
                parts.append(ev[1])
            elif ev[0] == "img":
                seg_imgs.append(ev[1])
            elif ev[0] == "flush":
                flush()

    run(_events_with_row_coherence(text_el))
    flush()
    return spans, payloads


def _events_with_row_coherence(text_el) -> Iterator[tuple]:
    """Top-level blocks flush per paragraph; inside a table row, cell
    paragraphs become space-joined segments and the ROW flushes."""
    for child in text_el:
        tag = child.tag
        if tag == f"{_TABLE}table":
            for tr in child.iter(f"{_TABLE}table-row"):
                for tc in tr.findall(f"{_TABLE}table-cell"):
                    for blk in tc:
                        if blk.tag in (f"{_TEXT}p", f"{_TEXT}h"):
                            yield from _para_events(blk)
                            yield ("text", " ")
                yield ("flush",)
        elif tag in (f"{_TEXT}p", f"{_TEXT}h"):
            yield from _para_events(child)
            yield ("flush",)
        elif tag in (f"{_TEXT}section", f"{_TEXT}list"):
            yield from _events_with_row_coherence_nested(child)


def _events_with_row_coherence_nested(el) -> Iterator[tuple]:
    for child in el:
        tag = child.tag
        if tag in (f"{_TEXT}p", f"{_TEXT}h"):
            yield from _para_events(child)
            yield ("flush",)
        elif tag in (f"{_TEXT}section", f"{_TEXT}list",
                     f"{_TEXT}list-item"):
            yield from _events_with_row_coherence_nested(child)


def _parse_sheets(spreadsheet) -> list[dict]:
    """office:spreadsheet → the XLSX page-per-sheet mapping."""
    spans: list[dict] = []
    off = 0
    for page, tbl in enumerate(spreadsheet.findall(f"{_TABLE}table"),
                               start=1):
        spans.append({"kind": "page_break", "text": f"=== PAGE {page} ===",
                      "media_ref": "", "offset": off})
        off += 1
        name = " ".join((tbl.get(f"{_TABLE}name") or "").split())
        if name:
            spans.append({"kind": "text", "text": name,
                          "media_ref": "", "offset": off})
            off += 1
        for row in tbl.findall(f"{_TABLE}table-row"):
            cells: list[str] = []
            for tc in row.findall(f"{_TABLE}table-cell"):
                parts: list[str] = []
                for ev in _para_events(tc):
                    if ev[0] == "text":
                        parts.append(ev[1])
                    parts.append(" ")
                text = " ".join("".join(parts).split())
                rep = min(int(tc.get(f"{_TABLE}number-columns-repeated",
                                     "1") or "1"), _REPEAT_CAP)
                cells.extend([text] * (rep if text else 1))
            line = " ".join(" ".join(cells).split())
            if line:
                spans.append({"kind": "text", "text": line,
                              "media_ref": "", "offset": off})
                off += 1
    if not spans:
        raise OdtError("spreadsheet has no sheets")
    return spans


def parse_odt_spans(data: bytes, doc_id: str) -> list[dict]:
    """ODT/ODS bytes → ordered (kind, text, media_ref, offset) spans."""
    return _parse(data, doc_id)[0]


def odt_media_payloads(data: bytes, doc_id: str) -> list[dict]:
    """(media_ref, payload, filter, params) aligned with
    parse_odt_spans (shared traversal)."""
    return _parse(data, doc_id)[1]


# ---------------------------------------------------------------------------
# fixture writer


from .xmlutil import xml_escape as _esc  # noqa: E402


def build_ods(sheets: dict[str, list[list[str]]],
              repeated: dict | None = None) -> bytes:
    """Deterministic ODS fixture writer: sheet name → rows of cell
    strings. ``repeated``: (sheet, row, col) → count adds a
    number-columns-repeated attribute to that cell."""
    repeated = repeated or {}
    tables = []
    for sname, rows in sheets.items():
        xml_rows = []
        for ri, row in enumerate(rows):
            cells = []
            for ci, val in enumerate(row):
                rep = repeated.get((sname, ri, ci))
                attr = (f' table:number-columns-repeated="{rep}"'
                        if rep else "")
                cells.append(f"<table:table-cell{attr}>"
                             f"<text:p>{_esc(str(val))}</text:p>"
                             "</table:table-cell>")
            xml_rows.append(f"<table:table-row>{''.join(cells)}"
                            "</table:table-row>")
        tables.append(f'<table:table table:name="{_esc(sname)}">'
                      f"{''.join(xml_rows)}</table:table>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">'
        f"<office:body><office:spreadsheet>{''.join(tables)}"
        "</office:spreadsheet></office:body></office:document-content>"
    ).encode()
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest='
        '"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:full-path="/" '
        f'manifest:media-type="{MIMETYPE_ODS}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml"/></manifest:manifest>'
    ).encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        info = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_STORED
        zf.writestr(info, MIMETYPE_ODS)
        for name, data in sorted({"content.xml": content,
                                  "META-INF/manifest.xml": manifest}.items()):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def build_odt(paragraphs: list[str],
              headings: dict | None = None,
              tables: dict | None = None,
              images: dict | None = None,
              footnote: str | None = None) -> bytes:
    """Deterministic ODT fixture writer: ``headings`` index → heading
    before the paragraph; ``tables`` index → rows after it; ``images``
    index → (name, payload) embedded picture after it; ``footnote``
    attaches a text:note to paragraph 0 (the parse must skip it)."""
    headings = headings or {}
    tables = tables or {}
    images = images or {}

    body: list[str] = []
    pics: dict[str, bytes] = {}
    for i, text in enumerate(paragraphs):
        if i in headings:
            body.append(f'<text:h text:outline-level="1">'
                        f"{_esc(headings[i])}</text:h>")
        note = ""
        if footnote is not None and i == 0:
            note = ('<text:note text:note-class="footnote"><text:note-body>'
                    f"<text:p>{_esc(footnote)}</text:p>"
                    "</text:note-body></text:note>")
        body.append(f"<text:p>{_esc(text)}{note}</text:p>")
        if i in images:
            name, payload = images[i]
            pics[f"Pictures/{name}"] = payload
            body.append(
                '<text:p><draw:frame><draw:image xlink:href='
                f'"Pictures/{name}"/></draw:frame></text:p>')
        if i in tables:
            rows = []
            for row in tables[i]:
                cells = "".join(
                    f"<table:table-cell><text:p>{_esc(c)}</text:p>"
                    "</table:table-cell>" for c in row)
                rows.append(f"<table:table-row>{cells}</table:table-row>")
            body.append(
                f"<table:table>{''.join(rows)}</table:table>")

    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
        'xmlns:xlink="http://www.w3.org/1999/xlink">'
        f"<office:body><office:text>{''.join(body)}</office:text>"
        "</office:body></office:document-content>"
    ).encode()

    manifest_entries = ['<manifest:file-entry manifest:full-path="/" '
                        f'manifest:media-type="{MIMETYPE}"/>',
                        '<manifest:file-entry manifest:full-path='
                        '"content.xml" manifest:media-type="text/xml"/>']
    for p in pics:
        manifest_entries.append(
            f'<manifest:file-entry manifest:full-path="{p}" '
            'manifest:media-type="image/png"/>')
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest='
        '"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        + "".join(manifest_entries) + "</manifest:manifest>"
    ).encode()

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        info = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_STORED  # spec: first, uncompressed
        zf.writestr(info, MIMETYPE)
        for name, data in sorted(
                {"content.xml": content,
                 "META-INF/manifest.xml": manifest, **pics}.items()):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()
