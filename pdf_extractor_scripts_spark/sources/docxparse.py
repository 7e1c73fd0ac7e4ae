"""Pure-stdlib DOCX (OOXML WordprocessingML) container parsing.

The interleaved crawl's third container form: office documents. A real
web corpus carries .docx right next to PDF and HTML (invoices, specs,
reports — the same document classes the reference extracts from PDF,
reference context: the upload path in main.py accepts arbitrary
container files and routes everything through the PDF branch today).
A .docx is a ZIP package (`zipfile`) whose main part
``word/document.xml`` is XML (`xml.etree.ElementTree`): both pure
stdlib, so the parse runs inside the same zero-shuffle Arrow map stage
as the PDF and HTML halves.

Output is the corpus span grammar — (kind, text, media_ref, offset):
``page_break`` markers (explicit ``w:br type="page"`` and Word's
cached ``w:lastRenderedPageBreak`` both advance the page counter),
one ``text`` span per paragraph / table row, and ``media`` spans for
embedded pictures using the SAME ``img://{doc}/{page}/{i}`` reference
scheme as the PDF parse, so ``docx_media_payloads`` aligns payload
bytes with the spans exactly like ``pdf_media_payloads`` does.

Boilerplate model (the HTML-half analog): page headers and footers
live in separate package parts (``word/header*.xml`` /
``word/footer*.xml``) that the parse never opens — the repetitive
page chrome a PDF pipeline has to FILTER (P9) is structurally
separated in OOXML, so exclusion is free. Tracked changes honor the
accepted view: ``w:ins`` insertions are kept, ``w:del`` deletions
(``w:delText``) are dropped, and field instruction text
(``w:instrText``) never surfaces.

Scale note: one ``ZipFile`` open + one ElementTree parse of the main
part per document, O(document) work, no quadratic walks. Media
payloads are read lazily per relationship target only when the
multimodal stage asks.
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

# WordprocessingML / DrawingML / package namespaces (ECMA-376 part 1,
# public spec) — ElementTree matches on Clark-notation qualified names.
_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_V = "{urn:schemas-microsoft-com:vml}"
_RELS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

MAIN_PART = "word/document.xml"


class DocxError(ValueError):
    """Raised for bytes that are not a parseable DOCX package."""


def _rels(zf: zipfile.ZipFile) -> dict[str, tuple[str, bool]]:
    """Relationship id → (target, is_external) from the main part's
    .rels — how ``a:blip r:embed="rId4"`` resolves to
    ``word/media/image1.png`` (or an external URL)."""
    name = "word/_rels/document.xml.rels"
    if name not in zf.namelist():
        return {}
    out: dict[str, tuple[str, bool]] = {}
    root = ET.fromstring(zf.read(name))
    for rel in root.iter(f"{_RELS}Relationship"):
        rid = rel.get("Id")
        target = rel.get("Target", "")
        external = rel.get("TargetMode", "") == "External"
        if rid:
            out[rid] = (target, external)
    return out


def _para_events(el) -> Iterator[tuple]:
    """Depth-first run-level events for one paragraph subtree:
    ("text", s) | ("img", rel_id) | ("pagebreak",). Deleted runs
    (tracked changes) and field instruction text are skipped — the
    accepted-changes view of the document."""
    tag = el.tag
    if tag in (f"{_W}del", f"{_W}delText", f"{_W}instrText",
               f"{_W}pPr", f"{_W}rPr"):
        return
    if tag == f"{_W}t":
        if el.text:
            yield ("text", el.text)
        return
    if tag in (f"{_W}tab", f"{_W}cr"):
        yield ("text", " ")
        return
    if tag == f"{_W}noBreakHyphen":
        yield ("text", "-")
        return
    if tag in (f"{_W}br", f"{_W}lastRenderedPageBreak"):
        if tag == f"{_W}br" and el.get(f"{_W}type") != "page":
            yield ("text", " ")  # line/column break: intra-paragraph
        else:
            yield ("pagebreak",)
        return
    if tag == f"{_A}blip":
        rid = el.get(f"{_R}embed") or el.get(f"{_R}link")
        if rid:
            yield ("img", rid)
        return
    if tag == f"{_V}imagedata":
        rid = el.get(f"{_R}id")
        if rid:
            yield ("img", rid)
        return
    for child in el:
        yield from _para_events(child)


def _body_events(body) -> Iterator[tuple]:
    """Block-level event stream over the document body, in document
    order: paragraph events terminated by ("flush",) per paragraph —
    and per table ROW (cells of one ``w:tr`` merge into one text unit,
    the same row-coherence rule the HTML half applies to ``<tr>``, so
    a DOCX invoice's line-item grid survives as whole rows)."""
    for child in body:
        tag = child.tag
        if tag == f"{_W}p":
            yield from _para_events(child)
            yield ("flush",)
        elif tag == f"{_W}tbl":
            for tr in child.findall(f"{_W}tr"):
                for tc in tr.findall(f"{_W}tc"):
                    for blk in tc:
                        if blk.tag == f"{_W}p":
                            yield from _para_events(blk)
                            yield ("text", " ")  # paragraph boundary
                        elif blk.tag == f"{_W}tbl":  # nested table
                            yield from _body_events([blk])
                    yield ("text", " ")  # cell boundary
                yield ("flush",)
        # sectPr / bookmarks / sdt wrappers: structured document tags
        # (content controls) wrap normal block content — unwrap them
        elif tag == f"{_W}sdt":
            content = child.find(f"{_W}sdtContent")
            if content is not None:
                yield from _body_events(content)


def _parse(data: bytes, doc_id: str) -> tuple[list[dict], list[dict]]:
    """One traversal → (spans, media payload descriptors), the shared
    core of parse_docx_spans and docx_media_payloads so span/payload
    media_refs can never drift apart."""
    from .containers import image_filter

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise DocxError(f"not a ZIP package: {e}") from None
    names = set(zf.namelist())
    if MAIN_PART not in names:
        raise DocxError("ZIP package has no word/document.xml")
    try:
        root = ET.fromstring(zf.read(MAIN_PART))
    except ET.ParseError as e:
        raise DocxError(f"malformed document.xml: {e}") from None
    body = root.find(f"{_W}body")
    if body is None:
        raise DocxError("document.xml has no w:body")
    rels = _rels(zf)

    spans: list[dict] = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                          "media_ref": "", "offset": 0}]
    payloads: list[dict] = []
    off, page, img_i = 1, 1, 0
    text_parts: list[str] = []
    seg_imgs: list[str] = []  # rel ids collected within the segment

    def flush_segment():
        nonlocal off, img_i
        text = " ".join("".join(text_parts).split())
        if text:
            spans.append({"kind": "text", "text": text,
                          "media_ref": "", "offset": off})
            off += 1
        for rid in seg_imgs:
            target, external = rels.get(rid, ("", False))
            if external:
                ref = target  # crawl-style reference, like an HTML src
                payloads.append({"media_ref": ref, "payload": b"",
                                 "filter": "External", "params": {}})
            else:
                ref = f"img://{doc_id}/{page}/{img_i}"
                # dot-segment normalization, matching pptxparse._slide_rels
                # (r7 ADVICE fix: a Target like ../media/img.png previously
                # resolved to a nonexistent part and yielded an empty
                # payload silently)
                norm: list[str] = []
                for p in ("word/" + target.lstrip("/")).split("/"):
                    if p == "..":
                        if norm:
                            norm.pop()
                    elif p != ".":
                        norm.append(p)
                part = "/".join(norm)
                raw = zf.read(part) if target and part in names else b""
                payloads.append({"media_ref": ref, "payload": raw,
                                 "filter": image_filter(raw, target),
                                 "params": {}})
                img_i += 1
            spans.append({"kind": "media", "text": "", "media_ref": ref,
                          "offset": off})
            off += 1
        text_parts.clear()
        seg_imgs.clear()

    for ev in _body_events(body):
        kind = ev[0]
        if kind == "text":
            text_parts.append(ev[1])
        elif kind == "img":
            seg_imgs.append(ev[1])
        elif kind == "pagebreak":
            flush_segment()
            page += 1
            img_i = 0
            spans.append({"kind": "page_break",
                          "text": f"=== PAGE {page} ===",
                          "media_ref": "", "offset": off})
            off += 1
        elif kind == "flush":
            flush_segment()
    flush_segment()
    return spans, payloads


def parse_docx_spans(data: bytes, doc_id: str) -> list[dict]:
    """DOCX bytes → ordered (kind, text, media_ref, offset) spans in
    the corpus span grammar — the container triplet of
    ``parse_pdf_spans`` and ``parse_html_spans``."""
    return _parse(data, doc_id)[0]


def docx_media_payloads(data: bytes, doc_id: str) -> list[dict]:
    """(media_ref, payload, filter, params) per picture placement,
    media_refs aligned with parse_docx_spans' media spans (same shared
    traversal) — the DOCX twin of ``pdf_media_payloads``."""
    return _parse(data, doc_id)[1]


# ---------------------------------------------------------------------------
# fixture writer


from .xmlutil import xml_escape as _esc  # noqa: E402


def _run(text: str) -> str:
    return f'<w:r><w:t xml:space="preserve">{_esc(text)}</w:t></w:r>'


def _drawing(rid: str) -> str:
    ad = "http://schemas.openxmlformats.org/drawingml/2006/main"
    pd = "http://schemas.openxmlformats.org/drawingml/2006/picture"
    return (
        "<w:r><w:drawing><wp:inline>"
        f'<a:graphic xmlns:a="{ad}"><a:graphicData uri="{pd}">'
        f'<pic:pic xmlns:pic="{pd}"><pic:blipFill>'
        f'<a:blip r:embed="{rid}"/></pic:blipFill></pic:pic>'
        "</a:graphicData></a:graphic></wp:inline></w:drawing></w:r>"
    )


def build_docx(paragraphs: list[str],
               headings: dict | None = None,
               tables: dict | None = None,
               images: dict | None = None,
               external_images: dict | None = None,
               page_breaks: tuple = (),
               header: str | None = None,
               footer: str | None = None,
               tracked: tuple[str, str] | None = None,
               split_runs: bool = False) -> bytes:
    """Deterministic DOCX fixture writer (the build_pdf / build_html /
    build_warc sibling). ``headings``: paragraph index → heading text
    before it. ``tables``: index → list of rows (list of cell strings)
    after that paragraph. ``images``: index → (filename, payload
    bytes) pictures after the paragraph; ``external_images``: index →
    URL (linked, TargetMode External). ``page_breaks``: indices after
    whose paragraph an explicit page break run is emitted. ``header``
    / ``footer``: page-chrome parts the parse must EXCLUDE.
    ``tracked``: (inserted, deleted) text appended as w:ins / w:del
    runs on the first paragraph. ``split_runs`` splits each paragraph
    mid-word into two runs (the wild's dominant shape: Word fragments
    runs on every formatting/spellcheck boundary)."""
    headings = headings or {}
    tables = tables or {}
    images = images or {}
    external_images = external_images or {}

    rels: list[str] = []
    media: dict[str, bytes] = {}
    body: list[str] = []
    rid_n = 1

    def next_rid() -> str:
        nonlocal rid_n
        rid = f"rId{rid_n}"
        rid_n += 1
        return rid

    for i, text in enumerate(paragraphs):
        if i in headings:
            body.append(
                '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
                f"{_run(headings[i])}</w:p>"
            )
        runs: list[str] = []
        if split_runs and len(text) > 4:
            cut = len(text) // 2
            runs += [_run(text[:cut]), _run(text[cut:])]
        else:
            runs.append(_run(text))
        if tracked and i == 0:
            ins, dele = tracked
            runs.append(
                '<w:ins w:id="1" w:author="a" w:date="2026-01-01T00:00:00Z">'
                f"{_run(' ' + ins)}</w:ins>"
            )
            runs.append(
                '<w:del w:id="2" w:author="a" w:date="2026-01-01T00:00:00Z">'
                '<w:r><w:delText xml:space="preserve"> '
                f"{_esc(dele)}</w:delText></w:r></w:del>"
            )
        body.append(f"<w:p>{''.join(runs)}</w:p>")
        if i in images:
            fname, payload = images[i]
            rid = next_rid()
            rels.append(
                f'<Relationship Id="{rid}" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/image"
                f'" Target="media/{fname}"/>'
            )
            media[f"word/media/{fname}"] = payload
            body.append(f"<w:p>{_drawing(rid)}</w:p>")
        if i in external_images:
            rid = next_rid()
            rels.append(
                f'<Relationship Id="{rid}" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/image"
                f'" Target="{_esc(external_images[i])}" '
                'TargetMode="External"/>'
            )
            body.append(f"<w:p>{_drawing(rid)}</w:p>")
        if i in tables:
            rows = []
            for row in tables[i]:
                cells = "".join(
                    f"<w:tc><w:p>{_run(c)}</w:p></w:tc>" for c in row
                )
                rows.append(f"<w:tr>{cells}</w:tr>")
            body.append(f"<w:tbl>{''.join(rows)}</w:tbl>")
        if i in page_breaks:
            body.append('<w:p><w:r><w:br w:type="page"/></w:r></w:p>')

    overrides = [
        '<Override PartName="/word/document.xml" ContentType="application/'
        "vnd.openxmlformats-officedocument.wordprocessingml."
        'document.main+xml"/>'
    ]
    parts: dict[str, bytes] = {}
    sect = ""
    if header is not None:
        rid = next_rid()
        rels.append(
            f'<Relationship Id="{rid}" Type="http://schemas.openxmlformats'
            ".org/officeDocument/2006/relationships/header\" "
            'Target="header1.xml"/>'
        )
        overrides.append(
            '<Override PartName="/word/header1.xml" ContentType="application'
            "/vnd.openxmlformats-officedocument.wordprocessingml."
            'header+xml"/>'
        )
        parts["word/header1.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<w:hdr xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main">'
            f"<w:p>{_run(header)}</w:p></w:hdr>"
        ).encode()
        sect += f'<w:headerReference w:type="default" r:id="{rid}"/>'
    if footer is not None:
        rid = next_rid()
        rels.append(
            f'<Relationship Id="{rid}" Type="http://schemas.openxmlformats'
            ".org/officeDocument/2006/relationships/footer\" "
            'Target="footer1.xml"/>'
        )
        overrides.append(
            '<Override PartName="/word/footer1.xml" ContentType="application'
            "/vnd.openxmlformats-officedocument.wordprocessingml."
            'footer+xml"/>'
        )
        parts["word/footer1.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<w:ftr xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main">'
            f"<w:p>{_run(footer)}</w:p></w:ftr>"
        ).encode()
        sect += f'<w:footerReference w:type="default" r:id="{rid}"/>'
    if sect:
        body.append(f"<w:sectPr>{sect}</w:sectPr>")

    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main" xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships" '
        'xmlns:wp="http://schemas.openxmlformats.org/drawingml/2006/'
        'wordprocessingDrawing">'
        f"<w:body>{''.join(body)}</w:body></w:document>"
    )
    parts[MAIN_PART] = doc.encode()
    parts["word/_rels/document.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        f"2006/relationships\">{''.join(rels)}</Relationships>"
    ).encode()
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/"
        'officeDocument" Target="word/document.xml"/></Relationships>'
    ).encode()
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="png" ContentType="image/png"/>'
        '<Default Extension="jpeg" ContentType="image/jpeg"/>'
        '<Default Extension="jpg" ContentType="image/jpeg"/>'
        f"{''.join(overrides)}</Types>"
    ).encode()
    parts.update(media)

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, parts[name])
    return buf.getvalue()
