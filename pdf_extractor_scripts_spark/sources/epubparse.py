"""Pure-stdlib EPUB container parsing: books.

Books are a first-class training-corpus class, and EPUB is how they
ship: a ZIP whose ``META-INF/container.xml`` points at an OPF package
document, whose ``<spine>`` lists the reading order of XHTML chapter
items. Mapping: ONE PAGE PER SPINE CHAPTER, chapters parsed through
the HTML block extractor with the web boilerplate CLASSIFIER OFF
(``extract_main_blocks(classify=False)``) — a book chapter is all
content, and the WSDM word-count rules that strip crawl chrome would
eat short dialogue lines; script/style/hidden content is still
excluded structurally. Non-linear spine items (``linear="no"`` —
covers, TOC pages) are skipped as book chrome. Chapter images resolve
against the package to ``img://{doc}/{page}/{i}`` payloads
(``epub_media_payloads``, shared traversal).
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from xml.etree import ElementTree as ET

_CNT = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_OPF = "{http://www.idpf.org/2007/opf}"

MIMETYPE = "application/epub+zip"


class EpubError(ValueError):
    """Raised for bytes that are not a parseable EPUB package."""


def _opf_path(zf: zipfile.ZipFile) -> str:
    name = "META-INF/container.xml"
    if name not in zf.namelist():
        raise EpubError("no META-INF/container.xml")
    try:
        root = ET.fromstring(zf.read(name))
    except ET.ParseError as e:
        raise EpubError(f"malformed container.xml: {e}") from None
    for rf in root.iter(f"{_CNT}rootfile"):
        path = rf.get("full-path")
        if path:
            return path
    raise EpubError("container.xml names no rootfile")


def _parse(data: bytes, doc_id: str) -> tuple[list[dict], list[dict]]:
    from .containers import image_filter
    from .htmlparse import extract_main_blocks

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise EpubError(f"not a ZIP package: {e}") from None
    names = set(zf.namelist())
    opf_path = _opf_path(zf)
    if opf_path not in names:
        raise EpubError(f"rootfile {opf_path} missing from package")
    try:
        opf = ET.fromstring(zf.read(opf_path))
    except ET.ParseError as e:
        raise EpubError(f"malformed OPF: {e}") from None
    opf_dir = posixpath.dirname(opf_path)

    items: dict[str, tuple[str, str]] = {}
    manifest = opf.find(f"{_OPF}manifest")
    for it in (manifest.findall(f"{_OPF}item")
               if manifest is not None else []):
        iid, href = it.get("id"), it.get("href", "")
        if iid and href:
            items[iid] = (posixpath.normpath(posixpath.join(opf_dir, href)),
                          it.get("media-type", ""))
    spine = opf.find(f"{_OPF}spine")
    chapters: list[str] = []
    for ref in (spine.findall(f"{_OPF}itemref")
                if spine is not None else []):
        if ref.get("linear", "yes") == "no":
            continue  # covers/TOC pages: book chrome
        href, mtype = items.get(ref.get("idref") or "", ("", ""))
        if href in names and ("xhtml" in mtype or "html" in mtype
                              or href.endswith((".xhtml", ".html"))):
            chapters.append(href)
    if not chapters:
        raise EpubError("spine lists no readable chapters")

    spans: list[dict] = []
    payloads: list[dict] = []
    off = 0
    for page, href in enumerate(chapters, start=1):
        spans.append({"kind": "page_break", "text": f"=== PAGE {page} ===",
                      "media_ref": "", "offset": off})
        off += 1
        img_i = 0
        chapter_dir = posixpath.dirname(href)
        # a book chapter is ALL content — classifier off
        for blk in extract_main_blocks(zf.read(href), classify=False):
            if blk["text"]:
                spans.append({"kind": "text", "text": blk["text"],
                              "media_ref": "", "offset": off})
                off += 1
            for src in blk["images"]:
                target = posixpath.normpath(
                    posixpath.join(chapter_dir, src))
                if target in names:
                    ref = f"img://{doc_id}/{page}/{img_i}"
                    raw = zf.read(target)
                    payloads.append({"media_ref": ref, "payload": raw,
                                     "filter": image_filter(raw, target),
                                     "params": {}})
                    img_i += 1
                else:
                    ref = src  # external or missing: crawl-style ref
                    payloads.append({"media_ref": ref, "payload": b"",
                                     "filter": "External", "params": {}})
                spans.append({"kind": "media", "text": "",
                              "media_ref": ref, "offset": off})
                off += 1
    return spans, payloads


def parse_epub_spans(data: bytes, doc_id: str) -> list[dict]:
    """EPUB bytes → ordered (kind, text, media_ref, offset) spans —
    one page per spine chapter."""
    return _parse(data, doc_id)[0]


def epub_media_payloads(data: bytes, doc_id: str) -> list[dict]:
    """(media_ref, payload, filter, params) aligned with
    parse_epub_spans (shared traversal)."""
    return _parse(data, doc_id)[1]


# ---------------------------------------------------------------------------
# fixture writer


from .xmlutil import xml_escape as _esc  # noqa: E402


def build_epub(chapters: list[dict], title: str = "Fixture Book",
               cover: bool = False) -> bytes:
    """Deterministic EPUB fixture writer. Each chapter dict:
    ``title`` (optional), ``paragraphs`` (list[str]), ``image``
    ((name, payload), optional). ``cover=True`` prepends a
    linear="no" cover page the parse must SKIP."""
    parts: dict[str, bytes] = {}
    manifest, spine = [], []
    if cover:
        parts["OEBPS/cover.xhtml"] = (
            b'<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/'
            b'xhtml"><body><p>COVER PAGE CHROME</p></body></html>')
        manifest.append('<item id="cover" href="cover.xhtml" '
                        'media-type="application/xhtml+xml"/>')
        spine.append('<itemref idref="cover" linear="no"/>')
    for ci, ch in enumerate(chapters, start=1):
        body = []
        if ch.get("title"):
            body.append(f"<h1>{_esc(ch['title'])}</h1>")
        for p in ch.get("paragraphs", []):
            body.append(f"<p>{_esc(p)}</p>")
        if ch.get("image"):
            name, payload = ch["image"]
            parts[f"OEBPS/images/{name}"] = payload
            body.append(f'<p><img src="images/{name}" alt=""/></p>')
            manifest.append(
                f'<item id="img{ci}" href="images/{name}" '
                'media-type="image/png"/>')
        parts[f"OEBPS/ch{ci}.xhtml"] = (
            '<?xml version="1.0" encoding="utf-8"?>'
            '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
            f"<title>{_esc(ch.get('title') or f'Chapter {ci}')}</title>"
            f"</head><body>{''.join(body)}</body></html>").encode()
        manifest.append(f'<item id="ch{ci}" href="ch{ci}.xhtml" '
                        'media-type="application/xhtml+xml"/>')
        spine.append(f'<itemref idref="ch{ci}"/>')
    parts["OEBPS/content.opf"] = (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid"><metadata xmlns:dc="http://purl.org/dc/'
        'elements/1.1/"><dc:identifier id="uid">fixture</dc:identifier>'
        f"<dc:title>{_esc(title)}</dc:title></metadata>"
        f"<manifest>{''.join(manifest)}</manifest>"
        f"<spine>{''.join(spine)}</spine></package>").encode()
    parts["META-INF/container.xml"] = (
        '<?xml version="1.0"?><container version="1.0" xmlns="urn:oasis:'
        'names:tc:opendocument:xmlns:container"><rootfiles><rootfile '
        'full-path="OEBPS/content.opf" media-type="application/'
        'oebps-package+xml"/></rootfiles></container>').encode()

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        info = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_STORED  # spec: first, stored
        zf.writestr(info, MIMETYPE)
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, parts[name])
    return buf.getvalue()
