"""Pure-stdlib PPTX (OOXML PresentationML) container parsing.

Completes the OOXML family (word/spreadsheet/presentation). The slide
deck is the web's report-and-pitch form; its mapping onto the corpus
span grammar is the most literal of all the containers: ONE PAGE PER
SLIDE (presentation.xml's sldIdLst order), one text span per
paragraph (``a:p`` inside shape text bodies, DrawingML — runs ``a:r``
/ ``a:t``, breaks ``a:br``, fields ``a:fld`` for slide numbers),
tables (``a:tbl``) row-coherent like everywhere else, and embedded
pictures (``p:pic``/``a:blip``) on the ``img://{doc}/{slide}/{i}``
payload scheme via slide relationship parts. Slide NOTES
(``notesSlide*.xml``) and masters/layouts are separate parts the
parse never opens — the deck chrome (logos, date placeholders on the
master) is excluded structurally, the same move as DOCX headers.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_RELS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

MAIN_PART = "ppt/presentation.xml"


class PptxError(ValueError):
    """Raised for bytes that are not a parseable PPTX package."""


def _slide_parts(zf: zipfile.ZipFile) -> list[str]:
    """Slide part paths in presentation order (sldIdLst r:id →
    presentation rels)."""
    names = set(zf.namelist())
    if MAIN_PART not in names:
        raise PptxError("ZIP package has no ppt/presentation.xml")
    rels: dict[str, str] = {}
    rname = "ppt/_rels/presentation.xml.rels"
    if rname in names:
        for rel in ET.fromstring(zf.read(rname)).iter(f"{_RELS}Relationship"):
            rid, target = rel.get("Id"), rel.get("Target", "")
            if rid:
                rels[rid] = "ppt/" + target.lstrip("/")
    try:
        pres = ET.fromstring(zf.read(MAIN_PART))
    except ET.ParseError as e:
        raise PptxError(f"malformed presentation.xml: {e}") from None
    out = []
    lst = pres.find(f"{_P}sldIdLst")
    for sld in (lst.findall(f"{_P}sldId") if lst is not None else []):
        part = rels.get(sld.get(f"{_R}id") or "")
        if part and part in names:
            out.append(part)
    if not out:
        # fall back to NUMERIC-order slide parts (decks written
        # without a sldIdLst) — lexicographic would put slide10
        # before slide2
        out = sorted(
            (n for n in names
             if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1])
                              .group()))
    if not out:
        raise PptxError("presentation has no slides")
    return out


def _slide_rels(zf: zipfile.ZipFile, part: str) -> dict[str, tuple[str, bool]]:
    base, fname = part.rsplit("/", 1)
    rname = f"{base}/_rels/{fname}.rels"
    if rname not in zf.namelist():
        return {}
    out: dict[str, tuple[str, bool]] = {}
    for rel in ET.fromstring(zf.read(rname)).iter(f"{_RELS}Relationship"):
        rid, target = rel.get("Id"), rel.get("Target", "")
        if not rid:
            continue
        external = rel.get("TargetMode", "") == "External"
        if not external:
            # targets are relative to ppt/slides/: ../media/image1.png
            parts = (base + "/" + target).split("/")
            norm: list[str] = []
            for p in parts:
                if p == "..":
                    if norm:
                        norm.pop()
                elif p != ".":
                    norm.append(p)
            target = "/".join(norm)
        out[rid] = (target, external)
    return out


def _shape_events(el):
    """('text', s) | ('img', rid) events from a slide tree, document
    order. Tables (a:tbl) handled by the caller for row coherence."""
    tag = el.tag
    if tag == f"{_A}t":
        if el.text:
            yield ("text", el.text)
        return
    if tag == f"{_A}br":
        yield ("text", " ")
        return
    if tag == f"{_A}blip":
        rid = el.get(f"{_R}embed") or el.get(f"{_R}link")
        if rid:
            yield ("img", rid)
        return
    for child in el:
        yield from _shape_events(child)


def _parse(data: bytes, doc_id: str) -> tuple[list[dict], list[dict]]:
    from .containers import image_filter

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise PptxError(f"not a ZIP package: {e}") from None
    names = set(zf.namelist())
    spans: list[dict] = []
    payloads: list[dict] = []
    off = 0
    for page, part in enumerate(_slide_parts(zf), start=1):
        spans.append({"kind": "page_break", "text": f"=== PAGE {page} ===",
                      "media_ref": "", "offset": off})
        off += 1
        try:
            slide = ET.fromstring(zf.read(part))
        except ET.ParseError as e:
            raise PptxError(f"malformed {part}: {e}") from None
        rels = _slide_rels(zf, part)
        img_i = 0

        def emit_text(parts_list):
            nonlocal off
            text = " ".join("".join(parts_list).split())
            if text:
                spans.append({"kind": "text", "text": text,
                              "media_ref": "", "offset": off})
                off += 1

        def emit_img(rid):
            nonlocal off, img_i
            target, external = rels.get(rid, ("", False))
            if external:
                ref = target
                payloads.append({"media_ref": ref, "payload": b"",
                                 "filter": "External", "params": {}})
            else:
                ref = f"img://{doc_id}/{page}/{img_i}"
                raw = zf.read(target) if target in names else b""
                payloads.append({"media_ref": ref, "payload": raw,
                                 "filter": image_filter(raw, target),
                                 "params": {}})
                img_i += 1
            spans.append({"kind": "media", "text": "", "media_ref": ref,
                          "offset": off})
            off += 1

        # walk shapes: text bodies paragraph-wise, tables row-wise,
        # pictures in place
        def walk(el):
            tag = el.tag
            if tag == f"{_A}tbl":
                for tr in el.findall(f"{_A}tr"):
                    row_parts: list[str] = []
                    for tc in tr.findall(f"{_A}tc"):
                        for ev in _shape_events(tc):
                            if ev[0] == "text":
                                row_parts.append(ev[1])
                            else:
                                emit_img(ev[1])
                        row_parts.append(" ")
                    emit_text(row_parts)
                return
            if tag in (f"{_P}txBody", f"{_A}txBody"):
                for p_el in el.findall(f"{_A}p"):
                    parts_list: list[str] = []
                    for ev in _shape_events(p_el):
                        if ev[0] == "text":
                            parts_list.append(ev[1])
                        else:
                            emit_img(ev[1])
                    emit_text(parts_list)
                return
            if tag == f"{_A}blip":
                rid = el.get(f"{_R}embed") or el.get(f"{_R}link")
                if rid:
                    emit_img(rid)
                return
            for child in el:
                walk(child)

        walk(slide)
    return spans, payloads


def parse_pptx_spans(data: bytes, doc_id: str) -> list[dict]:
    """PPTX bytes → ordered (kind, text, media_ref, offset) spans —
    one page per slide."""
    return _parse(data, doc_id)[0]


def pptx_media_payloads(data: bytes, doc_id: str) -> list[dict]:
    """(media_ref, payload, filter, params) aligned with
    parse_pptx_spans (shared traversal)."""
    return _parse(data, doc_id)[1]


# ---------------------------------------------------------------------------
# fixture writer


from .xmlutil import xml_escape as _esc  # noqa: E402


def build_pptx(slides: list[dict]) -> bytes:
    """Deterministic PPTX fixture writer. Each slide dict:
    ``title`` (str, optional), ``bullets`` (list[str]), ``table``
    (rows, optional), ``image`` ((name, payload), optional),
    ``notes`` (str, optional — must be EXCLUDED by the parse)."""
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    def txbody(paras: list[str]) -> str:
        ps = "".join(
            f'<a:p><a:r><a:t>{_esc(t)}</a:t></a:r></a:p>' for t in paras)
        return f"<p:txBody>{ps}</p:txBody>"

    parts: dict[str, bytes] = {}
    overrides = [
        '<Override PartName="/ppt/presentation.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.presentationml.'
        'presentation.main+xml"/>']
    pres_rels, sld_ids = [], []
    for si, slide in enumerate(slides, start=1):
        shapes = []
        if slide.get("title"):
            shapes.append(f"<p:sp>{txbody([slide['title']])}</p:sp>")
        if slide.get("bullets"):
            shapes.append(f"<p:sp>{txbody(slide['bullets'])}</p:sp>")
        srels = []
        if slide.get("image"):
            name, payload = slide["image"]
            parts[f"ppt/media/{name}"] = payload
            srels.append(
                '<Relationship Id="rId9" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                f'image" Target="../media/{name}"/>')
            shapes.append(
                "<p:pic><p:blipFill>"
                '<a:blip r:embed="rId9"/>'
                "</p:blipFill></p:pic>")
        if slide.get("table"):
            rows = "".join(
                "<a:tr>" + "".join(
                    f"<a:tc>{txbody([c]).replace('p:txBody', 'a:txBody')}"
                    "</a:tc>" for c in row) + "</a:tr>"
                for row in slide["table"])
            shapes.append(f"<p:graphicFrame><a:tbl>{rows}</a:tbl>"
                          "</p:graphicFrame>")
        parts[f"ppt/slides/slide{si}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{p}" xmlns:a="{a}" xmlns:r="{r}">'
            f"<p:cSld><p:spTree>{''.join(shapes)}</p:spTree></p:cSld>"
            "</p:sld>").encode()
        overrides.append(
            f'<Override PartName="/ppt/slides/slide{si}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.'
            'presentationml.slide+xml"/>')
        if slide.get("notes"):
            parts[f"ppt/notesSlides/notesSlide{si}.xml"] = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<p:notes xmlns:p="{p}" xmlns:a="{a}">'
                f"<p:cSld><p:spTree><p:sp>{txbody([slide['notes']])}"
                "</p:sp></p:spTree></p:cSld></p:notes>").encode()
            srels.append(
                '<Relationship Id="rId8" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                f'notesSlide" Target="../notesSlides/notesSlide{si}.xml"/>')
            overrides.append(
                f'<Override PartName="/ppt/notesSlides/notesSlide{si}.xml"'
                ' ContentType="application/vnd.openxmlformats-'
                'officedocument.presentationml.notesSlide+xml"/>')
        if srels:
            parts[f"ppt/slides/_rels/slide{si}.xml.rels"] = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<Relationships xmlns="http://schemas.openxmlformats.org/'
                f"package/2006/relationships\">{''.join(srels)}"
                "</Relationships>").encode()
        pres_rels.append(
            f'<Relationship Id="rId{si}" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/"
            f'slide" Target="slides/slide{si}.xml"/>')
        sld_ids.append(f'<p:sldId id="{255 + si}" r:id="rId{si}"/>')

    parts[MAIN_PART] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{p}" xmlns:r="{r}">'
        f"<p:sldIdLst>{''.join(sld_ids)}</p:sldIdLst></p:presentation>"
    ).encode()
    parts["ppt/_rels/presentation.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        f"2006/relationships\">{''.join(pres_rels)}</Relationships>"
    ).encode()
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/"
        'officeDocument" Target="ppt/presentation.xml"/></Relationships>'
    ).encode()
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="png" ContentType="image/png"/>'
        + "".join(overrides) + "</Types>").encode()

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, parts[name])
    return buf.getvalue()
