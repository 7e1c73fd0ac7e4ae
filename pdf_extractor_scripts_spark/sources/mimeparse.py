"""Pure-stdlib MIME container parsing: MHTML saved pages and EML mail.

Two more container forms a web-scale interleaved corpus really
carries: MHTML (RFC 2557 multipart/related — "save page as" archives,
.mht exports) and RFC 5322 email with document attachments. Both are
the `email` stdlib's native format, so the parse stays inside the
same zero-shuffle Arrow map stage as the PDF / HTML / DOCX halves.

Model: the ROOT body part is the document. An HTML root goes through
the boilerplate-strip main-content extraction (sources/htmlparse.py)
— its media spans are the image PLACEMENTS, and the sibling MIME
parts are the payload STORE: ``mime_media_payloads`` matches each
placement's src against part Content-Location (with RFC 2557
relative-URL resolution against the root's base) or ``cid:``
Content-ID references. Images stored in the archive but not placed in
retained main content are boilerplate (tracker pixels, chrome
sprites) and contribute nothing — the same exclusion the HTML
classifier applies.

Document ATTACHMENTS recurse: an application/pdf part parses through
the PDF byte-stream parser, a .docx part through the OOXML parser,
and a message/rfc822 part through this parser (bounded depth) — each
appended after the root's spans with its own page markers, so an
email carrying the invoice PDF the reference processes yields the
same span stream as the bare PDF, prefixed by the mail body.

Scale note: one header parse + per-part payload decode
(quoted-printable / base64 via the stdlib decoders), all O(bytes).
"""

from __future__ import annotations

import email
import email.policy
from email.message import EmailMessage
from typing import Optional
from urllib.parse import urljoin


class MimeError(ValueError):
    """Raised for bytes that are not a parseable MIME document."""


_MAX_DEPTH = 3  # message/rfc822 nesting guard


def _part_payload(part) -> bytes:
    try:
        raw = part.get_payload(decode=True)
    except Exception:
        raw = None
    return raw if raw is not None else b""


def _part_location(part) -> Optional[str]:
    loc = part.get("Content-Location")
    return loc.strip() if loc else None


def _part_cid(part) -> Optional[str]:
    cid = part.get("Content-ID")
    return cid.strip().strip("<>") if cid else None


def _filename(part) -> str:
    try:
        return part.get_filename() or ""
    except Exception:
        return ""


def _root_body(msg: EmailMessage):
    """The document part: multipart/related honors the ``start``
    parameter, otherwise the html-then-plain body preference."""
    if msg.get_content_type() == "multipart/related":
        start = msg.get_param("start")
        parts = list(msg.iter_parts())
        if start:
            want = start.strip("<>")
            for p in parts:
                if _part_cid(p) == want:
                    return p
        for p in parts:
            if p.get_content_type() in ("text/html", "text/plain"):
                return p
        return parts[0] if parts else None
    try:
        return msg.get_body(preferencelist=("html", "plain"))
    except Exception:
        return None


def _decode_text(part) -> str:
    raw = _part_payload(part)
    charset = part.get_content_charset() or "utf-8"
    try:
        return raw.decode(charset, errors="replace")
    except LookupError:
        return raw.decode("utf-8", errors="replace")


def _plain_spans(text: str) -> list[dict]:
    """text/plain body → one text span per blank-line paragraph."""
    spans = [{"kind": "page_break", "text": "=== PAGE 1 ===",
              "media_ref": "", "offset": 0}]
    off = 1
    for para in text.split("\n\n"):
        t = " ".join(para.split())
        if t:
            spans.append({"kind": "text", "text": t,
                          "media_ref": "", "offset": off})
            off += 1
    return spans


def _attachment_form(part, raw: bytes) -> Optional[str]:
    """'pdf' | 'docx' | 'rfc822' | 'text' for parts that are documents
    in their own right, else None (image/resource parts)."""
    ctype = part.get_content_type()
    name = _filename(part).lower()
    if ctype == "message/rfc822":
        return "rfc822"
    if ctype == "application/pdf" or name.endswith(".pdf") \
            or raw[:5] == b"%PDF-":
        return "pdf"
    if name.endswith(".docx") or ctype == (
            "application/vnd.openxmlformats-officedocument."
            "wordprocessingml.document"):
        return "docx"
    if ctype.startswith("text/") and \
            part.get_content_disposition() == "attachment":
        return "text"
    return None


def _parse(data: bytes, doc_id: str,
           depth: int = 0) -> tuple[list[dict], list[dict]]:
    """Shared traversal → (spans, media payload descriptors), refs
    aligned by construction (the docxparse pattern)."""
    from .containers import image_filter
    from .docxparse import parse_docx_spans
    from .htmlparse import parse_html_spans
    from .pdfparse import parse_pdf_spans, pdf_media_payloads

    if data[:5] == b"From " and b"\n" in data[:2048]:
        data = data.split(b"\n", 1)[1]  # mbox separator line
    msg = email.message_from_bytes(data, policy=email.policy.default)
    if msg.get("MIME-Version") is None and msg.get("Content-Type") is None:
        raise MimeError("no MIME headers")

    root = _root_body(msg)
    spans: list[dict] = []
    payloads: list[dict] = []

    if root is not None and root.get_content_type() == "text/html":
        spans = parse_html_spans(_decode_text(root), doc_id,
                                 charset=root.get_content_charset())
    elif root is not None and root.get_content_type().startswith("text/"):
        spans = _plain_spans(_decode_text(root))
    else:
        spans = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                  "media_ref": "", "offset": 0}]

    # payload store: Content-Location / Content-ID → image part,
    # relative placements resolved against the root's base (RFC 2557)
    base = (_part_location(root) or _part_location(msg) or "") \
        if root is not None else ""
    store: dict[str, tuple] = {}
    # sibling parts of THIS message only: multipart containers recurse
    # structurally, but a message/rfc822 part is a whole nested
    # DOCUMENT — it stays one opaque resource here (the attachment
    # loop below hands it back to _parse), and its inner parts must
    # NOT leak into the outer message's store or attachment list
    # (msg.walk() would mis-attribute them to the outer doc_id)
    resources: list = []

    def _collect(container):
        for p in container.iter_parts():
            if p is root:
                continue
            if p.get_content_type() == "message/rfc822" \
                    or not p.is_multipart():
                resources.append(p)
            else:
                _collect(p)

    if msg.is_multipart():
        _collect(msg)
    for p in resources:
        if not p.get_content_type().startswith("image/"):
            continue
        raw = _part_payload(p)
        entry = (raw, _filename(p) or _part_location(p) or "")
        loc = _part_location(p)
        if loc:
            store[loc] = entry
        cid = _part_cid(p)
        if cid:
            store[f"cid:{cid}"] = entry

    for s in spans:
        if s["kind"] != "media":
            continue
        ref = s["media_ref"]
        hit = store.get(ref) or (store.get(urljoin(base, ref))
                                 if base else None)
        if hit is not None:
            raw, name = hit
            payloads.append({"media_ref": ref, "payload": raw,
                             "filter": image_filter(raw, name),
                             "params": {}})
        else:
            payloads.append({"media_ref": ref, "payload": b"",
                             "filter": "External", "params": {}})

    # document attachments: recurse, append after the root's spans
    att_i = 0
    for p in resources:
        raw = _part_payload(p)
        form = _attachment_form(p, raw)
        if form is None:
            continue
        child_id = f"{doc_id}!{_filename(p) or f'part{att_i}'}"
        att_i += 1
        try:
            if form == "pdf":
                spans += parse_pdf_spans(raw, child_id)
                payloads += pdf_media_payloads(raw, child_id)
            elif form == "docx":
                from .docxparse import docx_media_payloads

                spans += parse_docx_spans(raw, child_id)
                payloads += docx_media_payloads(raw, child_id)
            elif form == "rfc822" and depth < _MAX_DEPTH:
                sub = p.get_payload(0) if p.is_multipart() else None
                sub_bytes = bytes(sub) if sub is not None else raw
                s2, p2 = _parse(sub_bytes, child_id, depth + 1)
                spans += s2
                payloads += p2
            elif form == "text":
                spans += _plain_spans(_decode_text(p))
        except Exception:
            # a corrupt attachment doesn't sink the mail body: the
            # container-level fallback accounting is per DOCUMENT, so
            # signal with a marker page instead of dropping the doc.
            # The marker numbers itself as the NEXT page of the running
            # stream (r7 ADVICE fix: the old hardcoded '=== PAGE 1 ==='
            # masqueraded as a duplicate first page mid-stream).
            n_pages = 1 + sum(1 for s in spans if s["kind"] == "page_break")
            spans.append({"kind": "page_break",
                          "text": f"=== PAGE {n_pages} ===",
                          "media_ref": "", "offset": 0})

    for i, s in enumerate(spans):  # re-sequence the concatenated stream
        s["offset"] = i
    return spans, payloads


def parse_mime_spans(data: bytes, doc_id: str) -> list[dict]:
    """MHTML / EML bytes → ordered (kind, text, media_ref, offset)
    spans in the corpus span grammar."""
    return _parse(data, doc_id)[0]


def mime_media_payloads(data: bytes, doc_id: str) -> list[dict]:
    """(media_ref, payload, filter, params) per placed image and per
    attachment image, refs aligned with parse_mime_spans (one shared
    traversal)."""
    return _parse(data, doc_id)[1]


_HDR_TOKENS = (b"mime-version:", b"content-type: multipart/",
               b"content-type:multipart/")


def looks_like_mime(content: bytes) -> bool:
    """Header-shaped leading bytes + a MIME structural header in the
    header block. An HTML page QUOTING 'MIME-Version:' starts with a
    tag, not a header line, so it never matches."""
    head = content[:4096]
    if head[:5] == b"From " and b"\n" in head:
        head = head.split(b"\n", 1)[1]
    line = head.lstrip(b"\r\n")[:256]
    colon = line.find(b":")
    if colon <= 0 or not line[:colon].replace(b"-", b"").isalnum():
        return False
    blank = head.find(b"\r\n\r\n")
    if blank < 0:
        blank = head.find(b"\n\n")
    hdr_block = head[: blank if blank > 0 else len(head)].lower()
    return any(t in hdr_block for t in _HDR_TOKENS)


# ---------------------------------------------------------------------------
# fixture writer


def build_mhtml(html: str | None = None,
                plain: str | None = None,
                images: dict[str, bytes] | None = None,
                cids: dict[str, bytes] | None = None,
                attachments: list[tuple[str, bytes]] | None = None,
                base: str = "https://page.test/",
                subject: str = "Saved page",
                subtype: str = "related",
                charset: str = "utf-8",
                boundary: str = "----=_spark-graft-fixture") -> bytes:
    """Deterministic MHTML/EML fixture writer. ``images``: absolute or
    base-relative URL → payload stored under Content-Location;
    ``cids``: Content-ID → payload (mail-style inline images);
    ``attachments``: (filename, bytes) document parts. ``html``
    becomes a quoted-printable text/html root at ``base``; ``plain``
    a text/plain root."""
    import base64
    import quopri

    b = boundary
    lines: list[bytes] = [
        b"From: fixtures <fixtures@spark-graft.test>",
        b"Subject: " + subject.encode(),
        b"Date: Mon, 01 Jan 2026 00:00:00 +0000",
        b"MIME-Version: 1.0",
        (f'Content-Type: multipart/{subtype}; type="text/html"; '
         f'boundary="{b}"').encode(),
        b"",
    ]

    def part(headers: list[bytes], body: bytes):
        lines.append(b"--" + b.encode())
        lines.extend(headers)
        lines.append(b"")
        lines.append(body)

    if html is not None:
        part([f"Content-Type: text/html; charset={charset}".encode(),
              b"Content-Transfer-Encoding: quoted-printable",
              b"Content-Location: " + base.encode()],
             quopri.encodestring(html.encode(charset)))
    if plain is not None:
        part([f"Content-Type: text/plain; charset={charset}".encode(),
              b"Content-Transfer-Encoding: quoted-printable"],
             quopri.encodestring(plain.encode(charset)))
    for url, payload in (images or {}).items():
        part([b"Content-Type: image/png",
              b"Content-Transfer-Encoding: base64",
              b"Content-Location: " + urljoin(base, url).encode()],
             base64.encodebytes(payload))
    for cid, payload in (cids or {}).items():
        part([b"Content-Type: image/png",
              b"Content-Transfer-Encoding: base64",
              b"Content-ID: <" + cid.encode() + b">"],
             base64.encodebytes(payload))
    for fname, payload in (attachments or []):
        ctype = (b"application/pdf" if fname.endswith(".pdf")
                 else b"application/octet-stream")
        part([b"Content-Type: " + ctype,
              b"Content-Transfer-Encoding: base64",
              b'Content-Disposition: attachment; filename="'
              + fname.encode() + b'"'],
             base64.encodebytes(payload))
    lines.append(b"--" + b.encode() + b"--")
    lines.append(b"")
    return b"\r\n".join(lines)
