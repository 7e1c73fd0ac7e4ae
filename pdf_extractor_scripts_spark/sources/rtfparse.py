"""Pure-stdlib RTF parsing (the Microsoft RTF 1.9 spec is public).

The legacy office format invoices and purchase orders shipped in for
two decades — a real corpus's office long tail is full of it. RTF is
a flat token stream: groups ``{}``, control words ``\\word<param>``,
control symbols, and text runs; no zip, no XML.

Mapping to the corpus span grammar: ``\\par`` ends a paragraph (one
text span each), ``\\page``/``\\sect`` advance the ``=== PAGE N ===``
marker, ``\\cell``/``\\row`` apply the row-coherence rule (cells of
one table row merge into one span, rows separate — same as every
other container here). Destination groups that are not document text
(``\\fonttbl``, ``\\colortbl``, ``\\stylesheet``, ``\\info``,
``\\pict``, ``\\header``/``\\footer`` — the page chrome exclusion —
and every ``{\\*...}`` optional destination) are skipped wholesale.
Encodings: ``\\'hh`` hex escapes decode per the declared
``\\ansicpg`` code page (default windows-1252), ``\\uN`` unicode
escapes honor the ``\\ucN`` fallback-byte skip count, and ``\\binN``
raw-binary runs are skipped by length so binary payloads can't be
mistaken for tokens.
"""

from __future__ import annotations

import re


class RtfError(ValueError):
    """Raised for bytes that are not parseable RTF."""


# destinations whose content is never document text; header/footer
# are the PAGE CHROME the other containers exclude structurally
_SKIP_DESTS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "themedata", "colorschememapping", "latentstyles", "datastore",
    "listtable", "listoverridetable", "revtbl", "xmlnstbl",
    "generator", "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "ftnsep", "ftnsepc", "aftnsep",
    "aftnsepc", "deleted", "pntext", "fldinst", "bkmkstart", "bkmkend",
}

_CW = re.compile(rb"\\([a-zA-Z]{1,32})(-?\d{1,10})? ?")


def parse_rtf_spans(data: bytes, doc_id: str) -> list[dict]:
    """RTF bytes → ordered (kind, text, media_ref, offset) spans."""
    if not data.lstrip()[:5].startswith(b"{\\rtf"):
        raise RtfError("not an RTF document")

    codepage = "cp1252"
    spans: list[dict] = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                          "media_ref": "", "offset": 0}]
    off = 1
    page = 1
    parts: list[str] = []
    # group stack entries: (skipping, uc_count)
    stack: list[tuple[bool, int]] = []
    skipping = False
    uc = 1
    pending_uc_skip = 0  # bytes to swallow after a \uN escape
    in_table_row = False

    def flush():
        nonlocal off
        text = " ".join("".join(parts).split())
        # Word writes astral chars (emoji) as \uN UTF-16 surrogate
        # PAIRS; combine them (and replace lone surrogates) — an
        # unpaired surrogate in a Python str crashes the whole Arrow
        # batch downstream, not just this document
        text = text.encode("utf-16-le", "surrogatepass").decode(
            "utf-16-le", "replace")
        if text:
            spans.append({"kind": "text", "text": text,
                          "media_ref": "", "offset": off})
            off += 1
        parts.clear()

    def page_break():
        nonlocal off, page
        flush()
        page += 1
        spans.append({"kind": "page_break", "text": f"=== PAGE {page} ===",
                      "media_ref": "", "offset": off})
        off += 1

    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0x7B:  # {
            stack.append((skipping, uc))
            i += 1
            # {\* ...}: optional destination — skip unless known text
            if data[i:i + 2] == b"\\*":
                skipping = True
                i += 2
            continue
        if b == 0x7D:  # }
            if stack:
                skipping, uc = stack.pop()
            i += 1
            continue
        if b == 0x5C:  # backslash
            nxt = data[i + 1:i + 2]
            if nxt == b"'":
                raw = data[i + 2:i + 4]
                i += 4
                if pending_uc_skip > 0:
                    pending_uc_skip -= 1
                    continue
                if not skipping:
                    try:
                        parts.append(bytes.fromhex(raw.decode("ascii"))
                                     .decode(codepage, errors="replace"))
                    except ValueError:
                        raise RtfError(f"bad hex escape at byte {i - 4}")
                continue
            if nxt in (b"\\", b"{", b"}"):
                i += 2
                if not skipping:
                    parts.append(nxt.decode("ascii"))
                continue
            if nxt == b"~":
                i += 2
                if not skipping:
                    parts.append(" ")
                continue
            if nxt in (b"\r", b"\n"):  # \<newline> ≡ \par
                i += 2
                if not skipping:
                    flush()
                continue
            m = _CW.match(data, i)
            if not m:
                i += 2  # unknown control symbol: ignore
                continue
            word = m.group(1).decode("ascii")
            param = int(m.group(2)) if m.group(2) else None
            i = m.end()
            if word == "bin":
                i += max(0, param or 0)  # raw binary: skip by length
                continue
            if word == "u":
                cp = param if param is not None else 0
                if cp < 0:
                    cp += 65536
                if not skipping:
                    parts.append(chr(cp))
                pending_uc_skip = uc
                continue
            if word == "uc":
                uc = max(0, param or 0)
                continue
            if word == "ansicpg" and param:
                try:
                    codepage = f"cp{param}"
                    "x".encode().decode(codepage)
                except LookupError:
                    codepage = "cp1252"
                continue
            if word in _SKIP_DESTS:
                skipping = True
                continue
            if skipping:
                continue
            if word == "par":
                if in_table_row:
                    parts.append(" ")
                else:
                    flush()
            elif word in ("page", "sect"):
                page_break()
            elif word in ("line", "tab"):
                parts.append(" ")
            elif word == "emdash":
                parts.append("—")
            elif word == "endash":
                parts.append("–")
            elif word in ("lquote", "rquote"):
                parts.append("'")
            elif word in ("ldblquote", "rdblquote"):
                parts.append('"')
            elif word == "bullet":
                parts.append("•")
            elif word == "cell":
                parts.append(" ")  # cell boundary within the row
            elif word == "row":
                in_table_row = False
                flush()  # the row-coherence rule: one span per row
            elif word in ("trowd", "intbl"):
                in_table_row = True
            # all other control words are formatting: ignored
            continue
        # plain text run up to the next special byte
        j = i
        while j < n and data[j] not in (0x5C, 0x7B, 0x7D):
            j += 1
        run = data[i:j]
        i = j
        if pending_uc_skip > 0:
            drop = min(pending_uc_skip, len(run))
            run = run[drop:]
            pending_uc_skip -= drop
        if not skipping and run:
            parts.append(run.replace(b"\r", b"").replace(b"\n", b"")
                         .decode(codepage, errors="replace"))
    flush()
    return spans


# ---------------------------------------------------------------------------
# fixture writer


def build_rtf(paragraphs: list[str],
              tables: dict | None = None,
              page_breaks: tuple = (),
              header: str | None = None,
              unicode_escapes: bool = False,
              codepage: int | None = None) -> bytes:
    """Deterministic RTF fixture writer. ``tables``: paragraph index →
    rows (lists of cell strings) emitted as \\trowd/\\cell/\\row after
    it; ``page_breaks``: indices followed by \\page; ``header`` is a
    {\\header ...} group the parse must exclude; ``unicode_escapes``
    writes non-ASCII as \\uN with a \\uc1 fallback; ``codepage`` adds
    \\ansicpg and encodes text in that code page."""
    tables = tables or {}
    cp = f"cp{codepage}" if codepage else "cp1252"

    def enc(s: str) -> str:
        out = []
        for ch in s:
            o = ord(ch)
            if ch in "\\{}":
                out.append("\\" + ch)
            elif o < 128:
                out.append(ch)
            elif unicode_escapes:
                out.append(_u_escape(o))
            else:
                try:
                    out.append("\\'" + ch.encode(cp).hex())
                except UnicodeEncodeError:
                    out.append(_u_escape(o))
        return "".join(out)

    def _u_escape(o: int) -> str:
        # \uN params are signed 16-bit; astral chars are written as a
        # UTF-16 surrogate PAIR of \uN escapes (how Word does it)
        if o > 0xFFFF:
            units = chr(o).encode("utf-16-be")
            return "".join(
                _u_escape(int.from_bytes(units[i:i + 2], "big"))
                for i in range(0, 4, 2))
        v = o if o < 32768 else o - 65536
        return f"\\u{v}?"

    body = ["{\\rtf1\\ansi"]
    if codepage:
        body.append(f"\\ansicpg{codepage}")
    body.append("\\uc1{\\fonttbl{\\f0 Times New Roman;}}")
    body.append("{\\info{\\author fixture}}")
    if header is not None:
        body.append("{\\header " + enc(header) + "\\par}")
    for i, p in enumerate(paragraphs):
        body.append(enc(p) + "\\par\n")
        if i in tables:
            for row in tables[i]:
                body.append("\\trowd ")
                for c in row:
                    body.append(enc(c) + "\\cell ")
                body.append("\\row\n")
        if i in page_breaks:
            body.append("\\page ")
    body.append("}")
    return "".join(body).encode("ascii", errors="strict")
