"""Pure-stdlib HTML main-content extraction (boilerplate strip).

The north-rule extraction pipeline covers interleaved text+media
documents in both wild container forms. PDF is `sources/pdfparse.py`;
this module is the HTML half: parse with `html.parser`, fold the DOM
into block-level text units carrying shallow features (word count,
link density, semantic-ancestor flags), classify each block
content-vs-boilerplate, and emit the SAME span grammar the PDF parse
emits — (kind, text, media_ref, offset): one ``page_break``, then
``text`` spans per retained block and ``media`` spans for images, in
document order. Downstream (run_pipeline, dedup, curation) consumes
both container forms identically.

The block classifier is the published shallow-text-features decision
tree (Kohlschütter, Fankhauser, Nejdl: "Boilerplate Detection using
Shallow Text Features", WSDM 2010 — the NumWords/LinkDensity rule set
also shipped as boilerpipe's NumWordsRulesClassifier; public
knowledge). DOM heuristics layered on top, each documented at its
implementation: HTML5 semantic containers (<nav>/<aside>/<header>/
<footer>) force boilerplate, headings attach to following content,
image-only blocks survive next to content (the figure rule), and
tables cohere — cells merge into one block per row and a table's rows
classify together (an HTML invoice's line-item grid survives whole;
a legacy nav-layout link table never does). Byte decoding honors the
page's declared charset (BOM, then `charset=` in the head, then
UTF-8 — the windows-1252 legacy web decodes correctly).

Reference context: the reference repo extracts PDFs only; the HTML
half exists because the north rule's corpus is a web-scale interleaved
crawl (HTML boilerplate strip + DOM heuristics named alongside the
PDF/layout parse).

Scale note: html.parser is a single pass over the byte stream with an
O(depth) tag stack — per-document cost is linear and runs inside the
same zero-shuffle Arrow map stage as the PDF parse; the classifier is
O(blocks). No quadratic DOM walks, no regex backtracking.
"""

from __future__ import annotations

from html.parser import HTMLParser

# tags whose contents are never document text
_SKIP_CONTENT = {"script", "style", "noscript", "template", "svg",
                 "head", "title", "iframe", "object", "embed"}
# block-level boundaries: opening or closing one flushes the current block.
# NOTE: td/th are NOT here — inside a table, cells merge into one block
# per ROW (tr is the boundary) so the classifier sees whole rows, not
# word-starved fragments; see the table handling in _BlockParser.
_BLOCK_TAGS = frozenset({
    "p", "div", "section", "article", "main", "header", "footer",
    "aside", "nav", "ul", "ol", "li", "dl", "dt", "dd", "table",
    "thead", "tbody", "tr", "blockquote", "pre", "figure",
    "figcaption", "form", "fieldset", "hr", "h1", "h2", "h3", "h4",
    "h5", "h6", "body", "html"})
# HTML5 semantic containers that are boilerplate BY ROLE (DOM heuristic:
# the crawl-corpus analog of the reference's repetitive-header filter)
_CHROME_TAGS = frozenset({"nav", "aside", "header", "footer"})
# WAI-ARIA landmark roles equivalent to the chrome containers — the
# div-soup web declares its chrome with role attributes
_CHROME_ROLES = frozenset({"navigation", "banner", "contentinfo",
                           "complementary", "search"})
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# void elements never get on the tag stack
_VOID = frozenset({"area", "base", "br", "col", "embed", "hr", "img",
                   "input", "link", "meta", "param", "source", "track",
                   "wbr"})


class _Block:
    __slots__ = ("words", "chars", "link_chars", "text_parts",
                 "in_chrome", "heading", "images", "table", "in_main")

    def __init__(self, in_chrome: bool, heading: bool, table: int = 0,
                 in_main: bool = False):
        self.words = 0
        self.chars = 0
        self.link_chars = 0
        self.text_parts: list[str] = []
        self.in_chrome = in_chrome
        self.heading = heading
        self.table = table  # innermost enclosing table id, 0 = none
        self.in_main = in_main  # inside <main> / role="main"
        self.images: list[str] = []  # src attributes in block order

    @property
    def link_density(self) -> float:
        return self.link_chars / self.chars if self.chars else 0.0

    def text(self) -> str:
        return " ".join(" ".join(self.text_parts).split())


# per-stack-entry flag bits: what this OPEN tag contributed at push
# time, so the pop path undoes exactly what the push did (attribute-
# derived roles included)
_F_SKIP, _F_ANCHOR, _F_CHROME, _F_HEAD, _F_MAIN = 1, 2, 4, 8, 16


def _is_hidden(attrs) -> bool:
    """The hidden-content DOM heuristics: the `hidden` attribute,
    aria-hidden='true', and inline display:none / visibility:hidden —
    text a browser never renders is not document content."""
    for k, v in attrs:
        if k == "hidden":
            return True
        if k == "aria-hidden" and (v or "").strip().lower() == "true":
            return True
        if k == "style" and v:
            css = v.replace(" ", "").lower()
            if "display:none" in css or "visibility:hidden" in css:
                return True
    return False


class _BlockParser(HTMLParser):
    """One pass: DOM → ordered `_Block` list with shallow features."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.stack: list[tuple[str, int]] = []  # (tag, flag bits)
        self.skip_depth = 0     # inside script/style/head/hidden/…
        self.anchor_depth = 0   # inside <a>
        self.chrome_depth = 0   # inside nav/aside/header/footer/role-chrome
        self.heading_depth = 0
        self.main_depth = 0     # inside <main> / role="main"
        self.table_seq = 0      # table ids, 1-based
        self.table_stack: list[int] = []  # open-table ids (innermost last)
        self.blocks: list[_Block] = []
        self.cur: _Block | None = None

    def _flush(self) -> None:
        if self.cur is not None and (self.cur.text_parts
                                     or self.cur.images):
            self.blocks.append(self.cur)
        self.cur = None

    def _ensure(self) -> _Block:
        if self.cur is None:
            self.cur = _Block(self.chrome_depth > 0,
                              self.heading_depth > 0,
                              self.table_stack[-1]
                              if self.table_stack else 0,
                              self.main_depth > 0)
        return self.cur

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag == "img":
            if not self.skip_depth and not _is_hidden(attrs):
                src = next((v for k, v in attrs if k == "src" and v), "")
                self._ensure().images.append(src)
            return
        if tag == "br":
            self._flush()
            return
        if tag in _VOID:
            return
        role = next((v for k, v in attrs if k == "role" and v), "")
        role = role.strip().lower()
        flags = 0
        if tag in _SKIP_CONTENT or _is_hidden(attrs):
            flags |= _F_SKIP
            self.skip_depth += 1
        if tag == "a":
            flags |= _F_ANCHOR
            self.anchor_depth += 1
        if tag in _CHROME_TAGS or role in _CHROME_ROLES:
            flags |= _F_CHROME
            self.chrome_depth += 1
        if tag in _HEADINGS:
            flags |= _F_HEAD
            self.heading_depth += 1
        if tag == "main" or role == "main":
            flags |= _F_MAIN
            self.main_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "table":
            self.table_seq += 1
            self.table_stack.append(self.table_seq)
        self.stack.append((tag, flags))

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in _VOID:
            return
        # pop to the matching open tag if present (tolerates the wild's
        # unclosed <p>/<li>); undo the flags of what we pop
        if any(t == tag for t, _ in self.stack):
            while self.stack:
                top, fl = self.stack.pop()
                if fl & _F_SKIP:
                    self.skip_depth = max(0, self.skip_depth - 1)
                if fl & _F_ANCHOR:
                    self.anchor_depth = max(0, self.anchor_depth - 1)
                if fl & _F_CHROME:
                    self.chrome_depth = max(0, self.chrome_depth - 1)
                if fl & _F_HEAD:
                    self.heading_depth = max(0, self.heading_depth - 1)
                if fl & _F_MAIN:
                    self.main_depth = max(0, self.main_depth - 1)
                if top == "table" and self.table_stack:
                    self._flush()
                    self.table_stack.pop()
                if top == tag:
                    break
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self.skip_depth:
            return
        stripped = " ".join(data.split())
        if not stripped:
            return
        b = self._ensure()
        b.text_parts.append(stripped)
        b.chars += len(stripped)
        b.words += len(stripped.split())
        if self.anchor_depth:
            b.link_chars += len(stripped)

    def close(self):
        super().close()
        self._flush()


def _classify(blocks: list[_Block]) -> list[bool]:
    """Content flags per block: the WSDM-2010 NumWords/LinkDensity
    decision rules over (prev, curr, next) shallow features, with the
    DOM-role override (semantic chrome is never content) applied first
    and the heading-attachment pass applied after.

    Two documented deviations from the published tree (which scores
    neighbour support on raw word counts):
    - a neighbour that is itself link-heavy (density > 1/3) lends NO
      word support — a 70-word link farm must not rescue the short
      block sandwiched against it;
    - previous-block support only rescues a block with more than 4
      words of its own, so trailing crumbs ("back to top", share
      chips) after real content don't survive on adjacency alone."""
    n = len(blocks)
    flags = [False] * n

    # main-landmark scoping (DOM heuristic): when the page declares a
    # <main> / role="main" landmark, everything outside it is chrome by
    # the author's own statement — the strongest signal the wild offers.
    # Pages without the landmark (most of the legacy web) are untouched.
    if any(b.in_main for b in blocks):
        for b in blocks:
            if not b.in_main:
                b.in_chrome = True

    def words(i: int) -> int:
        return blocks[i].words if 0 <= i < n else 0

    def ld(i: int) -> float:
        return blocks[i].link_density if 0 <= i < n else 0.0

    def support(i: int) -> int:
        return words(i) if ld(i) <= 0.333333 else 0

    for i, b in enumerate(blocks):
        if b.in_chrome:
            continue  # DOM role wins: nav/aside/header/footer chrome
        if ld(i) > 0.333333:
            continue
        if ld(i - 1) <= 0.555556:
            if b.words > 16 or support(i + 1) > 15 or (
                    b.words > 4 and support(i - 1) > 4):
                flags[i] = True
        else:
            if b.words > 40 or support(i + 1) > 17:
                flags[i] = True
    # heading attachment: a low-word heading (the rules drop short
    # blocks) is content when it introduces content — look ahead past
    # other headings
    for i, b in enumerate(blocks):
        if b.heading and not flags[i] and not b.in_chrome \
                and b.link_density <= 0.333333:
            j = i + 1
            while j < n and blocks[j].heading:
                j += 1
            if j < n and flags[j]:
                flags[i] = True
    # figure rule: an image-only block (no words) survives next to
    # content — dropped rules-wise, but it is the interleaved-media
    # payload the corpus exists for
    for i, b in enumerate(blocks):
        if b.images and not b.words and not flags[i] and not b.in_chrome:
            if (i > 0 and flags[i - 1]) or (i + 1 < n and flags[i + 1]):
                flags[i] = True
    # table cohesion: a table is one logical unit (an invoice's line-item
    # grid) whose rows are individually word-starved — rows classify
    # TOGETHER. A table with any content row keeps every row; a fully
    # dropped table is promoted when it sits next to content (the figure
    # rule for tables), unless it is a link grid (the legacy nav-layout
    # table, aggregate link density > 1/3).
    tbl_rows: dict[int, list[int]] = {}
    for i, b in enumerate(blocks):
        if b.table:
            tbl_rows.setdefault(b.table, []).append(i)
    for idxs in tbl_rows.values():
        if not any(flags[i] for i in idxs):
            chars = sum(blocks[i].chars for i in idxs) or 1
            ldens = sum(blocks[i].link_chars for i in idxs) / chars
            lo, hi = idxs[0] - 1, idxs[-1] + 1
            if ldens > 0.333333 or not (
                    (lo >= 0 and flags[lo]) or (hi < n and flags[hi])):
                continue
        for i in idxs:
            if not blocks[i].in_chrome \
                    and blocks[i].link_density <= 0.333333:
                flags[i] = True
    return flags


def _decode_html(data: bytes, charset: str | None = None) -> str:
    """Bytes → str honoring the page's declared encoding in the WHATWG
    sniffing order: a UTF BOM wins, else the transport-layer ``charset``
    (an HTTP Content-Type parameter — what a WARC crawl delivers), else
    the first in-document `charset=` declaration in the head (the
    `<meta charset>` / http-equiv forms — the windows-1252 legacy web),
    else UTF-8; always errors='replace' so garbage never raises."""
    import codecs
    import re as _re

    if data.startswith(codecs.BOM_UTF8):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith((codecs.BOM_UTF16_LE, codecs.BOM_UTF16_BE)):
        return data.decode("utf-16", errors="replace")
    if charset:
        try:
            return data.decode(charset, errors="replace")
        except LookupError:
            pass  # bogus transport label → in-document sniff
    m = _re.search(rb"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", data[:2048])
    if m:
        try:
            return data.decode(m.group(1).decode("ascii"),
                               errors="replace")
        except LookupError:
            pass  # bogus label → UTF-8 fallback
    return data.decode("utf-8", errors="replace")


def charset_of(content_type: str | None) -> str | None:
    """The charset parameter of an HTTP Content-Type value, or None —
    the transport-layer encoding hint ranged second in the WHATWG
    sniffing order (after the BOM, before in-document meta)."""
    if not content_type:
        return None
    import re as _re

    m = _re.search(r"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", content_type)
    return m.group(1) if m else None


def extract_main_blocks(data: bytes | str,
                        charset: str | None = None,
                        classify: bool = True) -> list[dict]:
    """HTML → ordered retained blocks: [{"text", "images", "heading"}].
    The debugging/analysis surface; `parse_html_spans` is the span
    emitter over it. ``charset``: transport-layer encoding hint.
    ``classify=False`` keeps every non-empty block (script/style/
    hidden content is still excluded by the parser itself) — the right
    model for chrome-free documents like EPUB book chapters, where the
    web classifier's word-count rules would drop short dialogue
    lines."""
    if isinstance(data, bytes):
        text = _decode_html(data, charset=charset)
    else:
        text = data
    parser = _BlockParser()
    parser.feed(text)
    parser.close()
    flags = _classify(parser.blocks) if classify \
        else [bool(b.text() or b.images) for b in parser.blocks]
    return [
        {"text": b.text(), "images": list(b.images), "heading": b.heading}
        for b, keep in zip(parser.blocks, flags) if keep
    ]


def parse_html_spans(data: bytes | str, doc_id: str,
                     charset: str | None = None) -> list[dict]:
    """HTML bytes → ordered (kind, text, media_ref, offset) spans in the
    corpus span grammar — the container twin of ``parse_pdf_spans``:
    one page_break (an HTML document is one page), a text span per
    retained main-content block, a media span per image in a retained
    block (media_ref = the src attribute: the crawl-corpus media
    reference). ``charset``: transport-layer encoding hint (the HTTP
    Content-Type charset a WARC crawl delivers)."""
    spans: list[dict] = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                          "media_ref": "", "offset": 0}]
    off = 1
    for blk in extract_main_blocks(data, charset=charset):
        if blk["text"]:
            spans.append({"kind": "text", "text": blk["text"],
                          "media_ref": "", "offset": off})
            off += 1
        for src in blk["images"]:
            spans.append({"kind": "media", "text": "",
                          "media_ref": src or f"img://{doc_id}/1/{off}",
                          "offset": off})
            off += 1
    return spans


def build_html(paragraphs: list[str], title: str = "Page",
               nav_items: tuple = ("Home", "Products", "About"),
               sidebar_items: tuple = ("Deals", "Newsletter"),
               footer: str = "© 2026 Example Corp — All rights reserved",
               images: dict | None = None,
               headings: dict | None = None,
               messy: bool = False) -> bytes:
    """Deterministic fixture writer: a realistic page with chrome
    (nav/sidebar/footer boilerplate) around ``paragraphs`` of main
    content. ``images`` maps paragraph index → src placed after that
    paragraph; ``headings`` maps paragraph index → heading text before
    it. ``messy=True`` leaves <p>/<li> unclosed (the wild's dominant
    malformation)."""
    images = images or {}
    headings = headings or {}
    pclose = "" if messy else "</p>"
    liclose = "" if messy else "</li>"
    parts = [
        "<!DOCTYPE html><html><head><title>", title,
        "</title><style>body{margin:0}</style>",
        "<script>var t=1;</script></head><body>",
        "<header><h1>", title, "</h1><nav><ul>",
    ]
    for it in nav_items:
        parts += ["<li><a href='/", it.lower(), "'>", it, "</a>", liclose]
    parts += ["</ul></nav></header><main><article>"]
    for i, para in enumerate(paragraphs):
        if i in headings:
            parts += ["<h2>", headings[i], "</h2>"]
        parts += ["<p>", para, pclose]
        if i in images:
            parts += ["<figure><img src='", images[i],
                      "' alt='fig'></figure>"]
    parts += ["</article></main><aside><ul>"]
    for it in sidebar_items:
        parts += ["<li><a href='/", it.lower(), "'>", it, "</a>", liclose]
    parts += ["</ul></aside><footer><p>", footer, pclose,
              "</footer></body></html>"]
    return "".join(parts).encode("utf-8")
