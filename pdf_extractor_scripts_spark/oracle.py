"""Pure-Python single-document oracle: the reference-semantics extraction
spec, implemented doc-at-a-time with no Spark anywhere.

The engine (operators/ + plans/pipeline.py) must reproduce this oracle's
output under **span-sequence equality on (kind, text, media_ref, order)** for
every document — the validation contract from BASELINE.json. Tests build the
synthetic corpus (fixtures.py), run both, and diff.

Semantics follow the reference pipeline (all citations are reference
file:line):

* vendor detection        vendor_detector.py:88-221
* routing / OCR gate      pdf_text_detector.py:77-159, 633-688
* text assembly + markers text_pdf_processor.py:662-670
* page-header filtering   ceco_processor.py:376-426
* field pattern banks     ceco_processor.py:86-205, steelcraft_processor.py:87-130,
                          schlage_processor.py:82-130, text_pdf_processor.py:258-348
* CECO two-pass items     ceco_processor.py:428-600 (BO folding
                          text_pdf_processor.py:2405-2414)
* Steelcraft items        steelcraft_processor.py:447-712
* Schlage items           schlage_processor.py:1385-1716 (split-waybill rejoin
                          :1420-1438, surcharge synthesis :1505-1553, derived
                          totals :1908-1920)
* hybrid merge            fallback_processor.py:518-620
* ordering / dedup        text_pdf_processor.py:1718-1735, 2600-2613
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import config as C

SECTION_TEXT_FIRST = ("header", "vendor")  # fallback_processor.py:560-575
# fallback_processor.py:536-544 — OCR wins only totals and shipping_info;
# payment_terms is TEXT-first (audit §11 corrected the r1/r2 reading)
SECTION_OCR_FIRST = ("totals", "shipping")

_HEADER_FILTER_RES = [re.compile(p) for p in C.PAGE_HEADER_FILTERS]


@dataclass(frozen=True)
class OutSpan:
    kind: str
    text: str
    media_ref: str
    order: int

    def as_tuple(self):
        return (self.kind, self.text, self.media_ref, self.order)


# ---------------------------------------------------------------------------
# Detection + routing
# ---------------------------------------------------------------------------
def detect_vendor(doc_id: str, all_text: str) -> tuple[str, float]:
    # case-insensitive matching throughout, like the reference
    # (vendor_detector.py:98-104 IGNORECASE filename, :121-141 IGNORECASE
    # content patterns + lowercased keywords)
    file_vendor, file_conf = None, 0.0
    for vendor, pats in C.FILENAME_PATTERNS.items():
        if any(re.search(p, doc_id, re.IGNORECASE) for p in pats):
            file_vendor, file_conf = vendor, 0.8  # vendor_detector.py:95-105
            break

    lower_text = all_text.lower()
    best_vendor, best_score = None, 0.0
    for vendor in C.CONTENT_PATTERNS:
        hits = sum(
            1 for p in C.CONTENT_PATTERNS[vendor]
            if re.search(p, all_text, re.IGNORECASE)
        )
        kws = sum(1 for k in C.CONTENT_KEYWORDS[vendor] if k.lower() in lower_text)
        score = min(0.3 * hits + 0.1 * kws, 1.0)  # vendor_detector.py:120-143
        if score > best_score:
            best_vendor, best_score = vendor, score

    # combine: content >=0.6 wins, else filename >=0.5, else low-conf content
    # (vendor_detector.py:155-221); agreement → min(file + content, 1.0)
    # (vendor_detector.py:195-198).
    if best_score >= 0.6:
        vendor, conf = best_vendor, best_score
    elif file_conf >= 0.5 and file_vendor:
        vendor, conf = file_vendor, file_conf
    elif best_score > 0:
        vendor, conf = best_vendor, best_score
    else:
        vendor, conf = "generic", 0.0
    if file_vendor and best_vendor == file_vendor and vendor != "generic":
        conf = min(file_conf + best_score, 1.0)
    return vendor, round(conf, 4)


def _quality_score(text: str) -> float:
    """P6 quality score (_validate_text_quality, pdf_text_detector.py:
    215-328): mean of four indicators — character distribution, word
    structure, invoice patterns, repetitive-char OCR artifacts — with the
    <10-stripped-chars short-circuit. The sum is left-associated (i1+i2+
    i3+i4)/4 in BOTH our implementations so engine and oracle share the
    exact float trajectory (the reference's statistics.mean differs by at
    most an ulp, which no threshold here can observe)."""
    if not text or len(text.strip()) < 10:
        return 0.0
    total = len(text)
    alpha = sum(1 for c in text if c.isalpha())
    ar = alpha / total
    if 0.3 <= ar <= 0.8:
        i1 = 0.8
    elif 0.1 <= ar < 0.3 or 0.8 < ar <= 0.95:
        i1 = 0.5
    else:
        i1 = 0.1
    words = text.split()
    if words:
        awl = sum(len(w) for w in words) / len(words)
        vr = sum(1 for w in words if 2 <= len(w) <= 20 and w.isalnum()) / len(words)
        if 3 <= awl <= 8 and vr >= 0.6:
            i2 = 0.9
        elif 2 <= awl <= 12 and vr >= 0.4:
            i2 = 0.6
        else:
            i2 = 0.3
    else:
        i2 = 0.1
    hits = sum(
        1 for p in C.P6_INVOICE_PATTERNS if re.search(p, text, re.IGNORECASE)
    )
    i3 = min(hits / len(C.P6_INVOICE_PATTERNS), 1.0)
    reps = len(re.findall(r"(.)\1{4,}", text))
    rr = reps / total
    if rr < 0.05:
        i4 = 0.8
    elif rr < 0.15:
        i4 = 0.5
    else:
        i4 = 0.2
    return (i1 + i2 + i3 + i4) / 4


def route_document(vendor: str, spans: list[dict]) -> str:
    """P4/P5/P8 routing. Specialized vendors (ceco/steelcraft/schlage)
    keep the chars/ratio gates: the reference dispatches them to their
    vendor processors BEFORE the recommended method is consulted
    (fallback_processor.py:196-209), so the P8 cascade is advisory there
    and our text/hybrid/ocr split models the specialized processors' own
    behavior. Generic docs take the LIVE cascade (audit §20,
    pdf_text_detector.py:633-688): has_selectable_text uses the STRICT >
    char bound and the per-page character threshold (:352-371), the text
    route additionally requires the P6 quality score of the first-200-char
    detection sample to clear the vendor quality threshold, and a
    mixed-content majority of image pages forces the fallback route."""
    thr = C.TEXT_THRESHOLDS[vendor]
    n_pages = max(1, sum(1 for s in spans if s["kind"] == "page_break"))
    if vendor != "generic":
        n_text_chars = sum(len(s["text"]) for s in spans if s["kind"] == "text")
        pages_with_text: set[int] = set()
        page = 0
        for s in spans:
            if s["kind"] == "page_break":
                page += 1
            elif s["kind"] == "text":
                pages_with_text.add(page)
        ratio = len(pages_with_text) / n_pages
        if n_text_chars >= thr and ratio >= C.MIN_TEXT_RATIO[vendor]:
            return "text"
        if n_text_chars >= thr:
            return "hybrid"
        return "ocr"
    # generic: the live P8 cascade
    has_text, score, _tp4, tx, im, mixed = _generic_detection(spans)
    if has_text and score >= C.QUALITY_THRESHOLDS[vendor]:
        if mixed and im > tx:
            return "hybrid"  # text_with_ocr_fallback (:663-664)
        return "text"  # tier >= MEDIUM is subsumed by score >= threshold
    if has_text:
        return "hybrid"  # ocr_with_text_fallback (:672-674)
    return "ocr"


def _generic_detection(
    spans: list[dict],
) -> tuple[bool, float, int, int, int, bool]:
    """The detection tuple for the generic cascade: P4's pdfplumber triple
    (pdf_text_detector.py:345-371 — has_selectable_text over the STRICT
    char bound and the per-page-thresholded ratio; the 200-char sample's
    quality score) plus P7's page classification (:453-459; audit §24):
    a page with text AND images is HYBRID, a page with only text is a
    text page, and a page with NO qualifying text counts as an image page
    regardless of whether it has images; mixed_content_detected is true
    iff ANY hybrid page exists — NOT merely the coexistence of text pages
    and image pages. P8's image>text comparison uses the EXCLUSIVE
    text/image counts (hybrid pages in neither). Returns
    (has_text, score, tp4, text_pages, image_pages, mixed)."""
    thr = C.TEXT_THRESHOLDS["generic"]
    n_pages = max(1, sum(1 for s in spans if s["kind"] == "page_break"))
    page_lines: list[list[str]] = [[]]
    page_media: list[bool] = [False]
    pg = 0
    for s in spans:
        if s["kind"] == "page_break":
            pg += 1
            page_lines.append([])
            page_media.append(False)
        elif s["kind"] == "text":
            page_lines[pg].append(s["text"])
        elif s["kind"] == "media":
            page_media[pg] = True
    segs = [
        ("\n".join(ls).strip(), media)
        for ls, media in zip(page_lines, page_media)
    ]
    # P4's totals run over every segment (segment 0 — any pre-page-break
    # preamble — is empty in well-formed docs and contributes nothing);
    # P7's page classification covers only REAL pages, the segments after
    # each page_break (:407 iterates pdf.pages)
    total_text = "".join(t for t, _ in segs)
    tp4 = sum(1 for t, _ in segs if len(t) > thr)  # strict > (:352-355)
    ratio = tp4 / n_pages
    has_text = len(total_text) > thr and ratio >= C.MIN_TEXT_RATIO["generic"]
    score = _quality_score(total_text[:200])  # sample_text (:372)
    tx = im = hy = 0
    for t, media in segs[1:]:
        page_has_text = len(t) > thr
        if page_has_text and media:
            hy += 1
        elif page_has_text:
            tx += 1
        else:
            im += 1
    return has_text, score, tp4, tx, im, hy > 0


def generic_fb_primary(spans: list[dict]) -> str:
    """Which side a generic hybrid tries FIRST (audit §21): the
    mixed-majority branch is text_with_ocr_fallback (text first,
    pdf_text_detector.py:663-664); the low-quality branch is
    ocr_with_text_fallback (OCR first, :672-674)."""
    _, score, _, _, _, _ = _generic_detection(spans)
    return "text" if score >= C.QUALITY_THRESHOLDS["generic"] else "ocr"


def ocr_engine_conf01(spans: list[dict]) -> float:
    """The stub multi-OCR document confidence on the reference's 0-1
    scale (audit §21): the winning engine's constant / 100 when that
    engine produced any non-blank sidecar text, else 0."""
    if any(s["kind"] == "media_text" and s["text"].strip() for s in spans):
        return C.OCR_ENGINE_CONF["primary"] / 100.0
    if any(s["kind"] == "media_text_alt" and s["text"].strip() for s in spans):
        return C.OCR_ENGINE_CONF["secondary"] / 100.0
    return 0.0


def a4_ocr_confidence(ocr_text: str) -> float:
    """Stub A4 (fallback_processor.py:498-516): the mean page engine
    confidence — with the deterministic stub engines this is the primary
    engine's constant whenever any OCR content (a non-blank, non-marker
    line) exists, else 0.0 (no pages → no confidence)."""
    has = any(
        l.strip() and not re.match(r"^=== PAGE \d+ ===$", l)
        for l in ocr_text.split("\n")
    )
    return C.OCR_ENGINE_CONF["primary"] if has else 0.0


def assemble(spans: list[dict], text_kind: str) -> str:
    """Join page markers + the selected text kind in offset order
    (text_pdf_processor.py:662-670 page-marker concatenation)."""
    keep = ("page_break", text_kind)
    return "\n".join(s["text"] for s in spans if s["kind"] in keep)


# ---------------------------------------------------------------------------
# O3/O4/O5 — dual-engine OCR selection with near-tie line merge
# (image_pdf_processor.py:434-599)
# ---------------------------------------------------------------------------
def ocr_quality_score(text: str, confidence: float) -> float:
    """image_pdf_processor.py:482-538 — 40% confidence, 20% length, 25%
    invoice keywords, 10% numeric density, 5% quality indicators."""
    if not text.strip():
        return 0.0
    score = confidence * 0.4
    word_count = len(text.split())
    char_count = len(text.strip())
    score += min(100.0, word_count * 5.0 + char_count * 0.5) * 0.2
    kw = sum(1 for k in C.OCR_QUALITY_KEYWORDS if k in text.lower())
    score += min(100.0, kw * 10.0) * 0.25
    nums = len(re.findall(r"\d+\.?\d*", text))
    score += min(100.0, nums * 5.0) * 0.1
    ind = 0
    if re.search(r"\d{2,}", text):
        ind += 20
    if re.search(r"[A-Z]{2,}", text):
        ind += 20
    if re.search(r"\$\d+", text):
        ind += 30
    if re.search(r"\d{1,2}[/\-]\d{1,2}[/\-]\d{2,4}", text):
        ind += 30
    score += ind * 0.05
    return min(100.0, score)


def _ocr_line_score(line: str) -> int:
    """image_pdf_processor.py:574-599 — numbers*2 + keywords*3 + words."""
    nums = len(re.findall(r"\d+\.?\d*", line))
    kws = sum(1 for k in C.OCR_LINE_KEYWORDS if k in line.lower())
    return nums * 2 + kws * 3 + len(line.split())


def combine_ocr_results(text1: str, text2: str) -> str:
    """Near-tie line-by-line merge preferring invoice content
    (image_pdf_processor.py:540-572): longer result is the base; each base
    line is replaced by the aligned alt line iff the alt line scores
    strictly higher; base's tail (beyond alt's length) is kept."""
    lines1 = [l.strip() for l in text1.split("\n") if l.strip()]
    lines2 = [l.strip() for l in text2.split("\n") if l.strip()]
    base = lines1 if len(lines1) >= len(lines2) else lines2
    alt = lines2 if len(lines1) >= len(lines2) else lines1
    out = []
    for i, b in enumerate(base):
        if i < len(alt) and _ocr_line_score(alt[i]) > _ocr_line_score(b):
            out.append(alt[i])
        else:
            out.append(b)
    return "\n".join(out)


def select_engine_text(e1: str, e2: str, has1: bool, has2: bool) -> str:
    """Dual-engine selection over two assembled strings
    (image_pdf_processor.py:434-480): one engine blank → the other;
    near-tie (|Δscore| < 10) → line-by-line combine; else argmax (primary
    on tie). Shared by select_ocr_text, ocr_full_text, and the Arrow
    kernel's schlage O6 candidate (audit §21)."""
    if not has2:
        return e1
    if not has1:
        return e2
    s1 = ocr_quality_score(e1, C.OCR_ENGINE_CONF["primary"])
    s2 = ocr_quality_score(e2, C.OCR_ENGINE_CONF["secondary"])
    if abs(s1 - s2) < C.OCR_NEAR_TIE:
        return combine_ocr_results(e1, e2)
    if s2 > s1:
        return e2
    return e1


def ocr_full_text(spans: list[dict]) -> str:
    """All-pages stub-OCR assembly (audit §21): the reference's OCR
    candidates render EVERY page to an image (convert_from_path,
    image_pdf_processor.py:132-149; schlage_processor.py:434), so its OCR
    text contains the selectable pages' content too. With the
    deterministic stub engine, a text page's OCR is its text — so this is
    the dual-engine selection of select_ocr_text with the text spans
    passed through both engine assemblies."""
    has1 = any(s["kind"] == "media_text" and s["text"].strip() for s in spans)
    has2 = any(s["kind"] == "media_text_alt" and s["text"].strip() for s in spans)
    e1 = "\n".join(
        s["text"] for s in spans if s["kind"] in ("page_break", "text", "media_text")
    )
    e2 = "" if not has2 else "\n".join(
        s["text"] for s in spans
        if s["kind"] in ("page_break", "text", "media_text_alt")
    )
    return select_engine_text(e1, e2, has1, has2)


def _schlage_text_quality(text: str) -> float:
    """_calculate_text_quality (schlage_processor.py:395-427): char-class
    ratios + a 13-keyword score, weighted 0.3/0.2/0.2/0.3, scaled to
    0-100; under 10 stripped chars scores 0."""
    if not text or len(text.strip()) < 10:
        return 0.0
    total = len(text)
    alpha = sum(1 for c in text if c.isalpha())
    digit = sum(1 for c in text if c.isdigit())
    space = sum(1 for c in text if c.isspace())
    kw = sum(1 for k in C.SCHLAGE_O6_QUALITY_KEYWORDS if k in text.lower())
    kw_score = min(kw / len(C.SCHLAGE_O6_QUALITY_KEYWORDS), 1.0)
    score = (
        alpha / total * 0.3
        + digit / total * 0.2
        + (1 - space / total) * 0.2
        + kw_score * 0.3
    ) * 100
    return min(score, 100.0)


def schlage_pick_text(text: str, ocr_full: str, ocr_conf01: float) -> str:
    """O6 comprehensive selection (audit §21, schlage_processor.py:
    168-228): doc-level candidates — selectable text (stripped > 100),
    pdfplumber text (> 50; the SAME string in our single-parser model, so
    it only adds a candidate when the stripped length is in (50, 100]),
    and multi-OCR (> 50) — picked by max confidence with ties keeping the
    first. Text candidates score 0-100 (_calculate_text_quality); the OCR
    confidence arrives on a 0-1 scale from BOTH engine paths (tesseract
    conf/100 at :490, easyocr readtext at :505-521), so any qualifying
    text candidate beats OCR and OCR only wins when the selectable text
    has <= 50 stripped chars."""
    cands: list[tuple[str, float]] = []
    stripped = len(text.strip())
    # selectable (> 100) and pdfplumber (> 50) carry the same string and
    # confidence in our single-parser model → one candidate, > 50 gate
    if stripped > C.SCHLAGE_O6_TEXT_MIN:
        cands.append((text, _schlage_text_quality(text)))
    if len(ocr_full.strip()) > C.SCHLAGE_O6_TEXT_MIN:
        cands.append((ocr_full, ocr_conf01))
    if not cands:
        return text
    best = cands[0]
    for c in cands[1:]:
        if c[1] > best[1]:
            best = c
    return best[0]


def select_ocr_text(spans: list[dict]) -> str:
    """Assemble both engines' sidecar outputs and select/merge
    (image_pdf_processor.py:434-480): one engine blank → the other;
    near-tie (|Δscore| < 10) → combine; else argmax (primary on tie).
    "Blank" = no sidecar span with non-blank text — the reference's
    text.strip() check (:457-462; audit §7), so a whitespace-only engine
    loses outright instead of being quality-scored."""
    has1 = any(s["kind"] == "media_text" and s["text"].strip() for s in spans)
    has2 = any(s["kind"] == "media_text_alt" and s["text"].strip() for s in spans)
    e1 = assemble(spans, "media_text")
    if not has2:
        return e1
    e2 = assemble(spans, "media_text_alt")
    if not has1:
        return e2
    s1 = ocr_quality_score(e1, C.OCR_ENGINE_CONF["primary"])
    s2 = ocr_quality_score(e2, C.OCR_ENGINE_CONF["secondary"])
    if abs(s1 - s2) < C.OCR_NEAR_TIE:
        return combine_ocr_results(e1, e2)
    if s2 > s1:
        return e2
    return e1


# ---------------------------------------------------------------------------
# Field extraction. Vendor banks: first-match-wins re.search loops with the
# reference call sites' flags / strip / comma-strip (audit §15 —
# ceco_processor.py:362-374/:617-647, schlage_processor.py:992-1058/:1946,
# steelcraft_processor.py:342-390/:662-688). Generic bank: the
# DynamicPatternExtractor all-matches argmax (text_pdf_processor.py:439-537).
# ---------------------------------------------------------------------------
def _match_quality(value: str) -> float:
    """_assess_match_quality (text_pdf_processor.py:495-512): length<2 →
    0.3, length>50 → 0.7, pure-digit length<3 → ×0.5; scored on the RAW
    (unstripped) captured value."""
    length = 1.0
    if len(value) < 2:
        length = 0.3
    elif len(value) > 50:
        length = 0.7
    content = 0.5 if value.isdigit() and len(value) < 3 else 1.0
    return length * content


def _extract_fields_argmax(
    text: str,
    bank: dict[str, list[str]] | None = None,
    bank_weights: dict[str, list[float]] | None = None,
) -> dict[str, str]:
    """DynamicPatternExtractor.extract_field_with_confidence
    (text_pdf_processor.py:439-476): findall every pattern with
    IGNORECASE|MULTILINE, score every non-blank match as
    weight * (1 - 0.1*pattern_index) * quality, return the argmax —
    max() keeps the FIRST result in (pattern, match) enumeration order
    among equals. Values are stripped on output (:457). Defaults to the
    generic bank; the step-3b schlage fallback passes the second
    (TextPDFProcessor) bank family (audit §22)."""
    if bank is None:
        bank = C.FIELD_BANKS["generic"]
        bank_weights = C.GENERIC_WEIGHTS
    out: dict[str, str] = {}
    for key, patterns in bank.items():
        weights = (bank_weights or {}).get(key, [1.0] * len(patterns))
        best: tuple[float, str] | None = None
        for i, pat in enumerate(patterns):
            for m in re.finditer(pat, text, re.IGNORECASE | re.MULTILINE):
                # findall semantics: group 1 when groups exist (first tuple
                # element for multi-group), whole match otherwise (:451)
                value = m.group(1) if m.groups() else m.group(0)
                if not value or not value.strip():
                    continue
                conf = weights[i] * (1.0 - i * 0.1) * _match_quality(value)
                if best is None or conf > best[0]:
                    best = (conf, value.strip())
        if best is not None:
            out[key] = best[1]
    return out


def extract_fields(vendor: str, text: str) -> dict[str, str]:
    if vendor == "generic":
        out = _extract_fields_argmax(text)
        _address_blocks(vendor, text, out)
        return out
    out = {}
    for key, patterns in C.FIELD_BANKS[vendor].items():
        flags = C.field_flags(vendor, key)
        for pat in patterns:
            m = re.search(pat, text, flags)
            if m:
                groups = [g for g in m.groups() if g is not None]
                if key.endswith(".phone") and len(groups) == 3:
                    # phone reformat op (ceco_processor.py:706-719)
                    val = f"({groups[0]}) {groups[1]}-{groups[2]}"
                else:
                    val = groups[0] if len(groups) == 1 else "|".join(groups)
                if C.field_strip(vendor, key):
                    val = val.strip()
                if C.field_comma_strip(vendor, key):
                    val = val.replace(",", "")
                out[key] = val
                break
    _address_blocks(vendor, text, out)
    if vendor == "schlage":
        _schlage_derived_totals(out)
        _schlage_crossval_totals(out, text)
    if vendor == "ceco":
        _ceco_freight_default(out, text)
    return out


def _address_blocks(vendor: str, text: str, fields: dict[str, str]) -> None:
    """F5: address-block extraction. Schlage BILL TO/SHIP TO is the
    reference line state machine adopted bug-for-bug in audit §16
    (schlage_processor.py:1244-1352); CECO customer/remit is the
    pattern-based extractor adopted bug-for-bug in audit §17
    (ceco_processor.py:720-800)."""
    if vendor == "schlage":
        lines = text.split("\n")
        for prefix, name in C.SCHLAGE_ADDR_SECTIONS:
            got = _schlage_section(lines, name)
            for part, val in got.items():
                fields[f"{prefix}_{part}"] = val
    elif vendor == "ceco":
        _ceco_customer_remit(text, fields)


def _ceco_customer_remit(text: str, fields: dict[str, str]) -> None:
    """ceco_processor.py:720-800, adopted bug-for-bug (audit §17): every
    field is `_extract_field_with_patterns` over the WHOLE text
    (first-match-wins per ordered list, IGNORECASE|MULTILINE, stripped
    group(1)). Quirks reproduced exactly:

    * the bare `(\\d{8})` id fallback makes sold_to_id the first 8-digit
      number anywhere in the text (:147-151);
    * a matched customer address containing 'TELECOM' is RESET to None —
      the generic street pattern finds the vendor's address first when the
      specific forms miss (:745-746);
    * address defaults to the literal 'Address not found'; a suite line
      joins the address with an embedded newline (:754-759);
    * `[A-Z\\s]`-style classes cross newlines, so the generic city capture
      can span the street line and the city line (multi-line value);
    * remit city's `[A-Z][a-z]+` pattern runs under IGNORECASE, so the
      leftmost 'City, ST 12345'-shaped text wins — on typical documents
      that is the VENDOR's own city line (:797-802).
    """

    def first(pats: list[str]) -> str | None:
        for p in pats:
            m = re.search(p, text, re.IGNORECASE | re.MULTILINE)
            if m:
                return m.group(1).strip()
        return None

    cust = C.CECO_CUSTOMER_PATTERNS
    cid = first(cust["id"])
    if cid is not None:
        fields["customer.sold_to_id"] = cid
    comp = first(cust["company"])
    if comp is not None:
        fields["customer.sold_to_company"] = comp
    addr = first(cust["address"])
    if addr is not None and "TELECOM" in addr:
        addr = None  # :745-746 — vendor-address reset
    suite = first(cust["suite"])
    if addr and suite:
        fields["customer.sold_to_street"] = f"{addr}\n{suite}"
    elif addr:
        fields["customer.sold_to_street"] = addr
    else:
        fields["customer.sold_to_street"] = "Address not found"  # :759
    city = first(cust["city"])
    if city is not None:
        fields["customer.sold_to_citystate"] = city
    remit = C.CECO_REMIT_PATTERNS
    rcomp = first(remit["company"])
    if rcomp is not None:
        fields["vendor.remit_company"] = rcomp
    raddr = first(remit["address"])
    if raddr is not None:
        fields["vendor.remit_street"] = raddr
    rcity = first(remit["city"])
    if rcity is not None:
        fields["vendor.remit_citystate"] = rcity


def _schlage_section(lines: list[str], name: str) -> dict[str, str]:
    """_extract_address_section (schlage_processor.py:1244-1352), adopted
    bug-for-bug (audit §16):

    * section start/stop by SUBSTRING containment on the UPPERCASED
      stripped line; content after the header on the SAME line is
      discarded (:1260-1262);
    * collection is unbounded until a terminator keyword or the other
      section's header, with a `len(line) > 2` meaningful-line gate;
    * company = FIRST collected line matching neither the street nor the
      city classifier; street/city have no such guard — the LAST matching
      line wins; the city value is the captured group, stripped;
    * BILL TO: company split before the literal 'CUSTOMER PO#', city
      split before the literal 'ORDER DATE' (guards are case-insensitive
      but the splits are case-sensitive — reproduced as-is);
    * SHIP TO: 'NET DUE DATE'/'SALES REP' lines are skipped (company
      taken from before the literal 'SALES REP'), standalone 7-8 digit
      customer numbers are skipped, and the street is truncated at the
      literal 'JOB NAME'.
    """
    started = False
    collected: list[str] = []
    other = "SHIP TO:" if name == "BILL TO" else "BILL TO:"
    for raw in lines:
        line = raw.strip()
        if not started:
            if f"{name}:" in line.upper():
                started = True
            continue
        u = line.upper()
        if any(k in u for k in C.SCHLAGE_ADDR_TERMINATORS):
            break
        if other in u:
            break
        if line and len(line) > 2:
            collected.append(line)
    street_re = re.compile(C.SCHLAGE_ADDR_STREET, re.IGNORECASE)
    city_re = re.compile(C.SCHLAGE_ADDR_CITY, re.IGNORECASE)
    city_cap = re.compile(f"({C.SCHLAGE_ADDR_CITY})", re.IGNORECASE)
    out: dict[str, str] = {}
    for line in collected:
        u = line.upper()
        if name == "BILL TO":
            if "CUSTOMER PO#" in u:
                part = line.split("CUSTOMER PO#")[0].strip()
                if part and "company" not in out:
                    out["company"] = part
                continue
            if "ORDER DATE" in u:
                part = line.split("ORDER DATE")[0].strip()
                m = city_cap.search(part)
                if m and "citystate" not in out:
                    out["citystate"] = m.group(1).strip()
                continue
        else:  # SHIP TO
            if "NET DUE DATE" in u or "SALES REP" in u:
                if "SALES REP" in u:
                    part = line.split("SALES REP")[0].strip()
                    if part and "company" not in out:
                        out["company"] = part
                continue
            if re.match(r"^\d{7,8}$", line):
                continue
        if (
            "company" not in out
            and not street_re.search(line)
            and not city_re.search(line)
        ):
            out["company"] = line
        elif street_re.search(line):
            addr = line
            if name == "SHIP TO" and "JOB NAME" in addr.upper():
                addr = addr.split("JOB NAME")[0].strip()
            out["street"] = addr
        elif city_re.search(line):
            m = city_cap.search(line)
            if m:
                out["citystate"] = m.group(1).strip()
    return out


def _money(s: str) -> float:
    try:
        return float(s.replace(",", "").replace("$", ""))
    except ValueError:
        return 0.0  # text_pdf_processor.py:2566-2572 default-0 semantics


def _ceco_freight_default(fields: dict[str, str], text: str) -> None:
    """ceco_processor.py:648-650: when no FREIGHT CHARGE line matched but the
    invoice says 'NO CASH DISCOUNT ON FREIGHT', freight defaults to 0.00."""
    if "totals.freight" not in fields and "NO CASH DISCOUNT ON FREIGHT" in text:
        fields["totals.freight"] = "0.00"


def _schlage_derived_totals(fields: dict[str, str]) -> None:
    """schlage_processor.py:1908-1920: surcharge=2% and shipping=3% of
    subtotal when the printed lines are absent."""
    sub = fields.get("totals.subtotal")
    if sub is None:
        return
    subv = _money(sub)
    if "totals.surcharges" not in fields:
        fields["totals.surcharges"] = f"{round(subv * C.SCHLAGE_SURCHARGE_RATIO, 2):.2f}"
    if "totals.shipping" not in fields:
        fields["totals.shipping"] = f"{round(subv * C.SCHLAGE_SHIPPING_RATIO, 2):.2f}"


def _schlage_crossval_totals(fields: dict[str, str], text: str) -> None:
    """Cross-validation gap-fill (schlage_processor.py:944-971; audit §19):
    runs AFTER the totals parse and the derivation — surcharges/shipping
    still missing are filled from the raw text with looser
    findall/IGNORECASE forms (first match of the first matching pattern).
    With a subtotal present the derivation has already filled both, so
    this fires only on subtotal-less documents."""
    if "totals.surcharges" not in fields:
        for pat in C.SCHLAGE_XVAL_SURCHARGE:
            got = re.findall(pat, text, re.IGNORECASE)
            if got:
                fields["totals.surcharges"] = got[0]
                break
    if "totals.shipping" not in fields:
        for pat in C.SCHLAGE_XVAL_SHIPPING:
            got = re.findall(pat, text, re.IGNORECASE)
            if got:
                fields["totals.shipping"] = got[0]
                break


# ---------------------------------------------------------------------------
# Line items
# ---------------------------------------------------------------------------
def _filtered_lines(text: str) -> list[str]:
    return [
        l
        for l in text.split("\n")
        if not any(r.match(l) for r in _HEADER_FILTER_RES)
    ]


def _serialize(pairs: list[tuple[str, str]]) -> str:
    return "|".join(f"{k}={v}" for k, v in pairs)


def extract_items(vendor: str, text: str, fields: dict[str, str]) -> list[dict]:
    lines = _filtered_lines(text)
    if vendor == "ceco":
        return _ceco_items(lines)
    if vendor == "steelcraft":
        return _steelcraft_items(lines)
    if vendor == "schlage":
        return _schlage_items(lines, fields)
    return _generic_items(lines)


def _ceco_items(lines: list[str]) -> list[dict]:
    """Two-pass: headers first, then bounded forward scans
    (ceco_processor.py:428-600)."""
    hdr_re = re.compile(C.CECO_ITEM_HEADER)
    price_re = re.compile(C.CECO_PRICING)
    comp_re = re.compile(C.CECO_COMPONENT)
    labeled_re = re.compile(C.CECO_MARK_LABELED, re.IGNORECASE)
    standalone_re = re.compile(C.CECO_MARK_STANDALONE)
    decimal_re = re.compile(C.CECO_MARK_DECIMAL)
    price_rej = re.compile(C.CECO_MARK_PRICE_REJECT)
    valid_res = [re.compile(p, re.IGNORECASE) for p in C.CECO_MARK_VALID]

    headers = [(i, m) for i, l in enumerate(lines) if (m := hdr_re.match(l))]
    items: list[dict] = []
    seen: set[tuple[str, str]] = set()
    for h, (idx, m) in enumerate(headers):
        line_no, plant, code, qty_ord, qty_shp, bo = m.groups()
        key = (line_no, code)
        if key in seen:  # dedupe (text_pdf_processor.py:1718-1735)
            continue
        seen.add(key)
        # BO validity: qty_ord == qty_shp + bo; else the number is NOT a BO —
        # fold it into the description and derive bo = ord - shp (floor 0)
        # (text_pdf_processor.py:2405-2414)
        pairs = [("line", line_no), ("plant", plant), ("code", code),
                 ("ord", qty_ord), ("shp", qty_shp)]
        fold_prefix = ""
        if bo is not None and int(qty_ord) == int(qty_shp) + int(bo):
            pairs.append(("bo", bo))
        else:
            derived = int(qty_ord) - int(qty_shp)
            pairs.append(("bo", str(derived if derived > 0 else 0)))
            if bo is not None:
                fold_prefix = bo + " "

        end = headers[h + 1][0] if h + 1 < len(headers) else len(lines)
        end = min(end, idx + 1 + C.CECO_SCAN_WINDOW)
        marks: list[str] = []
        priced = False
        for j in range(idx + 1, end):
            l = lines[j]
            if not priced and (pm := price_re.match(l)) and not comp_re.match(l):
                desc, lst, disc, net, ext = pm.groups()
                pairs += [("desc", fold_prefix + desc), ("list", lst),
                          ("disc", disc), ("net", net), ("ext", ext)]
                priced = True
                continue
            if (cm := comp_re.match(l)):
                pairs.append(("comp", f"{cm.group(1)}:{cm.group(5)}"))
                continue
            if (lm := labeled_re.search(l)):
                # each comma part passes the format gates: price-like forms
                # rejected, then any accept pattern (audit §6,
                # text_pdf_processor.py:2905-2948)
                marks += [
                    p.strip() for p in lm.group(1).split(",")
                    if p.strip() and not price_rej.match(p.strip())
                    and any(r.match(p.strip()) for r in valid_res)
                ]
                continue
            if (sm := standalone_re.match(l)):
                marks.append(sm.group(1))
                continue
            if (dm := decimal_re.match(l)):
                marks.append(dm.group(1))
                continue
        items.append({"line": line_no, "serialized": _serialize(pairs),
                      "marks": _dedupe_keep_order(marks)})
    return items


def _dedupe_keep_order(vals: list[str]) -> list[str]:
    """Order-preserving dedupe (text_pdf_processor.py:3217-3234)."""
    seen: set[str] = set()
    out = []
    for v in vals:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def _steelcraft_marks(lines: list[str], idx: int) -> list[str]:
    """steelcraft_processor.py:627-655 (audit §14): scan start+1..start+30,
    break at the first item-like line; at the FIRST 'MARK NUMBERS:' header
    (substring test), look over the next 3 lines — skip empties, take every
    '(\\d{3})\\s*\\((\\d+)\\)' match from the first non-empty line that has
    any (rendered 'NNN (q)'), break on an item-like line — then stop the
    whole scan (the outer loop breaks after its first header)."""
    item_like = re.compile(C.STEELCRAFT_ITEM_LIKE)
    mark_re = re.compile(C.STEELCRAFT_MARK_MATCH)
    marks: list[str] = []
    for i in range(idx + 1, min(idx + 1 + C.STEELCRAFT_MARKS_WINDOW, len(lines))):
        line = lines[i].strip()
        if item_like.match(line):
            break
        if C.STEELCRAFT_MARKS_HEADER in line:
            for j in range(i + 1, min(i + 1 + C.STEELCRAFT_MARKS_INNER, len(lines))):
                nl = lines[j].strip()
                if not nl:
                    continue
                mm = mark_re.findall(nl)
                if mm:
                    marks.extend(f"{n} ({q})" for n, q in mm)
                    break
                if item_like.match(nl):
                    break
            break
    return marks


def _steelcraft_items(lines: list[str]) -> list[dict]:
    """steelcraft_processor.py:447-712: two item grammars + bounded spec and
    mark scans."""
    f164_re = re.compile(C.STEELCRAFT_ITEM_F164)
    anch_re = re.compile(C.STEELCRAFT_ITEM_ANCHOR)
    spec_res = [(label, re.compile(p)) for label, p in C.STEELCRAFT_SPECS]
    pricing_re = re.compile(C.STEELCRAFT_PRICING_DETAIL)
    discount_re = re.compile(C.STEELCRAFT_DISCOUNT_LINE)

    hits = []
    for i, l in enumerate(lines):
        if (m := f164_re.match(l)):
            g = m.groups()
            pairs = [("line", g[0]), ("ord", g[1]), ("shp", g[2]), ("code", g[3]),
                     ("desc", g[4]), ("list", g[5]), ("disc", f".{g[6]}"),
                     ("w", g[7]), ("b", g[8]), ("ext", g[9])]
            hits.append((i, g[0], g[3], pairs))
        elif (m := anch_re.match(l)):
            g = m.groups()
            pairs = [("line", g[0]), ("ord", g[1]), ("shp", g[2]), ("code", g[3]),
                     ("desc", g[4]), ("disc", f".{g[5]}"), ("w", g[6]),
                     ("b", g[7]), ("ext", g[8])]
            hits.append((i, g[0], g[3], pairs))

    items: list[dict] = []
    seen: set[tuple[str, str]] = set()
    for h, (idx, line_no, code, pairs) in enumerate(hits):
        if (line_no, code) in seen:
            continue
        seen.add((line_no, code))
        nxt = hits[h + 1][0] if h + 1 < len(hits) else len(lines)
        end = min(nxt, idx + 1 + C.STEELCRAFT_SPEC_WINDOW)
        for j in range(idx + 1, end):
            l = lines[j]
            for label, sr in spec_res:
                if (sm := sr.match(l)):
                    pairs.append(("spec_" + label, sm.group(1)))
                    break
        # marks: their OWN 30-line window with the reference's grammar
        # (steelcraft_processor.py:627-655; audit §14) — early break at the
        # first item-like line, substring header test, first header wins,
        # value from the first non-empty matching line within 3, rendered
        # 'NNN (q)'
        marks = _steelcraft_marks(lines, idx)
        # pricing-detail scan (<=30 lines, steelcraft_processor.py:588-609)
        for j in range(idx + 1, min(nxt, idx + 1 + C.STEELCRAFT_PRICING_WINDOW)):
            if (pm := pricing_re.match(lines[j])):
                label = pm.group(1).lower().replace(" ", "_")
                pairs.append((f"pd_{label}", pm.group(2)))
        # discount scan (<=10 lines, steelcraft_processor.py:708)
        for j in range(idx + 1, min(nxt, idx + 1 + C.STEELCRAFT_DISCOUNT_WINDOW)):
            if (dm := discount_re.match(lines[j])):
                pairs.append(("discount_pct", dm.group(1)))
                break
        items.append({"line": line_no, "serialized": _serialize(pairs),
                      "marks": _dedupe_keep_order(marks)})
    return items


def _schlage_items(lines: list[str], fields: dict[str, str]) -> list[dict]:
    """schlage_processor.py:1385-1716 + surcharge synthesis :1505-1553 and
    split-waybill rejoin :1419-1452 (faithful semantics: base pattern
    1Z[A-Z0-9]{13,16} searched anywhere in the line, digit continuation
    ^(\\d{2,4}) sought over the NEXT TWO lines, base kept alone iff >= 15
    chars, plus the complete-form findall and FedEx keyword branch; the
    scan window is range(i+1, min(i+8, len(lines))) = i+1..i+7 bounded only
    by EOF — the reference does NOT stop at the next item, so a waybill can
    attach to two items. Every line is stripped first, mirroring the
    reference's strip at loop top :1400 / :1416 / :1427)."""
    lines = [l.strip() for l in lines]
    item_re = re.compile(C.SCHLAGE_ITEM)
    wb_base = re.compile(C.SCHLAGE_WAYBILL_BASE)
    wb_full = re.compile(C.SCHLAGE_WAYBILL_FULL)
    wb_cont = re.compile(C.SCHLAGE_WAYBILL_CONT)
    fedex_re = re.compile(C.SCHLAGE_FEDEX_NUMBER)

    hits = [(i, m) for i, l in enumerate(lines) if (m := item_re.match(l))]
    items: list[dict] = []
    for h, (idx, m) in enumerate(hits):
        g = m.groups()
        brand, carrier = g[0], g[1]
        order_line, l1, l2 = g[3], g[4], g[5]
        code, desc, ship_date = g[6], g[7], g[8]
        list_price, disc, disc_code, ext = g[9], g[10], g[11], g[12]
        # unit = list - discount (schlage_processor.py:1640-1650)
        unit = f"{round(_money(list_price) - _money(disc), 2):.2f}"
        pairs = [("line", order_line), ("brand", brand), ("carrier", carrier),
                 ("ord", l1), ("shp", l2),
                 ("code", code), ("desc", desc), ("ship", ship_date),
                 ("list", list_price), ("disc", disc), ("dcode", disc_code),
                 ("unit", unit), ("ext", ext)]
        end = min(idx + 1 + C.SCHLAGE_WAYBILL_WINDOW, len(lines))
        way_bills: list[str] = []
        freight = None
        for j in range(idx + 1, end):
            l = lines[j]
            bm = wb_base.search(l)
            if bm:
                base = bm.group(0)
                for k in range(j + 1, min(j + 3, len(lines))):
                    cm = wb_cont.match(lines[k])
                    if cm:
                        full = base + cm.group(1)
                        if full not in way_bills:
                            way_bills.append(full)
                        break
                else:
                    if base not in way_bills and len(base) >= C.SCHLAGE_WAYBILL_MIN_BASE:
                        way_bills.append(base)
            for t in wb_full.findall(l):
                if t not in way_bills:
                    way_bills.append(t)
            if any(kw in l.upper() for kw in C.SCHLAGE_FEDEX_KEYWORDS):
                for t in fedex_re.findall(l):
                    if t not in way_bills and len(t) >= 12:
                        way_bills.append(t)
            if any(kw in l.upper() for kw in C.SCHLAGE_FREIGHT_KEYWORDS):
                if freight is None:  # first freight line only (:1455-1458)
                    freight = l
        if freight is not None:
            pairs.append(("freight", freight))
        for wb in way_bills:
            pairs.append(("waybill", wb))
        items.append({"line": order_line, "serialized": _serialize(pairs),
                      "marks": []})

    # surcharge synthesis (schlage_processor.py:1505-1553; audit §22
    # tightened to the reference's field set): single main item + an
    # amount from totals.surcharges or the SURCHARGES regex over the text
    # → a synthesized item with the MAIN item's brand, item_number
    # AGN_SURCHARGE, qty 1/1, list = unit = amount, discount '00.00',
    # line_number = the running counter
    if len(items) == 1:
        sur = fields.get("totals.surcharges")
        if not sur:
            m = re.search(
                r"SURCHARGES?:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
                "\n".join(lines), re.IGNORECASE,
            )
            sur = m.group(1) if m else None
        if sur:
            main_brand = _item_field(items[0]["serialized"], "brand") or "UNKNOWN"
            ln = str(len(items) + 1)
            pairs = [("line", ln), ("brand", main_brand), ("carrier", ""),
                     ("ord", "1"), ("shp", "1"), ("code", "AGN_SURCHARGE"),
                     ("desc", "Surcharge Item"), ("list", sur),
                     ("disc", "00.00"), ("unit", sur), ("ext", sur)]
            items.append({"line": ln, "serialized": _serialize(pairs), "marks": []})
    return items


def _schlage_additional_info(text: str) -> list[str]:
    """F13 document-level harvest (schlage_processor.py:1980-2081, adopted
    bug-for-bug in audit §18). Phase 1: the labeled useful patterns run
    findall/IGNORECASE over the WHOLE text; each match is stripped and kept
    when non-blank, unseen, and 3 < len < 100. Phase 2: each stripped line
    is skipped when empty, len < 8, or matching any of the 35 skip
    patterns (searched IGNORECASE); survivors are kept when unseen,
    8 <= len <= 80, not startswith 'Page ' (case-sensitive), no 'www.'
    (lowercased containment), not only digits/whitespace/symbols, contain
    a 3+-letter run, and have 2..15 words. The seen-set spans both phases,
    so a phase-1 CAPTURE does not suppress the phase-2 FULL line."""
    out: list[str] = []
    seen: set[str] = set()
    for pat in C.SCHLAGE_INFO_USEFUL:
        for match in re.findall(pat, text, re.IGNORECASE):
            clean = match.strip()
            if (
                clean
                and clean not in seen
                and C.SCHLAGE_INFO_USEFUL_MIN < len(clean) < C.SCHLAGE_INFO_USEFUL_MAX
            ):
                seen.add(clean)
                out.append(clean)
    skip_res = [re.compile(p, re.IGNORECASE) for p in C.SCHLAGE_INFO_SKIP]
    for raw in text.split("\n"):
        line = raw.strip()
        if not line or len(line) < C.SCHLAGE_INFO_MIN_LEN:
            continue
        if any(r.search(line) for r in skip_res):
            continue
        if (
            line not in seen
            and C.SCHLAGE_INFO_MIN_LEN <= len(line) <= C.SCHLAGE_INFO_MAX_LEN
            and not line.startswith("Page ")
            and "www." not in line.lower()
            and not re.match(r"^[\d\s\.,\-\$]+$", line)
            and re.search(r"[A-Za-z]{3,}", line)
        ):
            words = len(line.split())
            if C.SCHLAGE_INFO_MIN_WORDS <= words <= C.SCHLAGE_INFO_MAX_WORDS:
                seen.add(line)
                out.append(line)
    return out


def _generic_items(lines: list[str]) -> list[dict]:
    item_re = re.compile(C.GENERIC_ITEM)
    items, seen = [], set()
    for l in lines:
        if (m := item_re.match(l)):
            line_no, code, qty, desc, unit, ext = m.groups()
            if (line_no, code) in seen:
                continue
            seen.add((line_no, code))
            pairs = [("line", line_no), ("code", code), ("qty", qty),
                     ("desc", desc), ("unit", unit), ("ext", ext)]
            items.append({"line": line_no, "serialized": _serialize(pairs),
                          "marks": []})
    return items


# ---------------------------------------------------------------------------
# Hybrid merge (J1) + emission
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# P10 adequacy + A3 confidence + validator (audit §21 — the generic
# *_fallback in-method chain, fallback_processor.py:218-235/:392-422/
# :424-496; data_validator.py:36-207)
# ---------------------------------------------------------------------------
def _item_field(serialized: str, key: str) -> str:
    """Read one key from an item's serialized form. Values containing '|'
    truncate at the separator — a shared convention with the engine twin,
    applied identically on both sides."""
    m = re.search(rf"(?:^|\|){re.escape(key)}=([^|]*)", serialized)
    return m.group(1) if m else ""


def a3_text_confidence(vendor: str, fields: dict[str, str], items: list[dict]) -> float:
    """_calculate_text_confidence (fallback_processor.py:424-478): field
    presence points (15/10/10/10), items 30 + 2 per complete item (bonus
    cap 25) with a -10 penalty when under 70% complete, then 8/5/5 for
    any totals/payment/shipping value; capped at 100. A complete item has
    line+description text and at least 2 of the vendor's numeric fields
    parsing > 0 (:480-496)."""
    conf = 0.0
    if fields.get("header.invoice_number", "").strip():
        conf += 15
    if fields.get("header.invoice_date", "").strip():
        conf += 10
    if fields.get("vendor.name", "").strip():
        conf += 10
    cust = C.VALIDATOR_REQUIRED["customer"][vendor][0]
    if fields.get(cust, "").strip():
        conf += 10
    if items:
        numeric = C.A3_NUMERIC_KEYS[vendor]
        valid = 0
        for it in items:
            s = it["serialized"]
            if not _item_field(s, "line").strip() or not _item_field(s, "desc").strip():
                continue
            n_ok = sum(1 for k in numeric if _money(_item_field(s, k)) > 0)
            if n_ok >= 2:
                valid += 1
        conf += 30 + min(valid * 2, 25)
        if valid < len(items) * 0.7:
            conf -= 10
    if any(v.strip() for k, v in fields.items() if k.startswith("totals.")):
        conf += 8
    if any(v.strip() for k, v in fields.items() if k.startswith("payment.")):
        conf += 5
    if any(v.strip() for k, v in fields.items() if k.startswith("shipping.")):
        conf += 5
    return min(conf, 100.0)


def a2_completeness(vendor: str, fields: dict[str, str], items: list[dict]) -> float:
    """_calculate_completeness_score (data_validator.py:159-207, audit
    §12 structure): header 15+10, vendor 10+5, customer 10+5, items 20 +
    15 * complete-ratio, totals 10; capped at 100."""
    score = 0.0
    if fields.get("header.invoice_number", "").strip():
        score += 15
    if fields.get("header.invoice_date", "").strip():
        score += 10
    if fields.get("vendor.name", "").strip():
        score += 10
    if any(
        v.strip() for k, v in fields.items()
        if k.startswith("vendor.") and k.endswith("_street")
    ):
        score += 5
    cust = C.VALIDATOR_REQUIRED["customer"][vendor][0]
    if fields.get(cust, "").strip():
        score += 10
    if any(
        v.strip() for k, v in fields.items()
        if k.startswith("customer.") and k.endswith("_street")
    ):
        score += 5
    if items:
        score += 20
        req = C.VALIDATOR_REQUIRED["items"][vendor]
        complete = sum(
            1 for it in items
            if all(_item_field(it["serialized"], k).strip() for k in req)
        )
        score += 15 * (complete / len(items))
    if any(v.strip() for k, v in fields.items() if k.startswith("totals.")):
        score += 10
    return min(score, 100.0)


def validate_fields(vendor: str, fields: dict[str, str], items: list[dict]):
    """validate_extracted_data (data_validator.py:58-128) over our span
    keys: missing required fields (a section with no keys at all yields
    one 'Section … is missing' entry), empty-valued fields, per-item
    required-field emptiness, the completeness score, and
    is_valid = no missing AND <= 2 empty AND completeness >= 60.
    Metadata requirements are always satisfied in our model (the engine
    stamps them unconditionally, as the reference does). Returns
    (is_valid, completeness, missing, empty)."""
    missing: list[str] = []
    empty: list[str] = []
    sections = {
        "invoice_header": C.VALIDATOR_REQUIRED["header"],
        "vendor_info": C.VALIDATOR_REQUIRED["vendor"],
        "customer_info": C.VALIDATOR_REQUIRED["customer"][vendor],
    }
    for sec, req in sections.items():
        prefix = {"invoice_header": "header.", "vendor_info": "vendor.",
                  "customer_info": "customer."}[sec]
        if not any(k.startswith(prefix) for k in fields):
            missing.append(f"Section '{sec}' is missing")
            continue
        for key in req:
            ref_name = f"{sec}.{key.split('.', 1)[1] if '.' in key else key}"
            # reference field names drive the critical-substring check —
            # company keys (incl. vendor.name) surface as
            # '<section>.company_name' in the reference's required map
            if (key.endswith("_company") or key.endswith(".company")
                    or key == "vendor.name"):
                ref_name = f"{sec}.company_name"
            if key not in fields:
                missing.append(ref_name)
            elif not fields[key].strip():
                empty.append(ref_name)
    if not items:
        missing.append("No line items found")  # :84 — note: NOT critical
    else:
        for k in C.VALIDATOR_REQUIRED["items"][vendor]:
            for i, it in enumerate(items):
                if not _item_field(it["serialized"], k).strip():
                    empty.append(f"line_items[{i}].{k}")
    completeness = a2_completeness(vendor, fields, items)
    is_valid = len(missing) == 0 and len(empty) <= 2 and completeness >= 60.0
    return is_valid, completeness, missing, empty


def p10_adequate(
    vendor: str, fields: dict[str, str], items: list[dict], confidence: float
) -> bool:
    """_is_result_adequate (fallback_processor.py:392-422): confidence
    below the 70 threshold → inadequate; empty data → inadequate; else
    validation passes OR (completeness >= 70 with at most one missing
    field whose reference name contains a critical substring)."""
    if confidence < C.MIN_CONFIDENCE_THRESHOLD:
        return False
    if not fields and not items:
        return False
    is_valid, completeness, missing, _ = validate_fields(vendor, fields, items)
    crit = [f for f in missing if any(c in f for c in C.P10_CRITICAL)]
    return is_valid or (completeness >= 70.0 and len(crit) <= 1)


# ---------------------------------------------------------------------------
# Step-3b layer pieces (audit §22): specialized-result confidences and the
# validator enhancement (fallback_processor.py:133-152; data_validator.py:
# 209-330; schlage_processor.py:975-985; ceco_processor.py:867-921)
# ---------------------------------------------------------------------------
def a7_schlage_accuracy(fields: dict[str, str], items: list[dict]) -> float:
    """The schlage specialized result's confidence_score = the A7
    cross-validation accuracy (schlage_processor.py:975-985):
    (header_completeness*0.3 + line_items_presence*0.4 +
    totals_nonempty_ratio*0.3) * 100, where header completeness counts
    invoice_number/invoice_date/customer_po and the totals ratio is
    filled totals keys over all totals keys (min denominator 1)."""
    req = ["header.invoice_number", "header.invoice_date", "header.customer_po"]
    header = sum(1 for k in req if fields.get(k, "").strip()) / len(req)
    items_c = 1.0 if items else 0.0
    totals = {k: v for k, v in fields.items() if k.startswith("totals.")}
    totals_c = (
        sum(1 for v in totals.values() if v.strip()) / max(len(totals), 1)
    )
    return (header * 0.3 + items_c * 0.4 + totals_c * 0.3) * 100


def a9_ceco_confidence(fields: dict[str, str], items: list[dict]) -> float:
    """The ceco specialized result's confidence_score
    (ceco_processor.py:867-921): header 25 (6.25 per field over
    invoice_number/invoice_date/order_no/customer_po), vendor 15 (5 per
    company/address/city — our field model extracts only the company, so
    address/city never score; documented model gap), items 20 + 15 *
    per-field fill ratio over line/code/desc/ord/net, customer company
    10, payment terms 7.5, ship_from-or-tracking 7.5; capped 100."""
    score = 0.0
    hdr = ["header.invoice_number", "header.invoice_date",
           "header.order_no", "header.customer_po"]
    score += sum(25 / len(hdr) for k in hdr if fields.get(k, "").strip())
    if fields.get("vendor.name", "").strip():
        score += 15 / 3
    if items:
        score += 20
        item_fields = ["line", "code", "desc", "ord", "net"]
        total = len(items) * len(item_fields)
        filled = sum(
            1 for it in items for k in item_fields
            if _item_field(it["serialized"], k).strip()
        )
        score += (filled / total) * 15 if total else 0.0
    if fields.get("customer.sold_to_company", "").strip():
        score += 10
    if fields.get("payment.terms", "").strip():
        score += 7.5
    if (fields.get("shipping.origin", "").strip()
            or fields.get("shipping.tracking", "").strip()):
        score += 7.5
    return min(score, 100.0)


def enhance_fields(
    vendor: str, fields: dict[str, str], items: list[dict]
) -> tuple[dict[str, str], list[dict]]:
    """enhance_extracted_data (data_validator.py:209-330, audit §22) —
    runs only on the VALID + confident branch of step 3b:

    * per-item: extended amount = round(qty*price, 2) when missing with
      both inputs populated, and quantity_shipped backfilled from
      quantity_ordered (:237-254) — expressed over our serialized keys;
    * missing subtotal = sum of float(extended_amount) over populated
      items — float() does NOT strip commas, so a single comma-bearing
      amount raises inside the one try block and poisons the WHOLE fill
      (:258-270), reproduced as-is; the fill lands only when the sum is
      > 0, formatted '%.2f';
    * empty-string values are deleted from every section dict and every
      item (:286-330) — our serialized items drop their empty kv pairs.
    """
    qty_key = {"ceco": "ord", "steelcraft": "ord", "schlage": "ord",
               "generic": "qty"}[vendor]
    unit_key = {"ceco": "net", "steelcraft": "list", "schlage": "unit",
                "generic": "unit"}[vendor]
    out_items: list[dict] = []
    for it in items:
        s = it["serialized"]
        pairs = []
        for part in s.split("|"):
            if "=" in part:
                k, v = part.split("=", 1)
                pairs.append([k, v])
            elif pairs:
                # value fragment containing '|' — reattach
                pairs[-1][1] += "|" + part
        kv = {k: v for k, v in pairs}
        if (
            qty_key
            and not kv.get("ext", "").strip()
            and kv.get(qty_key, "").strip()
            and kv.get(unit_key, "").strip()
        ):
            try:
                ext = round(float(kv[qty_key]) * float(kv[unit_key]), 2)
                for p in pairs:
                    if p[0] == "ext":
                        p[1] = str(ext)
                        break
                else:
                    pairs.append(["ext", str(ext)])
            except (ValueError, TypeError):
                pass
        if (
            vendor in ("ceco", "steelcraft", "schlage")
            and not kv.get("shp", "").strip()
            and kv.get("ord", "").strip()
        ):
            for p in pairs:
                if p[0] == "shp":
                    p[1] = kv["ord"]
                    break
        # _clean_empty_values: drop empty-string kv pairs
        pairs = [p for p in pairs if p[1].strip() != ""]
        out_items.append({
            **it, "serialized": "|".join(f"{k}={v}" for k, v in pairs),
        })
    out_fields = {k: v for k, v in fields.items() if v.strip() != ""}
    if out_items and not out_fields.get("totals.subtotal", "").strip():
        try:
            subtotal = sum(
                float(_item_field(it["serialized"], "ext"))
                for it in out_items
                if _item_field(it["serialized"], "ext").strip()
            )
            if subtotal > 0:
                out_fields["totals.subtotal"] = f"{subtotal:.2f}"
        except (ValueError, TypeError):
            pass
    return out_fields, out_items


# ---------------------------------------------------------------------------
# THIRD bank family (audit §23): the image processor's extraction — the F3
# adaptive detector + static fallbacks + the 5-pattern item cascade
# (enhanced_pattern_detector.py:54-373; image_pdf_processor.py:608-1097)
# ---------------------------------------------------------------------------
def _f3_value_quality(ftype: str, value: str) -> float:
    """:295-325 — base 50, +30 ideal length, +20 composition."""
    if not value:
        return 0.0
    score = 50.0
    lo, hi = C.F3_IDEAL_LENGTHS.get(ftype, (1, 100))
    if lo <= len(value) <= hi:
        score += 30
    if ftype in C.F3_AMOUNT_TYPES:
        if re.match(r"^\d+\.?\d*$", value.replace(",", "").replace("$", "")):
            score += 20
    elif ftype in C.F3_NAME_TYPES:
        if any(c.isupper() for c in value) and any(c.islower() for c in value):
            score += 20
    return min(100.0, score)


def _f3_position(ftype: str, pos: int, total: int) -> float:
    """:327-355 — 100 inside the preferred band, else 100 - distance*200."""
    rel = pos / total if total > 0 else 0.0
    lo, hi = C.F3_PREFERRED_POSITIONS.get(ftype, (0.0, 1.0))
    if lo <= rel <= hi:
        return 100.0
    dist = (lo - rel) if rel < lo else (rel - hi)
    return max(0.0, 100.0 - dist * 200.0)


def _f3_valid(ftype: str, value: str) -> bool:
    """:214-241 validity gates."""
    if not value or len(value.strip()) < 2:
        return False
    amt = lambda v: bool(re.match(r"[\d,]+\.?\d*$", v.replace("$", "").strip()))
    rules = {
        "invoice_number": lambda v: len(v) >= 4 and any(c.isalnum() for c in v),
        "invoice_date": lambda v: bool(
            re.match(r"\d{1,4}[\/\-\.]\d{1,2}[\/\-\.]\d{1,4}", v)),
        "order_number": lambda v: len(v) >= 3 and any(c.isalnum() for c in v),
        "vendor_name": lambda v: len(v) >= 5 and any(c.isalpha() for c in v),
        "customer_name": lambda v: len(v) >= 3 and any(c.isalpha() for c in v),
        "total_amount": amt, "subtotal": amt, "tax_amount": amt,
        "payment_terms": lambda v: len(v) >= 5,
    }
    return rules.get(ftype, lambda v: True)(value)


def f3_extract_all(text: str) -> dict[str, tuple[str, float]]:
    """extract_all_fields (:144-168): per field type, every pattern's
    finditer(IGNORECASE|MULTILINE) matches are validity-gated, scored
    50 + min(30, ctx_hits*10) + min(25, len(pattern)/100*25) +
    value_quality*0.25 + position*0.20, deduped by whitespace-collapsed
    lowercase value (first kept), and the best-confidence match wins
    (stable sort → enumeration order breaks ties)."""
    out: dict[str, tuple[str, float]] = {}
    n = len(text)
    for ftype, patterns in C.F3_PATTERNS.items():
        matches: list[tuple[float, str]] = []
        seen: set[str] = set()
        for pat in patterns:
            for m in re.finditer(pat, text, re.IGNORECASE | re.MULTILINE):
                value = (m.group(1) if m.groups() else m.group(0)).strip()
                if not _f3_valid(ftype, value):
                    continue
                norm = re.sub(r"\s+", " ", value.lower().strip())
                if norm in seen:
                    continue
                seen.add(norm)
                ctx = text[max(0, m.start() - 50): min(n, m.end() + 50)].lower()
                hits = sum(
                    1 for kw in C.F3_CONTEXT_KEYWORDS.get(ftype, [])
                    if kw in ctx
                )
                conf = 50.0
                conf += min(30.0, hits * 10.0)
                conf += min(25.0, len(pat) / 100.0 * 25.0)
                conf += _f3_value_quality(ftype, value) * 0.25
                conf += _f3_position(ftype, m.start(), n) * 0.20
                matches.append((min(100.0, conf), value))
        if matches:
            best = max(matches, key=lambda t: t[0])
            out[ftype] = (best[1], best[0])
    return out


def _img_items(text: str) -> list[dict]:
    """The image line-item cascade (:983-1097): patterns tried in order,
    findall MULTILINE|IGNORECASE, first pattern producing any valid item
    wins; values are int/float-converted (str() serialization preserves
    the float repr, e.g. '829.0'); dedupe on (line, code); a simple
    numbers-fallback when nothing matched."""
    items: list[dict] = []
    for pat in C.IMG_ITEM_PATTERNS:
        for match in re.findall(pat, text, re.MULTILINE | re.IGNORECASE):
            if len(match) >= 10:
                kv = [("line", match[0].strip()), ("plant", match[1].strip()),
                      ("code", match[2].strip()),
                      ("ord", str(_safe_int(match[3]))),
                      ("shp", str(_safe_int(match[4]))),
                      ("desc", match[5].strip()),
                      ("list", str(_safe_float(match[6]))),
                      ("disc", str(_safe_float(match[7]))),
                      ("unit", str(_safe_float(match[8]))),
                      ("ext", str(_safe_float(match[9])))]
            elif len(match) >= 6:
                kv = [("line", match[0].strip()), ("plant", ""),
                      ("code", match[1].strip()),
                      ("ord", str(_safe_int(match[2]))),
                      ("shp", str(_safe_int(match[2]))),
                      ("desc", match[3].strip()),
                      ("list", "0.0"), ("disc", "0.0"),
                      ("unit", str(_safe_float(match[4]))),
                      ("ext", str(_safe_float(match[5])))]
            else:
                continue
            d = dict(kv)
            if not d["line"].strip() or not d["desc"].strip():
                continue
            if not any(_safe_float(d[k]) > 0 for k in ("ord", "unit", "ext")):
                continue
            if any(
                _item_field(it["serialized"], "line") == d["line"]
                and _item_field(it["serialized"], "code") == d["code"]
                for it in items
            ):
                continue
            items.append({"line": d["line"], "serialized": _serialize(kv),
                          "marks": []})
        if items:
            break
    if not items:
        # simple fallback (:819-850): any line with >= 3 numbers
        for raw in text.split("\n"):
            line = raw.strip()
            nums = re.findall(r"\d+\.?\d*", line)
            if len(nums) < 3:
                continue
            desc = re.sub(r"\d+\.?\d*", "", line).strip()
            kv = [("line", str(len(items) + 1)), ("plant", ""), ("code", ""),
                  ("ord", str(int(float(nums[0])))),
                  ("shp", str(int(float(nums[0])))),
                  ("desc", desc), ("list", "0.0"), ("disc", "0.0"),
                  ("unit", str(float(nums[-2]))),
                  ("ext", str(float(nums[-1])))]
            d = dict(kv)
            if not d["desc"]:
                continue
            if not any(_safe_float(d[k]) > 0 for k in ("ord", "unit", "ext")):
                continue
            items.append({"line": d["line"], "serialized": _serialize(kv),
                          "marks": []})
    return items


def _safe_int(v: str) -> int:
    try:
        return int(str(v).replace(",", "").strip())
    except (ValueError, AttributeError):
        return 0


def _safe_float(v: str) -> float:
    try:
        return float(str(v).replace(",", "").replace("$", "").strip())
    except (ValueError, AttributeError):
        return 0.0


def _parse_side(vendor: str, side: str, text_s: str) -> tuple[dict[str, str], list[dict]]:
    """Which bank family parses a given side (audit §23): the generic OCR
    method is the image processor (F3 + fallbacks); every other
    combination uses the vendor banks. Specialized vendors always parse
    with their own processors regardless of side."""
    if vendor == "generic" and side == "ocr":
        return image_route_extract(text_s)
    f = extract_fields(vendor, text_s)
    return f, extract_items(vendor, text_s, f)


def image_route_extract(text: str) -> tuple[dict[str, str], list[dict]]:
    """The generic OCR method's parse (image_pdf_processor.py:608-921;
    audit §23): F3 adaptive fields mapped into sections (CUSTOMER_PO has
    no F3 patterns and can only arrive via the static fallback), the
    5-pattern item cascade, then — when invoice_number/date/total are
    still missing — the static header/totals fallback dicts, whose
    header pass OVERWRITES any F3 order_number/customer_po on match."""
    f3 = f3_extract_all(text)
    fields: dict[str, str] = {}
    for ftype, (value, _conf) in f3.items():
        key = C.F3_FIELD_MAP.get(ftype)
        if key:
            fields[key] = value
    items = _img_items(text)
    missing = [
        k for k in ("invoice_number", "invoice_date", "total_amount")
        if k not in f3
    ]
    if missing:
        if "invoice_number" in missing or "invoice_date" in missing:
            for key, pats in C.IMG_HEADER_FALLBACK.items():
                for pat in pats:
                    m = re.search(pat, text, re.IGNORECASE)
                    if m:
                        fields[key] = m.group(1)
                        break
        if "total_amount" in missing:
            for key, pat in C.IMG_TOTALS_FALLBACK.items():
                m = re.search(pat, text, re.IGNORECASE)
                if m:
                    fields[key] = m.group(1)
    return fields, items


def step3b(
    vendor: str,
    method: str,
    fields: dict[str, str],
    items: list[dict],
    info: list[str],
    text: str,
    ocr_text: str,
) -> tuple[dict[str, str], list[dict], list[str]]:
    """The global validate → fallback → compare → enhance layer
    (fallback_processor.py:133-152, :342-390; audit §22), applied to
    EVERY document after the method result:

    * primary confidence: the dispatcher wrappers pin it — steelcraft a
      FIXED 95.0, ceco its own A9 score, schlage the A7 cross-validation
      accuracy; generic results carry A3 (text) or the stub A4 (OCR);
    * valid AND confidence >= 70 → enhance_extracted_data and return;
    * else run the OPPOSITE method: TEXT-method results fall back to the
      OCR parse (our banks over the OCR assembly, the image-processor
      analog); OCR-method results fall back to TextPDFProcessor — for
      schlage that is the SECOND bank family (argmax over
      TPP_SCHLAGE_BANK) plus the generic F7 item grammar, for generic
      the generic bank itself;
    * J2: the fallback wins iff its confidence is STRICTLY higher
      (:370-381); a winning text fallback carries no additional_info
      (TextPDFProcessor produces none), so info empties.
    """
    if vendor == "schlage":
        conf = a7_schlage_accuracy(fields, items)
    elif vendor == "ceco":
        conf = a9_ceco_confidence(fields, items)
    elif vendor == "steelcraft":
        conf = C.STEELCRAFT_FIXED_CONFIDENCE
    elif method == "text":
        conf = a3_text_confidence(vendor, fields, items)
    else:
        conf = a4_ocr_confidence(ocr_text)
    is_valid, _, _, _ = validate_fields(vendor, fields, items)
    if is_valid and conf >= C.MIN_CONFIDENCE_THRESHOLD:
        fields, items = enhance_fields(vendor, fields, items)
        return fields, items, info
    if method == "text":
        # the OCR fallback is _process_with_ocr → the IMAGE processor's
        # own extraction (audit §23 third bank family), for every vendor
        fb_fields, fb_items = image_route_extract(ocr_text)
        fb_conf = a4_ocr_confidence(ocr_text)
        fb_info = []  # fallback parses carry no additional_info
    else:
        if vendor == "schlage":
            fb_fields = _extract_fields_argmax(
                text, C.TPP_SCHLAGE_BANK, C.TPP_SCHLAGE_WEIGHTS
            )
            fb_items = _generic_items(_filtered_lines(text))
        else:
            fb_fields = extract_fields(vendor, text)
            fb_items = extract_items(vendor, text, fb_fields)
        fb_conf = a3_text_confidence(
            "generic" if vendor == "schlage" else vendor, fb_fields, fb_items
        )
        fb_info = []  # TextPDFProcessor results carry no additional_info
    if fb_conf > conf:
        return fb_fields, fb_items, fb_info
    return fields, items, info


def merge_routes(
    vendor: str,
    fields_t: dict[str, str], items_t: list[dict],
    fields_o: dict[str, str], items_o: list[dict],
) -> tuple[dict[str, str], list[dict]]:
    """fallback_processor.py:518-620 — SECTION-level pick (audit §11): the
    priority side (text for header/vendor/customer/items/payment, OCR for
    totals/shipping, :536-544) wins the WHOLE section whenever it has any
    meaningful data (:549-557); only when it is empty does the other side's
    section apply. A key missing from the winning side is NOT back-filled
    from the loser — the reference copies the primary section object
    wholesale. (Its final per-key merge branch, :560, runs only when
    NEITHER side has data — vacuously empty in our non-empty-dict model.)

    AUDIT §21: this combiner is DEAD CODE in the reference — its only
    caller is the unreachable hybrid elif (fallback_processor.py:238; the
    recommended method is always one of the four strings). It no longer
    runs in the live pipeline; it remains implemented (and gated as
    j1_hybrid_merge) as the documented J1 operator."""
    merged: dict[str, str] = {}
    sections: dict[str, list[str]] = {}
    for key in C.FIELD_ORDER[vendor]:
        sections.setdefault(key.split(".", 1)[0], []).append(key)
    for sec, keys in sections.items():
        prim, snd = (
            (fields_o, fields_t) if sec in SECTION_OCR_FIRST else (fields_t, fields_o)
        )
        if any(k in prim for k in keys):
            src = prim
        elif any(k in snd for k in keys):
            src = snd
        else:
            continue
        for k in keys:
            if k in src:
                merged[k] = src[k]
    items = items_t if items_t else items_o
    return merged, items


def _item_sort_key(it: dict, idx: int) -> tuple[int, int]:
    """T1 (text_pdf_processor.py:2600-2613; audit §13): digits-only int,
    EMPTY DIGITS → 0 (non-numeric lines sort FIRST, not last); list.sort
    stability = the idx tie-break."""
    digits = re.sub(r"\D", "", it["line"])
    return (int(digits) if digits else 0, idx)


def emit_spans(vendor: str, fields: dict[str, str], items: list[dict],
               spans: list[dict], info: list[str] | None = None) -> list[OutSpan]:
    out: list[OutSpan] = []
    o = 0
    for key in C.FIELD_ORDER[vendor]:
        if key in fields:
            out.append(OutSpan(f"field:{key}", fields[key], "", o))
            o += 1
    for idx, it in sorted(enumerate(items), key=lambda p: _item_sort_key(p[1], p[0])):
        out.append(OutSpan("item", it["serialized"], "", o))
        o += 1
        for mk in it["marks"]:
            out.append(OutSpan("mark", mk, "", o))
            o += 1
    # F13 additional_info: document-level section after the items (audit
    # §18; schlage_processor.py:849, :878)
    for inf in info or []:
        out.append(OutSpan("info", inf, "", o))
        o += 1
    for s in spans:
        if s["kind"] == "media":
            out.append(OutSpan("media", "", s["media_ref"], o))
            o += 1
    # L7: rule/line layout hints pass through after media, in reading order
    # (text_pdf_processor.py:719-728 keeps page.lines as bbox hints)
    for s in spans:
        if s["kind"] == "rule":
            out.append(OutSpan("rule", s["text"], "", o))
            o += 1
    return out


def score_confidence(vendor: str, fields: dict[str, str], items: list[dict]) -> float:
    """A1 (text_pdf_processor.py:1146-1168; audit §10): weighted mean of
    section extraction ratios NORMALIZED by the total weight — the reference
    scores all seven sections on every document (failures = 0.0), so the
    denominator is the constant 1.10 and sections outside the vendor's bank
    contribute 0.0 exactly like a reference section that extracted nothing.
    Items contribute 1.0 iff any item extracted."""
    sizes = C.SECTION_SIZES[vendor]
    got: dict[str, int] = {}
    for k in fields:
        sec = k.split(".", 1)[0]
        got[sec] = got.get(sec, 0) + 1
    score = 0.0
    for sec, w in C.CONF_WEIGHTS.items():
        if sec == "items":
            score += w * (1.0 if items else 0.0)
        elif sizes.get(sec):
            score += w * (got.get(sec, 0) / sizes[sec])
    return round(score / C.CONF_TOTAL_WEIGHT, 4)


# ---------------------------------------------------------------------------
# Whole-document oracle
# ---------------------------------------------------------------------------
def extract_document(doc_id: str, spans: list[dict]) -> dict:
    """Returns {vendor, route, out_spans, validation_failed, ocr_used}."""
    # detection text = both route assemblies (matches the engine's
    # single-pass construction; rlike/contains don't care about ordering).
    # The OCR side is the SELECTED engine output (O4/O5).
    ocr_text = select_ocr_text(spans)
    all_text = assemble(spans, "text") + "\n" + ocr_text
    vendor, conf = detect_vendor(doc_id, all_text)
    route = route_document(vendor, spans)

    text = assemble(spans, "text")
    fields = items = None
    side = "text"
    if route == "text":
        src_text = text
    elif route == "ocr":
        # O3/O4/O5: the dual-engine selection's winner (or near-tie merge)
        src_text, side = ocr_text, "ocr"
    elif vendor == "schlage":
        # hybrid, specialized: O6 comprehensive pick — ONE extraction of
        # the winning candidate (audit §21; the J1 combiner is dead code
        # in the reference, fallback_processor.py:238 is unreachable)
        src_text = schlage_pick_text(
            text, ocr_full_text(spans), ocr_engine_conf01(spans)
        )
    elif vendor == "generic":
        # hybrid, live *_fallback chain: extract the primary side, check
        # P10 adequacy, else the secondary side WHOLESALE (fallback
        # :218-235 — no merge, no comparison at this layer)
        prim = generic_fb_primary(spans)
        p_text, s_text = (ocr_text, text) if prim == "ocr" else (text, ocr_text)
        f_p, i_p = _parse_side(vendor, prim, p_text)
        conf = (
            a3_text_confidence(vendor, f_p, i_p)
            if prim == "text"
            else a4_ocr_confidence(p_text)
        )
        if p10_adequate(vendor, f_p, i_p, conf):
            src_text, side = p_text, prim
            fields, items = f_p, i_p
        else:
            src_text = s_text
            side = "text" if prim == "ocr" else "ocr"
    else:
        # hybrid, ceco/steelcraft: their specialized processors are
        # text-only — the OCR side is never consulted (audit §21)
        src_text = text

    if fields is None:
        fields, items = _parse_side(vendor, side, src_text)

    # F13 additional_info is schlage-only and DOCUMENT-level, harvested
    # from the text the specialized processor settled on (audit §18/§21)
    info: list[str] = []
    if vendor == "schlage":
        info = _schlage_additional_info(src_text)

    # step 3b (audit §22): global validate → fallback → compare → enhance.
    # The method label is what the dispatcher WRAPPER pins, not what ran:
    # specialized vendors per STEP3B_METHOD; generic carries the side its
    # result actually came from.
    if vendor in C.STEP3B_METHOD:
        method = C.STEP3B_METHOD[vendor]
    else:
        method = "ocr" if (route == "ocr" or src_text == ocr_text) else "text"
    fields, items, info = step3b(
        vendor, method, fields, items, info, text, ocr_text
    )

    out = emit_spans(vendor, fields, items, spans, info)
    return {
        "vendor": vendor,
        "confidence": conf,
        "extraction_confidence": score_confidence(vendor, fields, items),
        "route": route,
        "out_spans": out,
        "validation_failed": int("header.invoice_number" not in fields),
        "ocr_used": int(route in ("ocr", "hybrid")),
        "n_pages": max(1, sum(1 for s in spans if s["kind"] == "page_break")),
    }
