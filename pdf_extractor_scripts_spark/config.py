"""Shared extraction configuration: vendor detection patterns, routing
thresholds, per-vendor field pattern banks, and the canonical output-span
emission order.

This is the engine's equivalent of the reference's pattern banks
(text_pdf_processor.py:106-365, ceco_processor.py:86-205,
steelcraft_processor.py:87-130, schlage_processor.py:82-130) and vendor
thresholds (pdf_text_detector.py:77-115). In the Spark engine the effective
banks are snapshotted BY VALUE into the extraction UDF closure at plan-build
time (operators/extract.py::_make_extract_udf) — executor workers re-import
this module and would otherwise see pristine defaults, dropping S8 overrides;
thresholds/ratios become plan literals driver-side (operators/detect.py). The
pure-Python oracle (oracle.py) reads the same banks so both sides share one
spec.
"""

from __future__ import annotations

import re


# ---------------------------------------------------------------------------
# Vendor detection (vendor_detector.py:34-86 filename; :108-153 content)
# ---------------------------------------------------------------------------
FILENAME_PATTERNS: dict[str, list[str]] = {
    # doc_id path prefixes/stems per FIXTURES.md §1
    "ceco": [r"^ceco/", r"F\d+[A-Z]*-I-\d+"],
    "steelcraft": [r"^steelcraft/", r"Steelcraft"],
    "schlage": [r"^schlage/", r"Schlage"],
}

CONTENT_PATTERNS: dict[str, list[str]] = {
    "ceco": [r"Ceco Door Products", r"MILAN, TN", r"YOU MAY DEDUCT A DISCOUNT"],
    "steelcraft": [r"STEELCRAFT", r"NET SALES:", r"MAT\. INFLATION SURCHARGE"],
    "schlage": [r"Schlage Lock Co", r"ALLEGION\.COM", r"USD TOTAL:"],
}

CONTENT_KEYWORDS: dict[str, list[str]] = {
    "ceco": ["TELECOM", "FRAME"],
    "steelcraft": ["JAMB", "ANCHOR"],
    "schlage": ["BRAND CARRIER", "WAYBILL"],
}

# pdf_text_detector.py:77-115 — per-vendor selectable-text thresholds.
TEXT_THRESHOLDS: dict[str, int] = {
    "ceco": 100,
    "steelcraft": 75,
    "schlage": 30,
    "generic": 50,
}
# pdf_text_detector.py:85-110 per-vendor quality thresholds (audit §20).
# The P8 cascade routes 'text' only when the P6 quality score of the
# detection sample clears this bound; since every threshold is >= 0.5, the
# cascade's separate "tier >= MEDIUM" condition (tier MEDIUM starts at
# score 0.5, :318-322) is subsumed by the score comparison.
QUALITY_THRESHOLDS: dict[str, float] = {
    "ceco": 0.7,
    "steelcraft": 0.6,
    "schlage": 0.5,
    "generic": 0.6,
}
# P6 invoice-pattern bank used by the quality score (:283-289)
P6_INVOICE_PATTERNS = [
    r"\b(?:invoice|bill|receipt)\b",
    r"\b(?:total|amount|price|cost)\b",
    r"\b(?:date|qty|quantity)\b",
    r"\$\d+\.?\d*",
    r"\b\d{1,3}(?:,\d{3})*(?:\.\d{2})?\b",
]

MIN_TEXT_RATIO: dict[str, float] = {
    "ceco": 0.8,
    "steelcraft": 0.6,
    "schlage": 0.3,
    "generic": 0.5,
}

# ceco_processor.py:376-426 — repetitive page-header patterns to drop.
PAGE_HEADER_FILTERS: list[str] = [
    r"^Page:\s*\d+\s*of\s*\d+$",
    r"^C\s*us\s*t\s*o\s*m\s*e\s*r\s*P\s*O\s*:$",
    r"^Line\s+Plant\s+Item Number$",
    r"^Ord\s+Shp\s+BO$",
    r"^INVOICE$",
]

# ---------------------------------------------------------------------------
# Field banks. Each field: ordered list of regexes, group 1 unless noted.
# Selection semantics differ per vendor, mirroring the reference call sites
# (audit §15):
#   * ceco / steelcraft / schlage: first-match-wins re.search loops in the
#     vendor processors (ceco_processor.py:362-374; steelcraft_processor.py
#     :342-390/:662-688; schlage_processor.py:992-1058/:1943-1958).
#   * generic: DynamicPatternExtractor (text_pdf_processor.py:439-537) —
#     findall over ALL patterns, confidence = weight * (1 - 0.1*index) *
#     match quality (len<2 → 0.3, len>50 → 0.7, pure-digit len<3 → ×0.5;
#     :495-512), argmax with ties keeping enumeration order; the per-pattern
#     weights live in GENERIC_WEIGHTS below.
# Regex flags and value post-processing are per call site too — see
# field_flags / field_strip / field_comma_strip below.
# ---------------------------------------------------------------------------
FIELD_BANKS: dict[str, dict[str, list[str]]] = {
    "ceco": {
        # ceco_processor.py:86-205 (ordered pattern lists: first match wins,
        # later entries are fallbacks — DynamicPatternExtractor semantics)
        "header.invoice_number": [r"Invoice Number:\s*(\d{8})", r"INV NO:\s*(\d{8})"],
        "header.invoice_date": [r"Invoice Date:\s*(\d{1,2}/\d{1,2}/\d{2})"],
        "header.order_no": [r"Order No:\s*([A-Z]\d+[A-Z]*-\d+)"],
        "header.customer_po": [r"Customer PO:\s*([A-Za-z0-9-]+)"],
        "header.due_date": [r"TOTAL DUE IS PAYABLE ON (\d{1,2}/\d{1,2}/\d{2})"],
        "vendor.name": [r"(Ceco Door Products)"],
        "vendor.phone": [r"\((\d{3})\) (\d{3})-(\d{4})"],
        "totals.discount": [r"YOU MAY DEDUCT A DISCOUNT OF \$\s*([\d,]+\.\d{2})"],
        # combined line first (ceco_processor.py:616-621); 'TOTAL SALE:'
        # fallback (:622-628)
        "totals.subtotal": [
            r"YOU MAY DEDUCT A DISCOUNT OF \$\s*[\d,]+\.\d{2}\s+([\d,]+\.\d{2})",
            r"([\d,]+\.\d{2})\s+TOTAL SALE:",
        ],
        # ceco_processor.py:636-647 tries both freight forms in order
        # (first match wins) before the no-freight default.
        "totals.freight": [
            r"FREIGHT CHARGE\s*([\d,]+\.?\d*)",
            r"FREIGHT:\s*([\d,]+\.?\d*)",
        ],
        "payment.terms": [r"(\d+% \d+ DAYS, NET \d+)"],
        "shipping.tracking": [r"SHIPMENT TRACKING NUMBER\s+([A-Z0-9]+)"],
        "shipping.origin": [r"ORDER SHIPPED FROM (\d+ - [A-Z ]+)"],
    },
    "steelcraft": {
        # steelcraft_processor.py:87-130, 341, 658-694
        "header.invoice_number": [r"^\d{4}\s+(\d{6}-\d{2})\s"],
        "header.invoice_date": [r"^\d{4}\s+\d{6}-\d{2}\s+(\d{1,2}/\d{2}/\d{2})"],
        "header.order_number": [r"^\d{4}\s+\d{6}-\d{2}\s+\d{1,2}/\d{2}/\d{2}\s+(\d+)"],
        "vendor.name": [r"(STEELCRAFT)"],
        "totals.net_sales": [r"NET SALES:\s*([\d,]+\.\d{2})"],
        "totals.weight": [r"TOTAL WEIGHT / LBS:\s*(\d+)"],
        "totals.discount": [r"TOTAL DISCOUNT:\s*([\d,]+\.\d{2})"],
        "totals.tax": [r"TAX AMOUNT:\s*([\d,]+\.\d{2})"],
        "totals.total": [r"TOTAL AMOUNT:\s*([\d,]+\.\d{2})"],
        "totals.surcharge": [r"MAT\. INFLATION SURCHARGE:\s*([\d,]+\.\d{2})"],
        "payment.early_pay": [r"IF PAID BY (\d{1,2}/\d{2}/\d{2}) YOUR \d+% DISCOUNT IS \$([\d,]+\.\d{2})"],
        "payment.terms": [r"(\d+% \d+)\s*$", r"(NET \d+ DAYS)"],
        "shipping.fob": [r"FOB - ([A-Za-z ]+)"],
    },
    "schlage": {
        # schlage_processor.py:82-130, 2995-3054
        "header.invoice_number": [r"INVOICE#\s*(\d+)"],
        "header.invoice_date": [r"INVOICE DATE\s*(\d{2}-[A-Z]{3}-\d{2})"],
        "header.order_number": [r"ORDER#\s*(\d+)"],
        "header.customer_po": [r"CUSTOMER PO#\s*([A-Za-z0-9-]+)"],
        "header.customer_number": [r"CUSTOMER#\s*(\d+)"],
        "header.quote_number": [r"QUOTE NUMBER\s*(\d+)"],
        "vendor.name": [r"SELLER:\s*(Schlage Lock Co\. LLC)"],
        "vendor.email": [r"([A-Z_]+@[A-Z]+\.COM)"],
        "payment.terms": [r"PAYMENT TERMS\s*(NET \d+)"],
        "totals.subtotal": [r"SUBTOTAL:\s*([\d,]+\.\d{2})"],
        "totals.surcharges": [r"SURCHARGES:\s*([\d,]+\.\d{2})"],
        "totals.shipping": [r"RESTOCK FEE/SHIPPING and HANDLING:\s*([\d,]+\.\d{2})"],
        "totals.total": [r"USD TOTAL:\s*([\d,]+\.\d{2})"],
    },
    "generic": {
        # text_pdf_processor.py:258-348 generic bank
        "header.invoice_number": [r"Invoice Number:\s*([A-Z]+-\d+)", r"Invoice #:\s*(\S+)"],
        "header.invoice_date": [r"Invoice Date:\s*(\d{1,2}/\d{1,2}/\d{2})"],
        "vendor.email": [r"([a-z0-9._]+@[a-z0-9.]+\.[a-z]{2,})"],
        "vendor.phone": [r"(\(\d{3}\) \d{3}-\d{4})"],
        # total_sale family (text_pdf_processor.py:296-300): the first form's
        # loose amount tail ([\d,]+\.?\d*) can capture degenerate short
        # values, which the DynamicPatternExtractor quality score then
        # demotes below the later Subtotal form — the argmax-vs-first-match
        # distinction this bank exists to exercise.
        "totals.subtotal": [
            r"Total Sale:\s*\$?\s*([\d,]+\.?\d*)",
            r"Subtotal:\s*\$([\d,]+\.\d{2})",
        ],
        "totals.tax": [r"Tax:\s*\$([\d,]+\.\d{2})"],
        "totals.total": [r"Invoice Total:\s*\$([\d,]+\.\d{2})"],
    },
}

# Per-pattern confidence weights for the generic (DynamicPatternExtractor)
# bank, mirroring the reference's FieldPattern weights
# (text_pdf_processor.py:258-348: invoice_number 0.7/0.6, total_sale
# 0.8/subtotal 0.7, email 0.9, phone 0.8, tax 0.8, invoice_total 0.9,
# dates 0.7). Unlisted keys default to 1.0 per pattern.
GENERIC_WEIGHTS: dict[str, list[float]] = {
    "header.invoice_number": [0.7, 0.6],
    "header.invoice_date": [0.7],
    "vendor.email": [0.9],
    "vendor.phone": [0.8],
    "totals.subtotal": [0.8, 0.7],
    "totals.tax": [0.8],
    "totals.total": [0.9],
}


def field_flags(vendor: str, key: str) -> int:
    """Regex flags per reference call site (audit §15).

    ceco: non-totals fields go through _extract_field_with_patterns
    (ceco_processor.py:364 — re.IGNORECASE | re.MULTILINE); totals through
    _extract_totals (:617-642 — no flags). schlage: header/vendor/payment
    searches pass re.IGNORECASE (schlage_processor.py:1004-1054, :1173-1193,
    :1946); the totals amount patterns are per-line searches with no flags
    (:3007-3037). steelcraft: no flags at any call site (:342-390, :662-688,
    :717-734) — our ^-anchored generalizations of its sample-literal
    patterns keep re.M so the anchor means line start (documented
    deviation). generic: DynamicPatternExtractor findall runs
    re.IGNORECASE | re.MULTILINE (text_pdf_processor.py:449).
    """
    totals = key.startswith("totals.")
    if vendor == "ceco":
        return 0 if totals else re.IGNORECASE | re.MULTILINE
    if vendor == "schlage":
        return 0 if totals else re.IGNORECASE
    if vendor == "steelcraft":
        return re.MULTILINE
    return re.IGNORECASE | re.MULTILINE


def field_strip(vendor: str, key: str) -> bool:
    """Whether the reference .strip()s the captured value: ceco non-totals
    (ceco_processor.py:366), schlage payment terms (:1948) and sales-rep
    style fields, and every generic value (text_pdf_processor.py:457)."""
    if vendor == "ceco":
        return not key.startswith("totals.")
    if vendor == "schlage":
        return key == "payment.terms"
    return vendor == "generic"


def field_comma_strip(vendor: str, key: str) -> bool:
    """ceco totals values are stored comma-stripped — .replace(',', '') at
    ceco_processor.py:620-647; other vendors keep the raw match."""
    return vendor == "ceco" and key.startswith("totals.")

# F5 — address-block extraction (audit §16). Schlage BILL TO/SHIP TO is a
# line state machine (schlage_processor.py:1244-1352): section start/stop by
# SUBSTRING containment on the UPPERCASED stripped line (same-line content
# after the header is DISCARDED — :1260-1262), collection unbounded until a
# terminator, a len>2 meaningful-line gate, then per-line classification
# with unanchored IGNORECASE searches: company = first line matching
# neither street nor city, street = LAST matching line (no first-wins
# guard), city = LAST match's captured group stripped. BILL TO splits
# company before 'CUSTOMER PO#' and city before 'ORDER DATE'; SHIP TO skips
# 'NET DUE DATE'/'SALES REP' lines (company from before SALES REP), skips
# standalone 7-8 digit customer numbers, and truncates street at
# 'JOB NAME'. CECO sold/ship/remit variants stay pattern-based
# (text_pdf_processor.py:1925-2032).
SCHLAGE_ADDR_SECTIONS: list[tuple[str, str]] = [
    ("customer.bill_to", "BILL TO"),
    ("customer.ship_to", "SHIP TO"),
]
# schlage_processor.py:1266 — next-major-section keywords
SCHLAGE_ADDR_TERMINATORS = ("BRAND CARRIER", "QUOTE NUMBER", "PAYMENT TERMS")
# :1301/:1306 street and :1302/:1310 city classifiers (searched, IGNORECASE)
SCHLAGE_ADDR_STREET = r"\d+\s+[A-Z\s]+(ST|STREET|DRIVE|DR|AVENUE|AVE|BLVD)"
SCHLAGE_ADDR_CITY = r"[A-Z\s]+,?\s*[A-Z]{2}\s*\d{5}"

# audit §17 — CECO customer/remit are PATTERN-based over the whole text
# (ceco_processor.py:720-800 via _extract_field_with_patterns:
# first-match-wins per ordered list, IGNORECASE|MULTILINE, stripped
# group(1)), NOT a line machine. Character classes containing \s cross
# newlines, so some captures are multi-line by design. Pattern lists are
# the reference's verbatim (:146-176 customer_info; :783-802 remit).
CECO_CUSTOMER_PATTERNS: dict[str, list[str]] = {
    # sold_to_id (:147-151): the bare (\d{8}) fallback makes the id the
    # FIRST 8-digit number in the text — usually the invoice number
    "id": [
        r"S\s*o\s*ld\s*to\s*:\s*(\d+)",
        r"Sold to:\s*(\d+)",
        r"(\d{8})",
    ],
    "company": [
        r"(COOK & BOARDMAN INC)",
        r"(COOK & BOARDMAN JACKSONVILLE)",
        r"(COOK AND BOARDMAN [A-Z]+)",
        r"(COOK & BOARDMAN [A-Z]*)",
        r"([A-Z][A-Z\s&]+INC\.?)",
        r"([A-Z][A-Z\s&]+LLC)",
    ],
    "address": [
        r"(\d{3}\s+MASON\s+RD)",
        r"(\d{4}\s+IMESON\s+PARK\s+BLVD)",
        r"(STE\s+\d+)",
        r"(\d+\s+[A-Z\s]+(?:RD|ROAD|DR|DRIVE|ST|STREET|AVE|AVENUE|BLVD|BOULEVARD)\.?)",
    ],
    # suite / line-2 (:750-752)
    "suite": [r"(STE\s+\d+)", r"(SUITE\s+\d+)", r"(APT\s+\d+)"],
    "city": [
        r"(LA VERGNE\s+TN\s+\d{5})",
        r"(JACKSONVILLE\s+FL\s+\d{5})",
        r"([A-Z\s]+\s+[A-Z]{2}\s+\d{5})",
    ],
}
CECO_REMIT_PATTERNS: dict[str, list[str]] = {
    "company": [
        r"Please Remit to:\s*([A-Z][A-Za-z\s&]+)",
        r"Remit to:\s*([A-Z][A-Za-z\s&]+)",
    ],
    "address": [
        # the reference's first pattern contains literal backslash-n text
        # (raw-string [^\\n] escaping bug) and can never match real text —
        # kept verbatim so the list behaves identically (:791)
        r"Please Remit to:[^\\n]*\\n([^\\n]+)",
        r"(\d{3,5}\s+[A-Za-z\s]+Center)",
        r"(\d{3,5}\s+[A-Za-z\s]+)",
    ],
    "city": [
        r"([A-Z][a-z]+,?\s+[A-Z][a-z]+\s+\d{5}(?:-\d{4})?)",
        r"([A-Z][A-Za-z\s]+\s+\d{5}(?:-\d{4})?)",
    ],
}
# span keys emitted by the CECO customer/remit extractor, in order
CECO_ADDR_KEYS: list[str] = [
    "customer.sold_to_id",
    "customer.sold_to_company",
    "customer.sold_to_street",
    "customer.sold_to_citystate",
    "vendor.remit_company",
    "vendor.remit_street",
    "vendor.remit_citystate",
]

ADDRESS_CONFIG: dict[str, dict] = {}

def _address_keys(vendor: str) -> list[str]:
    if vendor == "schlage":
        return [
            f"{sec}_{part}"
            for sec, _ in SCHLAGE_ADDR_SECTIONS
            for part in ("company", "street", "citystate")
        ]
    if vendor == "ceco":
        return list(CECO_ADDR_KEYS)
    return []

# Canonical field emission order per vendor (drives output-span `order`) —
# deterministic total ordering is contract-critical (SURVEY.md §7.3(1)).
FIELD_ORDER: dict[str, list[str]] = {
    v: list(bank.keys()) for v, bank in FIELD_BANKS.items()
}
# address-block fields (computed by the F5 extractors, not the regex
# bank) emit after the header section for vendors with an address config:
for _v in ("ceco", "schlage"):
    _keys = FIELD_ORDER[_v]
    FIELD_ORDER[_v] = (
        [k for k in _keys if k.startswith("header.")]
        + _address_keys(_v)
        + [k for k in _keys if not k.startswith("header.")]
    )

# ---------------------------------------------------------------------------
# Line-item grammars
# ---------------------------------------------------------------------------
# ceco_processor.py:454 — two-pass extractor, pass 1 header:
CECO_ITEM_HEADER = r"^(\d{3})\s+(\d{3})\s+([A-Z0-9]+)\s+(\d+)\s+(\d+)(?:\s+(\d+))?$"
# ceco_processor.py:507-510 — pricing line inside the forward scan window:
CECO_PRICING = r"^([A-Z0-9 /-]+?)\s+([\d,]+\.\d{3})\s+([\d,]+\.\d{3})\s+([\d,]+\.\d{2})\s+([\d,]+\.\d{2})$"
# ceco_processor.py:482-491: search_end = min(len, header+50) EXCLUSIVE →
# the scan covers header+1..header+49 = 49 lines (audit §14 fixed the
# round-1/2 off-by-one that scanned 50)
CECO_SCAN_WINDOW = 49
# mark formats (text_pdf_processor.py:2895-2979; audit §6):
# labeled: reference findall pattern (:2899) — charset-restricted capture,
# whitespace REQUIRED after the colon, case-insensitive; each comma part is
# then validated against the format gates below (:2919-2948).
CECO_MARK_LABELED = r"MARK\s*NO\s*:\s+([A-Za-z0-9.,()]+)"
# standalone pattern-extraction forms (:2958-2969): 4-8 digit parenthesized
# and 2-3 digit decimals with 1-2 decimal places; anchored to the whole line
# = the reference's highest-confidence "appears standalone" case, which its
# scoring gate (+4/+5 format, +3 standalone) always accepts.
CECO_MARK_STANDALONE = r"^(\d{4,8}\(\d{1,3}\))$"
CECO_MARK_DECIMAL = r"^(\d{2,3}\.\d{1,2})$"
# labeled-mark validation gates (_is_valid_mark_number_format, :2919-2948):
# price-like forms are rejected FIRST, then any accept pattern passes
# (IGNORECASE).
CECO_MARK_PRICE_REJECT = r"^\d+\.\d{2}$"
CECO_MARK_VALID = [
    r"^\d+\.\d{1}$",          # decimal marks: 101.2, 103.1
    r"^[A-Z]+\d+\(\d+\)$",    # HAP1(56), D001(56)
    r"^[A-Z]+\d+$",           # HAP2, D001
    r"^\d{4,}\(\d+\)$",       # 8241799(40), 12345(20)
    r"^\d{6,}$",              # bare long numbers: 8241799
]
# component lines (text_pdf_processor.py:2646-2652):
CECO_COMPONENT = r"^(MATERIAL|WELD|LABOR|FREIGHT|TAX) AMOUNT\s+([\d,]+\.\d{3})\s+([\d,]+\.\d{3})\s+([\d,]+\.\d{2})\s+([\d,]+\.\d{2})$"

# steelcraft_processor.py:457/461 item patterns:
STEELCRAFT_ITEM_F164 = r"^(\d{3})\s+([\d.]+)\s+([\d.]+)\s+(F 164)\s+(.+?)\s+([\d,]+)\s+\.(\d{2})\s+(\d+)\s+(\d+)\s+([\d,]+\.\d{2})$"
STEELCRAFT_ITEM_ANCHOR = r"^(\d{3})\s+([\d.]+)\s+([\d.]+)\s+(UJA-\d+)\s+(.+?)\s+\.(\d)\s+(\d+)\s+(\d+)\s+([\d,]*\.\d{2})$"
STEELCRAFT_SPEC_WINDOW = 20  # :536-569
STEELCRAFT_SPECS = [
    ("jamb_depth", r"^JAMB DEPTH (.+)$"),
    ("opening_width", r"^OPENING WIDTH (.+)$"),
    ("opening_height", r"^OPENING HEIGHT (.+)$"),
    ("hand_of_frame", r"^HAND OF FRAME (.+)$"),
]
# steelcraft_processor.py:627-655 (audit §14): marks live in their OWN
# 30-line window (range(start+1, min(start+31, len)) — NOT the 20-line spec
# window), bounded early by the first item-like line; the header test is a
# SUBSTRING containment; the first MARK NUMBERS header wins and its value
# comes from the first non-empty line within the next 3 that has matches,
# each rendered as 'NNN (q)'.
STEELCRAFT_MARKS_WINDOW = 30
STEELCRAFT_MARKS_HEADER = "MARK NUMBERS:"          # substring test (:640)
STEELCRAFT_MARK_MATCH = r"(\d{3})\s*\((\d+)\)"     # findall form (:646)
STEELCRAFT_ITEM_LIKE = r"^\d{3}\s+\d+\.\d+\s+\d+\.\d+"  # break pattern (:636)
STEELCRAFT_MARKS_INNER = 3                          # range(i+1, min(i+4, len))
# steelcraft_processor.py:588-609 pricing-detail forward scan (<=30 lines)
# and :708 discount line (<=10 lines)
STEELCRAFT_PRICING_WINDOW = 30
STEELCRAFT_DISCOUNT_WINDOW = 10
STEELCRAFT_PRICING_DETAIL = r"^(BASE FRAME LIST PRICE|LABEL|WELD|GLAZING)\s+([\d,]+\.\d{2})$"
STEELCRAFT_DISCOUNT_LINE = r"^([\d.]+) %$"

# schlage_processor.py:1567-1578 main item line:
SCHLAGE_ITEM = (
    r"^(SCHLAGE|VON DUPRIN|LCN|FALCON|AGN_SURCHARGE)\s+(UPS|FEDEX|FREIGHT|EXP)\s+(EXP\s+)?"
    r"(\d+)\s+(\d+)\s+(\d+)\s+(\S+)\s+\|(.+?)\|\s+([A-Z]{3} \d{1,2})\s+"
    r"([\d,]+\.\d{2})\s+([\d.]+)/(\d{2})\s+([\d,]+\.\d{2})$"
)
SCHLAGE_WAYBILL_WINDOW = 7  # schlage_processor.py:1415 range(i+1, min(i+8, len(lines))) scans i+1..i+7 (7 lines, EOF-bounded only)
SCHLAGE_WAYBILL_BASE = r"1Z[A-Z0-9]{13,16}"   # searched anywhere (:1420)
SCHLAGE_WAYBILL_FULL = r"1Z[A-Z0-9]{16}"      # complete-form findall (:1441)
SCHLAGE_WAYBILL_CONT = r"^(\d{2,4})"          # continuation, next 2 lines (:1427)
SCHLAGE_WAYBILL_MIN_BASE = 15                 # base alone kept iff >= 15 chars (:1437)
SCHLAGE_FEDEX_KEYWORDS = ["FEDEX", "FDX"]     # :1447-1452
SCHLAGE_FEDEX_NUMBER = r"\d{12,14}"
# freight terms: first line containing any keyword, whole line (:1455-1458)
SCHLAGE_FREIGHT_KEYWORDS = ["PREPAY", "COLLECT", "FOB", "FREIGHT", "SHIPPING"]
# schlage_processor.py:1908-1920 derived-totals quirk: when totals lines are
# missing, surcharge = 2% and shipping = 3% of subtotal.
SCHLAGE_SURCHARGE_RATIO = 0.02
SCHLAGE_SHIPPING_RATIO = 0.03

# O6 — schlage comprehensive text selection (audit §21,
# schlage_processor.py:168-228): three doc-level candidates — selectable
# text (stripped len > 100), pdfplumber text (> 50; the same string in our
# single-parser model), multi-OCR (> 50) — picked by max confidence with
# ties keeping the first. Text candidates score _calculate_text_quality
# (:395-427, a 0-100 scale); the OCR candidate's confidence is the
# per-page engine confidence, which BOTH engine paths return on a 0-1
# scale (tesseract conf/100 at :490, easyocr readtext confidences at
# :505-521) — so any text candidate past its length gate beats OCR, and
# OCR wins only when the selectable text is <= 50 stripped chars.
SCHLAGE_O6_SELECTABLE_MIN = 100   # exclusive (:182)
SCHLAGE_O6_TEXT_MIN = 50          # exclusive (:196, :211)
SCHLAGE_O6_QUALITY_KEYWORDS = [
    "invoice", "schlage", "allegion", "total", "amount", "qty", "price",
    "customer", "order", "date", "bill", "ship", "payment",
]

# P10/A3/validator — the generic *_fallback adequacy chain (audit §21,
# fallback_processor.py:218-235, :392-422, :424-496; data_validator.py:
# 36-128). Field-name maps from the reference's section.field space to our
# span keys; customer company is per-vendor (ceco sold_to, schlage
# bill_to; steelcraft/generic extract none).
MIN_CONFIDENCE_THRESHOLD = 70.0   # robust_pdf_processor.py:265 default
VALIDATOR_REQUIRED = {
    "header": ["header.invoice_number", "header.invoice_date"],
    "vendor": ["vendor.name"],
    "customer": {"ceco": ["customer.sold_to_company"],
                 "schlage": ["customer.bill_to_company"],
                 "steelcraft": ["customer.company"],
                 "generic": ["customer.company"]},
    # line-item fields in our serialized-key space, per vendor
    "items": {"ceco": ["line", "desc", "ord", "net"],
              "steelcraft": ["line", "desc", "ord", "list"],
              "schlage": ["line", "desc", "ord", "unit"],
              "generic": ["line", "desc", "qty", "unit"]},
}
# substrings that make a missing field "critical" (fallback :414-416)
P10_CRITICAL = ("invoice_number", "line_items", "company_name")
# A3's numeric item fields (['quantity_ordered','unit_price',
# 'extended_amount'], fallback :485-487) in our serialized-key space
A3_NUMERIC_KEYS = {
    "ceco": ("ord", "net", "ext"),
    "steelcraft": ("ord", "list", "ext"),
    "schlage": ("ord", "unit", "ext"),
    "generic": ("qty", "unit", "ext"),
}

# THIRD bank family (audit §23): the generic OCR method parses with the
# image processor, whose field extraction is the F3 adaptive detector
# (enhanced_pattern_detector.py:54-373) plus static header/totals
# fallbacks and a 5-pattern line-item cascade
# (image_pdf_processor.py:608-1097, :923-948, :1155-1165). Patterns,
# context keywords, validity gates, ideal lengths and position priors
# verbatim; FieldType.CUSTOMER_PO has NO patterns in the reference's dict
# and so can never be extracted by F3 (the static header fallback is its
# only source).
F3_PATTERNS: dict[str, list[str]] = {
    "invoice_number": [
        r"invoice\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{6,})",
        r"inv\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{6,})",
        r"(?:^|\s)([A-Z0-9\-]{8,12})(?=\s|$)",
        r"(?:document|doc)\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{6,})",
        r"(?:bill|billing)\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{6,})",
    ],
    "invoice_date": [
        r"invoice\s*date\s*:?\s*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"date\s*:?\s*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"(?:bill|billing)\s*date\s*:?\s*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"(\d{4}[\/\-\.]\d{1,2}[\/\-\.]\d{1,2})",
    ],
    "order_number": [
        r"(?:order|purchase)\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{4,})",
        r"po\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{4,})",
        r"customer\s*po\s*:?\s*([A-Z0-9\-]{4,})",
        r"reference\s*(?:number|no|#)?\s*:?\s*([A-Z0-9\-]{4,})",
    ],
    "vendor_name": [
        r"(?:from|vendor|supplier)\s*:?\s*([A-Z][A-Za-z\s&\.,]{10,50})",
        r"^([A-Z][A-Za-z\s&\.,]{10,50})(?:\s*(?:inc|corp|llc|ltd)\.?)?",
        r"bill\s*from\s*:?\s*([A-Z][A-Za-z\s&\.,]{10,50})",
    ],
    "customer_name": [
        r"(?:to|customer|client|bill\s*to)\s*:?\s*([A-Z][A-Za-z\s&\.,]{5,50})",
        r"ship\s*to\s*:?\s*([A-Z][A-Za-z\s&\.,]{5,50})",
        r"sold\s*to\s*:?\s*([A-Z][A-Za-z\s&\.,]{5,50})",
    ],
    "total_amount": [
        r"(?:total|grand\s*total|invoice\s*total)\s*(?:\(USD\))?\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"amount\s*due\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"balance\s*due\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"total\s*amount\s*:?\s*\$?\s*([\d,]+\.?\d*)",
    ],
    "subtotal": [
        r"(?:sub\s*total|subtotal)\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"(?:net|before\s*tax)\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"merchandise\s*total\s*:?\s*\$?\s*([\d,]+\.?\d*)",
    ],
    "tax_amount": [
        r"(?:tax|sales\s*tax|vat)\s*:?\s*\$?\s*([\d,]+\.?\d*)",
        r"(?:state|local)\s*tax\s*:?\s*\$?\s*([\d,]+\.?\d*)",
    ],
    "payment_terms": [
        r"(?:terms|payment\s*terms)\s*:?\s*([^\\n]{10,50})",
        r"(?:net|due)\s*(\d+)\s*(?:days?)",
        r"(\d+%\s*\d+\s*days?,?\s*net\s*\d+)",
    ],
}
F3_CONTEXT_KEYWORDS: dict[str, list[str]] = {
    "invoice_number": ["invoice", "bill", "document", "number"],
    "invoice_date": ["date", "issued", "created", "bill"],
    "order_number": ["order", "purchase", "po", "reference"],
    "vendor_name": ["from", "vendor", "supplier", "company"],
    "customer_name": ["to", "customer", "client", "ship", "bill"],
    "total_amount": ["total", "amount", "due", "balance", "grand"],
    "subtotal": ["subtotal", "sub", "net", "before"],
    "tax_amount": ["tax", "vat", "sales", "state"],
    "payment_terms": ["terms", "payment", "net", "due"],
}
F3_IDEAL_LENGTHS: dict[str, tuple[int, int]] = {
    "invoice_number": (6, 15), "invoice_date": (8, 12),
    "order_number": (4, 20), "vendor_name": (10, 50),
    "customer_name": (5, 50), "total_amount": (3, 15),
    "subtotal": (3, 15), "tax_amount": (1, 10), "payment_terms": (5, 50),
}
F3_PREFERRED_POSITIONS: dict[str, tuple[float, float]] = {
    "invoice_number": (0.0, 0.3), "invoice_date": (0.0, 0.3),
    "vendor_name": (0.0, 0.2), "customer_name": (0.1, 0.4),
    "total_amount": (0.7, 1.0), "subtotal": (0.6, 0.9),
    "tax_amount": (0.6, 0.9), "payment_terms": (0.8, 1.0),
}
F3_AMOUNT_TYPES = ("total_amount", "subtotal", "tax_amount")
F3_NAME_TYPES = ("vendor_name", "customer_name")
# F3 field → our span key (image_pdf_processor.py:656-713 mapping)
F3_FIELD_MAP = {
    "invoice_number": "header.invoice_number",
    "invoice_date": "header.invoice_date",
    "order_number": "header.order_number",
    "vendor_name": "vendor.name",
    "customer_name": "customer.company",
    "total_amount": "totals.total",
    "subtotal": "totals.subtotal",
    "tax_amount": "totals.tax",
    "payment_terms": "payment.terms",
}
# static fallbacks (:925-948 header, :1157-1165 totals)
IMG_HEADER_FALLBACK: dict[str, list[str]] = {
    "header.invoice_number": [
        r"invoice\s*number\s*:?\s*([0-9]{8})",
        r"invoice\s*#?\s*:?\s*([0-9]{8})",
        r"\b([0-9]{8})\b",
    ],
    "header.invoice_date": [
        r"invoice\s*date\s*:?\s*(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})",
        r"date\s*:?\s*(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})",
        r"\b(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})\b",
    ],
    "header.order_number": [
        r"order\s*no\s*:?\s*([A-Z0-9\-]+)",
        r"order\s*number\s*:?\s*([A-Z0-9\-]+)",
    ],
    "header.customer_po": [
        r"customer\s*po\s*:?\s*([A-Z0-9\-]+)",
        r"po\s*#?\s*:?\s*([A-Z0-9\-]+)",
    ],
}
IMG_TOTALS_FALLBACK: dict[str, str] = {
    "totals.discount": r"discount\s*of\s*\$\s*([\d,]+\.?\d*)",
    "totals.total_sale": r"total\s*sale\s*:?\s*\$?\s*([\d,]+\.?\d*)",
    "totals.tax": r"tax\s*:?\s*\$?\s*([\d,]+\.?\d*)",
    "totals.total": r"invoice\s*total\s*\(USD\)\s*:?\s*\$?\s*([\d,]+\.?\d*)",
}
# the image line-item pattern cascade (:987-1002): first pattern with any
# valid item wins
IMG_ITEM_PATTERNS: list[str] = [
    r"(\d{3})\s+(\d{3})\s+(FR3PC)\s+(\d+)\s+(\d+)\s+3\s+PIECE\s+FRAME\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)",
    r"(\d{3})\s+(\d{3})\s+(FR3PC)\s+(\d+)\s+(\d+)\s+([^0-9]+?)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)",
    r"(\d{1,3})\s+(\d{2,3})\s+([A-Z0-9]+)\s+(\d+)\s+(\d+)\s+([^0-9]+?)\s+([\d.,]+)\s+([\d.,]+)\s+([\d.,]+)\s+([\d.,]+)",
    r"^(\d{1,3})\s+(\d{2,3})\s+([A-Z0-9]+)\s+(\d+)\s+(\d+)\s+(.+?)\s+([\d.,]+)\s+([\d.,]+)\s+([\d.,]+)\s+([\d.,]+)$",
    r"(\d{1,3})\s+([A-Z0-9]+)\s+(\d+)\s+([^0-9]+?)\s+([\d.,]+)\s+([\d.,]+)",
]
# keys emitted by the image route beyond the generic bank — give them
# stable emission slots after the generic bank keys in FIELD_ORDER
GENERIC_IMG_KEYS = ["header.order_number", "header.customer_po",
                    "vendor.name", "customer.company", "payment.terms",
                    "totals.discount", "totals.total_sale"]
FIELD_ORDER["generic"] = FIELD_ORDER["generic"] + [
    k for k in GENERIC_IMG_KEYS if k not in FIELD_ORDER["generic"]
]

# Step-3b fallback bank (audit §22): when a SCHLAGE specialized result is
# invalid or low-confidence, the dispatcher's fallback runs the generic
# TextPDFProcessor with its OWN schlage VendorConfig
# (text_pdf_processor.py:173-205) — a second, different bank family with
# per-pattern weights, consumed through the DynamicPatternExtractor
# argmax (audit §15 semantics). Patterns and weights verbatim.
TPP_SCHLAGE_BANK: dict[str, list[str]] = {
    "header.invoice_number": [
        r"invoice\s*number\s*:?\s*([A-Z0-9\-]{6,20})",
        r"invoice\s*#\s*:?\s*([A-Z0-9\-]{6,20})",
        r"\b([0-9]{6}-[0-9]{3})\b",
    ],
    "header.invoice_date": [
        r"invoice\s*date\s*:?\s*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"date\s*:?\s*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
        r"\b(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})\b",
    ],
    "vendor.name": [
        r"(Schlage)",
        r"(SCHLAGE)",
        r"(Allegion)",
        r"([A-Z][A-Za-z\s&]+(?:Inc|LLC|Corp|Company|Co\.|Ltd|Products|Services|Solutions)\.?)",
    ],
    "header.order_number": [
        r"order\s*number\s*:?\s*([A-Z0-9\-]{6,20})",
        r"order\s*no\s*:?\s*([A-Z0-9\-]{6,20})",
    ],
    "header.customer_po": [
        r"customer\s*po\s*:?\s*([A-Z0-9\-]{3,20})",
        r"po\s*#?\s*:?\s*([A-Z0-9\-]{3,20})",
    ],
}
TPP_SCHLAGE_WEIGHTS: dict[str, list[float]] = {
    "header.invoice_number": [0.8, 0.7, 0.6],
    "header.invoice_date": [0.8, 0.6, 0.4],
    "vendor.name": [0.9, 0.9, 0.8, 0.6],
    "header.order_number": [0.7, 0.6],
    "header.customer_po": [0.7, 0.6],
}
# the step-3b primary method per vendor — the dispatcher wrappers pin
# these regardless of what the specialized processor actually did
# (fallback_processor.py:706/:748/:790): steelcraft/ceco TEXT_EXTRACTION,
# schlage OCR; steelcraft's confidence is a FIXED 95.0 (:706)
STEP3B_METHOD = {"ceco": "text", "steelcraft": "text", "schlage": "ocr"}
STEELCRAFT_FIXED_CONFIDENCE = 95.0

# A7/J5 — cross-validation gap-fill (schlage_processor.py:944-971; audit
# §19): AFTER the totals parse and the derivation, surcharges/shipping
# still missing are filled from the raw text via these looser findall/
# IGNORECASE pattern lists (first match of the first matching pattern).
# The per-item surcharge association at :2810-2888 is DEAD CODE (its only
# caller :2769 is itself uncalled) and is deliberately not modeled.
SCHLAGE_XVAL_SURCHARGE = [
    r"SURCHARGES?:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
    r"FUEL\s+SURCHARGE:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
    r"ADDITIONAL\s+CHARGES?:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
]
SCHLAGE_XVAL_SHIPPING = [
    r"RESTOCK\s+FEE[/\s]*SHIPPING\s+(?:and\s+)?HANDLING:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
    r"SHIPPING\s+(?:and\s+)?HANDLING:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
    r"HANDLING:?\s*\$?(\d{1,3}(?:,\d{3})*\.\d{2})",
]

# F13 — additional-info harvester (schlage_processor.py:1980-2081; audit
# §18): a DOCUMENT-level two-phase harvest (not per-item). Phase 1:
# labeled useful patterns, findall IGNORECASE over the whole text, each
# match stripped and gated on 3 < len < 100 with a seen-set. Phase 2: per
# stripped line — skip empty/len<8 and the 35-pattern skip bank (searched
# IGNORECASE), then gate on 8 <= len <= 80, not startswith 'Page '
# (case-sensitive), no 'www.', not symbols-only, a 3+-letter run, and a
# 2..15 word count; order-preserving seen-set dedupe against phase 1.
SCHLAGE_INFO_USEFUL = [
    r"SPECIAL\s*INSTRUCTIONS[:\s]*([^\n\r]+)",
    r"NOTES?[:\s]*([^\n\r]+)",
    r"COMMENTS?[:\s]*([^\n\r]+)",
    r"REFERENCE[:\s]*([^\n\r]+)",
    r"PROJECT\s*#[:\s]*([^\n\r]+)",
    r"CONTRACT\s*#[:\s]*([^\n\r]+)",
    r"PURCHASE\s*ORDER[:\s]*([^\n\r]+)",
]
SCHLAGE_INFO_SKIP = [
    r"INVOICE\s*(NUMBER|DATE|#)",
    r"CUSTOMER\s*(PO|#|NUMBER)",
    r"ORDER\s*(NUMBER|DATE|#)",
    r"BILL\s*TO",
    r"SHIP\s*TO",
    r"SCHLAGE\s*LOCK",
    r"ALLEGION",
    r"UPS\s*EXP",
    r"^\d+\s*$",
    r"^\$[\d,]+\.?\d*$",
    r"^\d{1,2}-[A-Z]{3}-\d{2}$",
    r"QTY\s*(ORD|SHIP)",
    r"LIST\s*PRICE",
    r"UNIT\s*PRICE",
    r"AMOUNT",
    r"SUBTOTAL",
    r"TOTAL",
    r"SURCHARGE",
    r"SHIPPING",
    r"HANDLING",
    r"TAX",
    r"PAYMENT\s*TERMS",
    r"DISCOUNT\s*DATE",
    r"NET\s*DUE",
    r"SALES\s*REP",
    r"QUOTE\s*NUMBER",
    r"CARMEL,?\s*IN",
    r"CARY,?\s*NC",
    r"^\d+\s+\d+\s+\d+",
    r"WAY\s*BILL",
    r"FREIGHT\s*TERMS",
    r"PREPAY\s*&\s*ADD",
    r"1Z[A-Z0-9]+",
    r"NORTH\s*PENNSYLVANIA",
    r"E\s*CHATHAM\s*ST",
]
SCHLAGE_INFO_USEFUL_MIN = 3    # exclusive (:2004-2006)
SCHLAGE_INFO_USEFUL_MAX = 100  # exclusive
SCHLAGE_INFO_MIN_LEN = 8
SCHLAGE_INFO_MAX_LEN = 80
SCHLAGE_INFO_MIN_WORDS = 2
SCHLAGE_INFO_MAX_WORDS = 15

# text_pdf_processor.py:1523-1526 generic item line:
GENERIC_ITEM = r"^(\d+)\s+([A-Z]+-\d+)\s+(\d+)\s+(.+?)\s+([\d,]+\.\d{2})\s+([\d,]+\.\d{2})$"

PAGE_MARKER = "=== PAGE {n} ==="  # text_pdf_processor.py:668

# O3/O4/O5 — dual-OCR-engine selection (image_pdf_processor.py:434-599).
# The stub engines' deterministic confidences (real engines report their
# own; tesseract-analog primary, paddle-analog secondary).
OCR_ENGINE_CONF = {"primary": 80.0, "secondary": 75.0}
# quality-score keyword bank (image_pdf_processor.py:508-512)
OCR_QUALITY_KEYWORDS = [
    "invoice", "total", "amount", "date", "number", "customer", "vendor",
    "quantity", "price", "description", "line", "item", "tax", "subtotal",
]
# per-line merge keyword bank (image_pdf_processor.py:585-588)
OCR_LINE_KEYWORDS = ["invoice", "total", "amount", "date", "qty", "price",
                     "description"]
OCR_NEAR_TIE = 10.0  # |score1 - score2| below this → line-by-line combine

# A1 — overall confidence weights (text_pdf_processor.py:1146-1168: header
# .3, line_items .3, vendor .15, customer .15, totals .1). Section score =
# extracted keys / bank keys for that section; items = 1.0 iff any item.
# A1 weights (text_pdf_processor.py:1146-1168; audit §10): the reference
# populates a confidence score for ALL SEVEN sections on every document
# (failures score 0.0, :1015-1127), so payment_terms/shipping_info ride at
# the default 0.05 weight and the weighted sum is normalized by the total
# weight 1.10 — NOT left as a raw weighted sum.
CONF_WEIGHTS = {
    "header": 0.3,
    "items": 0.3,
    "vendor": 0.15,
    "customer": 0.15,
    "totals": 0.1,
    "payment": 0.05,   # default weight (weights.get(section, 0.05))
    "shipping": 0.05,  # default weight
}
CONF_TOTAL_WEIGHT = round(sum(CONF_WEIGHTS.values()), 6)  # 1.10

# per-vendor section sizes (how many keys FIELD_ORDER has per section) —
# computed once so the oracle and the engine's CASE literals agree.
def _section_sizes() -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for v, keys in FIELD_ORDER.items():
        sizes: dict[str, int] = {}
        for k in keys:
            sec = k.split(".", 1)[0]
            sizes[sec] = sizes.get(sec, 0) + 1
        out[v] = sizes
    return out


SECTION_SIZES = _section_sizes()


def load_overrides(path: str) -> dict:
    """S8 config source: load a YAML/JSON override file (the reference's
    schlage_config_template.yaml mechanism, schlage_processor.py:80-141) and
    apply it over the module banks via apply_overrides()."""
    text = open(path).read()
    try:
        import yaml  # optional; JSON accepted when absent

        return yaml.safe_load(text)
    except ImportError:
        import json

        return json.loads(text)


def apply_overrides(overrides: dict) -> dict:
    """Merge overrides into the live banks (reference semantics: template
    values replace defaults, unknown keys pass through —
    schlage_processor.py:96-141). Returns the inverse dict so tests can
    restore. Supported sections: text_thresholds, min_text_ratio,
    field_banks.<vendor>.<field> (list of patterns)."""
    inverse: dict = {"text_thresholds": {}, "min_text_ratio": {}, "field_banks": {}}
    for k, v in overrides.get("text_thresholds", {}).items():
        inverse["text_thresholds"][k] = TEXT_THRESHOLDS.get(k)
        TEXT_THRESHOLDS[k] = v
    for k, v in overrides.get("min_text_ratio", {}).items():
        inverse["min_text_ratio"][k] = MIN_TEXT_RATIO.get(k)
        MIN_TEXT_RATIO[k] = v
    for vendor, bank in overrides.get("field_banks", {}).items():
        inv_bank = inverse["field_banks"].setdefault(vendor, {})
        for field_key, patterns in bank.items():
            inv_bank[field_key] = FIELD_BANKS[vendor].get(field_key)
            FIELD_BANKS[vendor][field_key] = patterns
    return inverse


def restore_overrides(inverse: dict) -> None:
    for k, v in inverse.get("text_thresholds", {}).items():
        if v is None:
            TEXT_THRESHOLDS.pop(k, None)
        else:
            TEXT_THRESHOLDS[k] = v
    for k, v in inverse.get("min_text_ratio", {}).items():
        if v is None:
            MIN_TEXT_RATIO.pop(k, None)
        else:
            MIN_TEXT_RATIO[k] = v
    for vendor, bank in inverse.get("field_banks", {}).items():
        for field_key, patterns in bank.items():
            if patterns is None:
                FIELD_BANKS[vendor].pop(field_key, None)
            else:
                FIELD_BANKS[vendor][field_key] = patterns

