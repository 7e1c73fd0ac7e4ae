"""Deterministic synthetic interleaved-spans corpus generator (FIXTURES.md).

Renders CECO / Steelcraft / Schlage / generic "invoices" as ordered
(kind, text, media_ref, offset) spans whose text matches the reference regex
grammars, so extraction is non-trivially exercised:

* CECO: text-rich, two-pass line items with BO-valid and BO-invalid cases,
  all 3 mark formats, component lines, cross-page items, repetitive page
  headers that must be filtered (ceco_processor.py:376-426, :428-600).
* Steelcraft: both item grammars (F-164 frames, jamb anchors), spec lines,
  MARK NUMBERS blocks, the full totals block (steelcraft_processor.py:447-712).
* Schlage: media-heavy (spans kind='media' + 'media_text' sidecars feed the
  stub-OCR route), split-waybill continuation (schlage_processor.py:1420-1438),
  surcharge item vs totals-only synthesis (:1505-1553), derived-totals docs
  (:1908-1920).
* generic: plain invoices; a few corrupted docs (garbage text).
* one skew-tail doc with ~100x the median span count (salting test).

Everything is seeded — same (seed, n_docs) → byte-identical corpus.
"""

from __future__ import annotations

import random


def _money(rng: random.Random, lo: float, hi: float) -> str:
    v = round(rng.uniform(lo, hi), 2)
    return f"{v:,.2f}"


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.randint(23, 26)}"


def _ceco_lines(rng: random.Random, n_items: int) -> list[list[str]]:
    """Pages of lines for one CECO doc."""
    inv = rng.randint(10_000_000, 99_999_999)
    # ~20% of docs use the alternative label → exercises the bank's
    # fallback-pattern priority (F1 ordered lists); ~15% render the primary
    # label uppercase → exercises the IGNORECASE flag of the ceco
    # _extract_field_with_patterns call site (audit §15)
    r = rng.random()
    if r < 0.65:
        inv_line = f"Invoice Number: {inv}"
    elif r < 0.8:
        inv_line = f"INVOICE NUMBER: {inv}"
    else:
        inv_line = f"INV NO: {inv}"
    header = [
        f"Page: 1 of {1 + (n_items + 2) // 3}",
        inv_line,
        f"Invoice Date: {_date(rng)}",
        f"Order No: F{rng.randint(1, 9)}GU{rng.randint(1, 9)}A-0{rng.randint(0, 9)}",
        f"Customer PO: {rng.randint(100000, 999999)}-00{rng.randint(1, 9)}",
        f"TOTAL DUE IS PAYABLE ON {_date(rng)}",
        "Ceco Door Products",
        "9159 TELECOM DR.",
        "MILAN, TN 38358",
        "(888) 264-7474",
        # ~30% same-line remit company (ceco_processor.py:783-785 capture)
        "Please Remit to: Ceco Door Products" if rng.random() < 0.3
        else "Please Remit to:",
        f"{rng.randint(1000, 9999)} Solutions Center",
        "Chicago Illinois 60677-1008",
        f"SOLD TO: COOK & BOARDMAN {rng.choice(['LLC', 'GROUP'])}",
        # ~1/3 three-digit street numbers: the \d{4} IMESON pattern misses
        # and the generic street pattern's leftmost match is the date-year +
        # 'Order No:' line pair across the newline ('26\nOrd' — the RD
        # alternative matches inside 'Ord') — reproduced bug-for-bug
        # (audit §17, ceco_processor.py:737-746)
        f"{rng.randint(100, 2999)} IMESON PARK BLVD",
    ] + (
        # ~15% suite line: joins the address with an embedded newline
        [f"STE {rng.randint(100, 999)}"] if rng.random() < 0.15 else []
    ) + [
        f"{rng.choice(['JACKSONVILLE', 'ORLANDO'])} FL {rng.randint(32000, 32999)}",
        "Line Plant Item Number",
        "Ord Shp BO",
    ]
    item_lines: list[str] = []
    for i in range(1, n_items + 1):
        ordq = rng.randint(1, 9)
        shp = rng.randint(0, ordq)
        bo = ordq - shp
        if rng.random() < 0.3:
            bo = bo + 1  # BO-invalid → folding path
        code = rng.choice(["FR3PC", "FR4PC", "DR16GA", "HM3070"])
        item_lines.append(f"{i:03d} 572 {code} {ordq} {shp} {bo}")
        item_lines.append(
            f"{rng.choice(['3 PIECE FRAME', '16GA DOOR', 'HM FRAME'])} "
            f"{rng.randint(100, 999)}.000 {rng.randint(10, 99)}.{rng.randint(100, 999)} "
            f"{_money(rng, 100, 999)} {_money(rng, 100, 999)}"
        )
        fmt = rng.randint(0, 3)
        if fmt == 0:
            label = rng.choice(["MARK NO: ", "mark no: ", "MARK  NO:  "])
            parts = (
                f"HAP{rng.randint(1, 99)}({rng.randint(1, 99)}),"
                f"HAP{rng.randint(1, 99)}({rng.randint(1, 99)})"
            )
            if rng.random() < 0.4:
                # price-like part — the §6 format gate must REJECT it
                # (text_pdf_processor.py:2925-2928)
                parts += f",{rng.randint(100, 999)}.{rng.randint(10, 99)}"
            item_lines.append(label + parts)
        elif fmt == 1:
            # 4-8 digit parenthesized standalone (:2958-2969)
            item_lines.append(f"{rng.randint(1_000, 99_999_999)}({rng.randint(1, 999)})")
        elif fmt == 2:
            # 2-3 digit decimal standalone, 1-2 decimal places
            item_lines.append(
                f"{rng.randint(10, 999)}.{rng.choice([rng.randint(0, 9), rng.randint(10, 99)])}"
            )
        else:
            # bare long number via the labeled path (gate pattern ^\d{6,}$)
            item_lines.append(f"MARK NO: {rng.randint(100_000, 99_999_999)}")
        if rng.random() < 0.15:
            # duplicate item header (same line_no + code, different qtys) —
            # exercises the T4 dedupe-keep-first path
            # (text_pdf_processor.py:1718-1735; FIXTURES.md §5.5)
            item_lines.append(f"{i:03d} 572 {code} {rng.randint(1, 9)} 0 0")
        if rng.random() < 0.5:
            item_lines.append(
                f"{rng.choice(['MATERIAL', 'WELD', 'LABOR'])} AMOUNT "
                f"{rng.randint(100, 999)}.{rng.randint(100, 999)} "
                f"{rng.randint(10, 99)}.000 {_money(rng, 100, 999)} {_money(rng, 100, 999)}"
            )
    if rng.random() < 0.8:
        # combined discount+subtotal line (ceco_processor.py:616-621)
        totals_head = [
            f"YOU MAY DEDUCT A DISCOUNT OF $ {_money(rng, 10, 999)} {_money(rng, 1000, 99999)}",
        ]
    else:
        # fallback form: discount alone + 'TOTAL SALE:' subtotal
        # (ceco_processor.py:622-634)
        totals_head = [
            f"YOU MAY DEDUCT A DISCOUNT OF $ {_money(rng, 10, 999)}",
            f"{_money(rng, 1000, 99999)} TOTAL SALE:",
        ]
    r = rng.random()
    if r < 0.6:
        freight_line = f"FREIGHT CHARGE {_money(rng, 10, 999)}"
    elif r < 0.85:
        # second reference freight form (ceco_processor.py:636-647)
        freight_line = f"FREIGHT: {_money(rng, 10, 999)}"
    else:
        # no-freight variant: defaults to 0.00 (ceco_processor.py:648-650)
        freight_line = "NO CASH DISCOUNT ON FREIGHT"
    totals = totals_head + [
        freight_line,
        "2% 30 DAYS, NET 60",
        f"SHIPMENT TRACKING NUMBER 25UTS{rng.randint(100000, 999999)}",
        # ~25% trailing whitespace: the [A-Z ]+ capture grabs it and the
        # reference's .strip() (ceco_processor.py:366) must remove it
        "ORDER SHIPPED FROM 572 - MILAN MANUFACTURING"
        + ("  " if rng.random() < 0.25 else ""),
        "PREPAID 3RD PARTY",
    ]
    # paginate: 3 items' worth of lines per page; headers repeat per page —
    # items often straddle pages (cross-page association case).
    all_lines = item_lines + totals
    pages = [header]
    per_page = max(6, len(all_lines) // max(1, (n_items + 2) // 3))
    for i in range(0, len(all_lines), per_page):
        chunk = all_lines[i : i + per_page]
        if i == 0:
            pages[0] = header + chunk
        else:
            pages.append([f"Page: {len(pages) + 1} of 9", "Ord Shp BO"] + chunk)
    return pages


def _steelcraft_lines(rng: random.Random, n_items: int) -> list[list[str]]:
    inv = f"{rng.randint(100000, 999999)}-0{rng.randint(1, 9)}"
    page1 = [
        f"{rng.randint(1000, 9999)} {inv} {rng.randint(1, 9)}/0{rng.randint(1, 9)}/25 "
        f"{rng.randint(10_000_000, 99_999_999)} {rng.randint(1, 9)}/0{rng.randint(1, 9)}/25 "
        f"{rng.randint(1, 9)} {rng.randint(100000, 999999)}-0{rng.randint(1, 9)}",
        "STEELCRAFT",
        "9016 PRINCE WILLIAM ST",
        "MANASSAS, VA 20110",
        "SOLD TO COOK & BOARDMAN LLC",
        "345 MASON RD",
        "SHIP TO ENCOMPASS HEALTH",
        "2 RESEARCH WAY",
        "ATTN: A/R",
    ]
    items: list[str] = []
    for i in range(1, n_items + 1):
        q = rng.randint(1, 20)
        if rng.random() < 0.6:
            items.append(
                f"{i:03d} {q}.00 {q}.00 F 164 F 164 SERIES WHOLE FRAME "
                f"{rng.randint(100, 999)} .{rng.randint(10, 99)} 0 0 {_money(rng, 100, 9999)}"
            )
            items.append(f"JAMB DEPTH 5 3/4")
            items.append(f"OPENING WIDTH {rng.randint(2, 4)}/0")
            items.append(f"OPENING HEIGHT 7/0")
            items.append(f"HAND OF FRAME {rng.choice(['RH', 'LH'])}")
            items.append(f"BASE FRAME LIST PRICE {_money(rng, 100, 999)}")
            if rng.random() < 0.6:
                items.append(f"{rng.choice(['LABEL', 'WELD'])} {_money(rng, 10, 99)}")
            if rng.random() < 0.5:
                items.append(f"{rng.randint(10, 79)}.{rng.randint(10, 99)} %")
        else:
            items.append(
                f"{i:03d} {q}.00 {q}.00 UJA-{rng.randint(1, 9)} UNIVERSAL JAMB ANCHOR "
                f".0 0 0 .00"
            )
        if rng.random() < 0.5:
            items.append("MARK NUMBERS:")
            items.append(
                f"{rng.randint(1, 999):03d} ({rng.randint(1, 9)}), "
                f"{rng.randint(1, 999):03d} ({rng.randint(1, 9)})"
            )
    totals = [
        f"TOTAL WEIGHT / LBS: {rng.randint(100, 5000)}",
        f"NET SALES: {_money(rng, 1000, 99999)}",
        f"TOTAL DISCOUNT: {_money(rng, 100, 9999)}",
        "TAX AMOUNT: 0.00",
        f"TOTAL AMOUNT: {_money(rng, 1000, 99999)}",
        f"MAT. INFLATION SURCHARGE: {_money(rng, 1, 99)}",
        f"IF PAID BY {rng.randint(1, 9)}/0{rng.randint(1, 9)}/25 YOUR 2% DISCOUNT IS ${_money(rng, 1, 999)}",
    ] + (["2% 20"] if rng.random() < 0.7 else []) + [  # omit sometimes →
        # payment.terms falls back to the second bank pattern (NET n DAYS)
        "NET 35 DAYS",
        "FOB - Cincinnati",
        "LESS THAN LOAD",
    ]
    lines = items + totals
    pages = [page1 + lines[: len(lines) // 2], lines[len(lines) // 2 :]]
    return [p for p in pages if p]


def _schlage_lines(rng: random.Random, n_items: int, variant: str) -> list[list[str]]:
    """variant ∈ {'surcharge_item','synthesis','derived','xval'}"""
    sub = round(rng.uniform(1000, 9999), 2)
    sur = round(sub * 0.02, 2)
    shp = round(sub * 0.03, 2)
    head = [
        # ~15% mixed-case label: the schlage header searches pass
        # re.IGNORECASE (schlage_processor.py:1004-1014, audit §15)
        f"{'Invoice#' if rng.random() < 0.15 else 'INVOICE#'} {rng.randint(1_000_000, 9_999_999)}",
        f"INVOICE DATE {rng.randint(10, 28)}-{rng.choice(['JAN', 'FEB', 'MAR', 'APR'])}-25",
        f"ORDER# {rng.randint(10_000_000, 99_999_999)}",
        f"CUSTOMER PO# {rng.randint(100000, 999999)}-0{rng.randint(10, 99)}",
        f"CUSTOMER# {rng.randint(1_000_000, 9_999_999)}",
        f"QUOTE NUMBER {rng.randint(100000, 999999)}",
        "PAYMENT TERMS NET 30",
        "SELLER: Schlage Lock Co. LLC",
        "11819 NORTH PENNSYLVANIA STREET",
        "CARMEL, IN 46032",
        "RES_CONTACT_CENTER@ALLEGION.COM",
    ]
    # F5 address sections (audit §16 — schlage_processor.py:1244-1352).
    bill_co = rng.choice(["ACME DOORS LLC", "COOK & BOARDMAN LLC"])
    rb = rng.random()
    if rb < 0.7:
        bill_block = ["BILL TO:", bill_co]
    elif rb < 0.85:
        # same-line company: the reference DISCARDS content after the
        # header (:1260-1262) — no company field for these docs
        bill_block = [f"BILL TO: {bill_co}"]
    else:
        # order-info suffix: company split before the literal CUSTOMER PO#
        bill_block = ["BILL TO:", f"{bill_co} CUSTOMER PO# {rng.randint(100000, 999999)}"]
    # RD is NOT in the reference's street-suffix alternation (:1301) —
    # those lines fall through unclassified
    bill_block.append(
        f"{rng.randint(10, 9999)} {rng.choice(['OAK', 'ELM', 'MASON'])} "
        f"{rng.choice(['ST', 'DR', 'BLVD', 'AVE', 'RD'])}"
    )
    bill_city = f"{rng.choice(['CARY', 'RALEIGH', 'DURHAM'])}, NC {rng.randint(27000, 27999)}"
    if rng.random() < 0.12:
        # city line with trailing order info: split before ORDER DATE (:1292)
        bill_city += f" ORDER DATE {rng.randint(10, 28)}-JAN-25"
    bill_block.append(bill_city)

    ship_co = rng.choice(["ACME WAREHOUSE", "ENCOMPASS HEALTH"])
    ship_block = ["SHIP TO:"]
    if rng.random() < 0.12:
        # standalone 7-8 digit customer number is skipped (:1330)
        ship_block.append(str(rng.randint(1_000_000, 99_999_999)))
    if rng.random() < 0.12:
        # SALES REP suffix: company split before the literal (:1323-1327)
        ship_block.append(f"{ship_co} SALES REP {rng.choice(['JB', 'KT'])}")
    else:
        ship_block.append(ship_co)
    if rng.random() < 0.15:
        # JOB NAME suffix truncated from the street (:1341-1344)
        ship_street = (
            f"{rng.randint(10, 9999)} {rng.choice(['PINE', 'LAKE'])} "
            f"{rng.choice(['AVE', 'DR', 'BLVD'])} JOB NAME LIBRARY WING"
        )
    else:
        # WAY is outside the reference suffix set → street dropped
        ship_street = (
            f"{rng.randint(10, 9999)} {rng.choice(['PINE', 'LAKE'])} "
            f"{rng.choice(['AVE', 'DR', 'BLVD', 'WAY'])}"
        )
    ship_block.append(ship_street)
    ship_block.append(f"{rng.choice(['APEX', 'GARNER'])}, NC {rng.randint(27000, 27999)}")
    head += bill_block + ship_block + ["BRAND CARRIER"]
    items: list[str] = []
    # ~half the xval docs render comma-free extended amounts so the
    # step-3b missing-subtotal fill actually lands; the other half keep
    # comma amounts, which poison the reference's one-try float() sum
    # (data_validator.py:258-270; audit §22)
    small_ext = variant == "xval" and rng.random() < 0.5
    for i in range(1, n_items + 1):
        brand = rng.choice(["SCHLAGE", "VON DUPRIN", "LCN"])
        items.append(
            f"{brand} UPS EXP {i} {rng.randint(100, 999)} {rng.randint(100, 999)} "
            f"ICYLSS-SLCY*{rng.randint(100000, 999999)} "
            f"|CYL.80-0{rng.randint(10, 99)}.EV.626.R134.| "
            f"{rng.choice(['FEB', 'MAR'])} {rng.randint(1, 28)} "
            f"{_money(rng, 50, 500)} {rng.randint(10, 99)}.{rng.randint(10, 99)}/00 "
            f"{_money(rng, 100, 999) if small_ext else _money(rng, 1000, 9999)}"
        )
        # 16-char body whose tail is digits so the OCR-split form matches the
        # reference's continuation grammar ^(\d{2,4}) (schlage_processor.py:1427)
        wb = "".join(
            rng.choice("0123456789ABCDEFGHJKLMNPQRSTUVWXYZ") for _ in range(13)
        ) + f"{rng.randint(100, 999)}"
        if rng.random() < 0.4:
            items.append(f"1Z{wb[:13]}")  # OCR-split: base = 1Z + 13 chars
            items.append(wb[13:])         # continuation: 3 digits
        else:
            items.append(f"1Z{wb}")
        items.append("PREPAY & ADD")
        if rng.random() < 0.5:
            # F13 phase-2 candidates: two harvest cleanly, one is killed by
            # the HANDLING skip pattern, one by the 1Z skip (audit §18)
            items.append(rng.choice(
                ["HANDLING INSTRUCTIONS FRAGILE", "SHIP COMPLETE ONLY",
                 "KEYED ALIKE GROUP A", "CONTACT DOCK B ON ARRIVAL"]))
        if rng.random() < 0.12:
            # F13 phase-1 labeled patterns: the capture AND the full line
            # both survive (separate strings, shared seen-set — audit §18)
            items.append(rng.choice(
                [f"NOTES: SHIP VIA DOCK {rng.randint(1, 9)}",
                 "SPECIAL INSTRUCTIONS: CALL BEFORE DELIVERY",
                 f"PROJECT #: EAST TOWER PHASE {rng.randint(1, 4)}"]))
        if rng.random() < 0.3:
            items.append(str(rng.randint(10000, 99999)))  # fails word gate
    if variant == "surcharge_item":
        items.append(
            f"AGN_SURCHARGE FREIGHT 1 111 111 SURCHG*1 |FUEL SURCHARGE| FEB 28 "
            f"{sur:,.2f} 0.00/00 {sur:,.2f}"
        )
    if variant == "xval":
        # no subtotal and no strict printed forms: the bank misses, the
        # 2%/3% derivation cannot run, and the cross-validation gap-fill
        # (schlage_processor.py:944-971; audit §19) fills both totals from
        # these looser IGNORECASE forms
        totals = [
            f"Fuel Surcharge: ${sur:.2f}",
            f"Shipping and Handling: ${shp:.2f}",
        ]
    else:
        totals = [f"SUBTOTAL: {sub:,.2f}"]
        if variant != "derived":
            totals += [
                "ADDITIONAL CHARGES:",
                f"SURCHARGES: {sur:,.2f}",
                f"RESTOCK FEE/SHIPPING and HANDLING: {shp:,.2f}",
                f"USD TOTAL: {sub + sur + shp:,.2f}",
            ]
    return [head, items + totals]


def _generic_lines(rng: random.Random, n_items: int, corrupted: bool) -> list[list[str]]:
    if corrupted:
        return [["x" * rng.randint(40, 80), "####" * rng.randint(5, 10)]]
    if rng.random() < 0.75:
        inv_line = f"Invoice Number: {rng.choice(['ABC', 'XYZ', 'QRS'])}-{rng.randint(10000, 99999)}"
    else:
        # second-bank-pattern variant (Invoice #:)
        inv_line = f"Invoice #: {rng.choice(['ABC', 'XYZ'])}-{rng.randint(10000, 99999)}"
    # ~10% uppercase email — matched via the DynamicPatternExtractor's
    # IGNORECASE findall (text_pdf_processor.py:449, audit §15)
    email = (
        f"BILLING{rng.randint(1, 99)}@ACME.COM"
        if rng.random() < 0.10
        else f"billing{rng.randint(1, 99)}@acme.com"
    )
    lines = [
        inv_line,
        f"Invoice Date: {_date(rng)}",
        email,
        f"({rng.randint(200, 999)}) {rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
    ]
    for i in range(1, n_items + 1):
        lines.append(
            f"{i} WIDGET-{rng.randint(1, 99)} {rng.randint(1, 9)} "
            f"{rng.choice(['blue widget large', 'red gadget', 'green gizmo'])} "
            f"{_money(rng, 1, 99)} {_money(rng, 10, 999)}"
        )
    totals_lines = []
    r = rng.random()
    if r < 0.07:
        # degenerate short-digit Total Sale capture: quality 0.3*0.5 demotes
        # the higher-priority pattern below the Subtotal form — the
        # argmax-vs-first-match case (text_pdf_processor.py:495-512)
        totals_lines.append(f"Total Sale: $ {rng.randint(1, 9)}")
    elif r < 0.17:
        # real Total Sale amount: the higher-weight pattern wins outright
        totals_lines.append(f"Total Sale: $ {_money(rng, 100, 9999)}")
    totals_lines += [
        f"Subtotal: ${_money(rng, 100, 9999)}",
        "Tax: $0.00",
        f"Invoice Total: ${_money(rng, 100, 9999)}",
    ]
    lines += totals_lines
    return [lines]


def _generic_image_lines(rng: random.Random, n_items: int) -> list[list[str]]:
    """A media-only generic 'scan' whose sidecar text matches the IMAGE
    processor's bank family (audit §23): F3 labeled fields, the 6-group
    simplified item grammar (image_pdf_processor.py:1001), and the
    terms form that survives F3's payment-terms patterns."""
    head = [
        f"Invoice Number: INV-{rng.randint(100000, 999999)}",
        f"Invoice Date: {_date(rng)}",
        f"From: {rng.choice(['Acme Industrial Supply Co', 'Summit Tooling Works Ltd'])}",
        f"Bill To: {rng.choice(['Brighton Contractors', 'Mesa Building Group'])}",
        f"Order Number: PO-{rng.randint(10000, 99999)}",
    ]
    items = []
    for k in range(1, n_items + 1):
        qty = rng.randint(1, 9)
        unit = round(rng.uniform(5, 99), 2)
        items.append(
            f"{k} {rng.choice(['GADGET7', 'WIDGET3', 'SPROCKET9'])} {qty} "
            f"{rng.choice(['steel gadget', 'brass widget', 'alloy sprocket'])} "
            f"{unit:.2f} {round(qty * unit, 2):.2f}"
        )
    totals = [
        f"Subtotal: ${_money(rng, 50, 900)}",
        f"Tax: ${_money(rng, 1, 50)}",
        f"Total Amount: ${_money(rng, 60, 999)}",
        "Terms: 2% 10 days, net 30",
    ]
    return [head, items + totals]


def make_document(i: int, seed: int = 42) -> dict:
    """One deterministic document: {'doc_id', 'spans'}."""
    rng = random.Random(seed * 1_000_003 + i)
    vclass = i % 4
    heavy = i == 16  # skew-tail doc (vclass 0 → CECO, text-rich)
    hybrid_pages: set[int] = set()  # pages with text AND an image (audit §24)

    if vclass == 0:
        n_items = 40 if heavy else rng.randint(1, 6)
        pages = _ceco_lines(rng, n_items)
        if heavy:
            pages = pages * 30  # ~100x median span count
        doc_id = f"ceco/F{rng.randint(1000, 9999)}A-I-{rng.randint(10_000_000, 99_999_999)}.pdf"
        media_pages: set[int] = set()
    elif vclass == 1:
        pages = _steelcraft_lines(rng, rng.randint(1, 5))
        doc_id = f"steelcraft/Allegion - Steelcraft {rng.randint(1, 9999):04d}.pdf"
        media_pages = set()
    elif vclass == 2:
        # i % 4 == 2 for every schlage doc — key the variant on i // 16 so
        # all four totals variants actually occur
        variant = ["surcharge_item", "synthesis", "derived", "xval"][(i // 16) % 4]
        pages = _schlage_lines(rng, rng.randint(1, 3), variant)
        doc_id = f"schlage/{rng.randint(100000, 999999)}-0{rng.randint(10, 99)} Schlage {rng.randint(1, 999):03d}.pdf"
        # media-heavy by default (pdf_text_detector.py:100-104 expects a low
        # text ratio for Schlage). Sub-variants keyed on (i//4)%4: 1 → fully
        # text-selectable minority; 2 → mixed (text header page among 4
        # pages, ratio 0.25 < 0.3 min_text_ratio → hybrid route, exercising
        # the J1 merge); else all-media (pure stub-OCR route).
        sub = (i // 4) % 4
        if sub == 1:
            media_pages = set()
        elif sub == 2:
            # split the item/total lines across 3 media pages so only
            # page 0 (the header) is selectable text
            body = pages[1]
            third = max(1, len(body) // 3)
            pages = [pages[0], body[:third], body[third : 2 * third], body[2 * third :]]
            pages = [p for p in pages if p]
            media_pages = set(range(1, len(pages)))
        else:
            media_pages = set(range(len(pages)))
    elif i % 16 == 11:
        # media-only generic scan → routes 'ocr' → parsed by the IMAGE
        # bank family (audit §23)
        pages = _generic_image_lines(rng, rng.randint(1, 4))
        doc_id = f"misc/scan_{i:06d}.pdf"
        media_pages = set(range(len(pages)))
    elif i % 16 == 15:
        # mixed-page generic doc (audit §24): two HYBRID pages (text AND
        # an image on the same page) + one image-only page → P7 flags
        # mixed content with image_pages(1) > text_pages(0) → the
        # text_with_ocr_fallback branch (route hybrid, text primary)
        body = _generic_lines(rng, rng.randint(2, 4), False)[0]
        half = max(1, len(body) // 2)
        pages = [body[:half], body[half:],
                 ["received at dock 4", "inspection pending"]]
        doc_id = f"misc/mixed_{i:06d}.pdf"
        media_pages = {2}
        hybrid_pages = {0, 1}
    else:
        corrupted = i % 16 == 3
        pages = _generic_lines(rng, rng.randint(1, 4), corrupted)
        # filename/content disagreement case: generic-looking filename with
        # vendor content is covered by schlage text-selectable docs; here a
        # ceco-looking filename over generic content (combine logic P3):
        if i % 12 == 3:
            doc_id = f"ceco/F{rng.randint(1000, 9999)}A-I-{rng.randint(10_000_000, 99_999_999)}.pdf"
        else:
            doc_id = f"misc/invoice_{i:06d}.pdf"
        media_pages = set()

    # O3 secondary-engine sidecar mode for media docs (image_pdf_processor
    # dual-engine selection): 0/3 → primary only; 1 → near-tie perturbation
    # (line merge path); 2 → sparse secondary (argmax keeps primary);
    # 4 → longer secondary (base switches to engine 2 in the merge);
    # 3 → whitespace-only secondary (the §7 strip-blank check: the
    #     reference treats it as "engine returned nothing" and the primary
    #     wins OUTRIGHT, no quality scoring — image_pdf_processor.py:457-462).
    alt_mode = (i % 5) if media_pages else 0

    def _alt_lines(lines: list[str]) -> list[str]:
        if alt_mode == 3:
            return ["   ", "\t"]
        if alt_mode == 2:
            return [lines[0][:12]] if lines else ["~"]
        out = []
        for l in lines:
            r = rng.random()
            if r < 0.10:
                out.append(l + f" {rng.randint(10, 99)}.00")   # alt wins line
            elif r < 0.18:
                out.append("".join("O" if c.isdigit() else c for c in l))  # alt loses
            else:
                out.append(l)
        if alt_mode == 4:
            out.append(f"SCAN REF {rng.randint(100, 999)}")
            out.append(f"FEED MARK {rng.randint(10, 99)}")
        return out

    spans: list[dict] = []
    off = 0
    for p, lines in enumerate(pages):
        spans.append({"kind": "page_break", "text": f"=== PAGE {p + 1} ===", "media_ref": "", "offset": off})
        off += 1
        if p in hybrid_pages:
            # text AND an image on the SAME page (P7 hybrid class,
            # audit §24); the stub OCR of the page sees the same lines
            ref = f"img://{doc_id}/{p + 1}/0"
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": off})
            off += 1
            for l in lines:
                spans.append({"kind": "text", "text": l, "media_ref": "", "offset": off})
                off += 1
            for l in lines:
                spans.append({"kind": "media_text", "text": l, "media_ref": ref, "offset": off})
                off += 1
        elif p in media_pages:
            ref = f"img://{doc_id}/{p + 1}/0"
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": off})
            off += 1
            for l in lines:
                spans.append({"kind": "media_text", "text": l, "media_ref": ref, "offset": off})
                off += 1
            if alt_mode in (1, 2, 3, 4):
                for l in _alt_lines(lines):
                    spans.append({"kind": "media_text_alt", "text": l, "media_ref": ref, "offset": off})
                    off += 1
        else:
            for l in lines:
                spans.append({"kind": "text", "text": l, "media_ref": "", "offset": off})
                off += 1
            if vclass == 0 and rng.random() < 0.3:
                # L7 layout hint: a horizontal rule bbox on some CECO pages
                # (text_pdf_processor.py:719-728)
                spans.append({
                    "kind": "rule",
                    "text": f"{rng.randint(0, 50)},{rng.randint(0, 700)},600,2",
                    "media_ref": "", "offset": off,
                })
                off += 1
    return {"doc_id": doc_id, "spans": spans}


def make_corpus(n_docs: int = 120, seed: int = 42) -> list[dict]:
    return [make_document(i, seed) for i in range(n_docs)]


def corpus_df(spark, n_docs: int = 120, seed: int = 42):
    from .schemas import DOC_SCHEMA

    return spark.createDataFrame(make_corpus(n_docs, seed), schema=DOC_SCHEMA)


def corpus_df_dist(spark, n_docs: int, seed: int = 42):
    """Distributed corpus generation: each executor renders its own id range
    via mapInPandas — same deterministic output as corpus_df (generation is
    keyed on (seed, i) only), but scales to bench-sized corpora without a
    driver-side bottleneck."""
    import pandas as pd

    from .schemas import DOC_SCHEMA

    def gen(batches):
        for pdf in batches:
            docs = [make_document(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [d["doc_id"] for d in docs],
                    "spans": [d["spans"] for d in docs],
                }
            )

    return spark.range(n_docs).mapInPandas(gen, schema=DOC_SCHEMA)
