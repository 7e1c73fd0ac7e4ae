"""Deterministic span emission from the extraction result — all native
Catalyst higher-order functions, no Python.

AUDIT §21: the reference's J1 combiner (fallback_processor.py:518-620;
audit §11 semantics) is DEAD CODE — its only caller sits behind an
unreachable elif (:238). Hybrids resolve to ONE extraction inside the
kernel (O6 winner pick for schlage, the P10 adequacy chain for generic),
so the UDF returns one ``res`` struct per row and emission reads it
directly; there is no route merge. The J1 operator itself remains
implemented (oracle.merge_routes) and gated as j1_hybrid_merge.

Emission (the span-equality contract): fields in canonical bank order, then
items sorted by numeric line number with a stable original-index tie-break
(T1, text_pdf_processor.py:2600-2613), each followed by its marks, then the
F13 document-level additional-info lines (audit §18), then media
pass-through refs in reading order; `order` is the dense 0-based index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import config as C

_ITEMS_SORTED = """
array_sort(
  transform(res.items, (it, i) -> named_struct(
    'ln', coalesce(try_cast(regexp_replace(it.line, '[^0-9]', '') as bigint), 0L),
    'idx', i,
    'serialized', it.serialized,
    'marks', it.marks)),
  (l, r) -> CASE WHEN l.ln < r.ln THEN -1 WHEN l.ln > r.ln THEN 1
                 WHEN l.idx < r.idx THEN -1 WHEN l.idx > r.idx THEN 1
                 ELSE 0 END)
"""

_OUT_SPANS = f"""
transform(
  concat(
    transform(res.fields, f -> named_struct(
      'kind', concat('field:', f.key), 'text', f.value, 'media_ref', '')),
    flatten(transform({_ITEMS_SORTED}, it -> concat(
      array(named_struct('kind', 'item', 'text', it.serialized, 'media_ref', '')),
      transform(it.marks, m -> named_struct(
        'kind', 'mark', 'text', m, 'media_ref', ''))))),
    transform(res.info, t -> named_struct(
      'kind', 'info', 'text', t, 'media_ref', '')),
    transform(filter(spans, s -> s.kind = 'media'), s -> named_struct(
      'kind', 'media', 'text', '', 'media_ref', s.media_ref)),
    transform(filter(spans, s -> s.kind = 'rule'), s -> named_struct(
      'kind', 'rule', 'text', s.text, 'media_ref', ''))
  ),
  (s, i) -> named_struct('kind', s.kind, 'text', s.text,
                         'media_ref', s.media_ref, 'order', cast(i as int)))
"""


def _confidence_expr() -> str:
    """A1 overall confidence, natively: weighted section extraction ratios
    normalized by the constant total weight 1.10 (the reference scores all
    seven sections on every document, failures 0.0 — audit §10,
    text_pdf_processor.py:1146-1168); same spec as oracle.score_confidence."""
    def sec_count(sec: str) -> str:
        return f"size(filter(res.fields, f -> substring_index(f.key, '.', 1) = '{sec}'))"

    branches = []
    for vendor, sizes in C.SECTION_SIZES.items():
        terms = []
        for sec, w in C.CONF_WEIGHTS.items():
            if sec == "items":
                terms.append(f"{w} * (CASE WHEN size(res.items) > 0 THEN 1.0 ELSE 0.0 END)")
            elif sizes.get(sec):
                terms.append(f"{w} * (cast({sec_count(sec)} as double) / {sizes[sec]})")
        branches.append(
            f"WHEN vendor = '{vendor}' THEN ("
            + " + ".join(terms)
            + f") / {C.CONF_TOTAL_WEIGHT}"
        )
    return "cast(round(CASE " + " ".join(branches) + " ELSE 0.0 END, 4) as double)"


def with_emission(df: DataFrame) -> DataFrame:
    from .colutil import add_cols

    return add_cols(
        df,
        out_spans=F.expr(_OUT_SPANS),
        extraction_confidence=F.expr(_confidence_expr()),
        validation_failed=F.expr(
            "CASE WHEN exists(res.fields, f -> f.key = 'header.invoice_number') "
            "THEN 0 ELSE 1 END"
        ),
        ocr_used=F.when(F.col("route").isin("ocr", "hybrid"), 1).otherwise(0),
    )
