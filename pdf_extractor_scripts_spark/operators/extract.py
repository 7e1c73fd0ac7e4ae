"""The vectorized extraction stage: one Arrow pandas UDF for both routes.

The reference runs ~30 regex fields + vendor line-item scans per document in
a Python loop (fallback_processor.py:196-242 dispatch); here one UDF call
extracts everything for an Arrow batch of documents (SURVEY.md §2.10 UDF
surface #3/#4). ``with_extraction`` applies the UDF once with both the
text-route and the stub-OCR assembly as arguments; the kernel resolves each
row to one input by its route, so the expensive path only sees the rows whose
route needs it (fallback_processor.py:218-235 expensive-path gating,
expressed as a per-row pick instead of control flow). The other side's
assembly is there for the step-3b fallback. The UDF returns one
``EXTRACT_RESULT`` per row (column ``res``), which emission reads directly.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

EXTRACT_RESULT = StructType(
    [
        StructField(
            "fields",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", StringType()),
                    ]
                )
            ),
        ),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("line", StringType()),
                        StructField("serialized", StringType()),
                        StructField("marks", ArrayType(StringType())),
                    ]
                )
            ),
        ),
        # F13 document-level additional-info harvest (audit §18)
        StructField("info", ArrayType(StringType())),
    ]
)


def _make_extract_udf(field_banks: dict, field_order: dict):
    """Build the extraction UDF with the EFFECTIVE config captured by value.

    S8 overrides (config.apply_overrides) mutate driver-side module globals;
    executor Python workers re-import config and would see pristine defaults.
    Snapshotting the banks into the UDF closure at plan-build time ships them
    inside the serialized task (Spark broadcasts task binaries), so overrides
    reach every executor without a side channel.
    """

    @F.pandas_udf(EXTRACT_RESULT)
    def _extract_udf(
        vendor: pd.Series,
        route: pd.Series,
        fb_primary: pd.Series,
        has1: pd.Series,
        has2: pd.Series,
        text: pd.Series,
        ocr: pd.Series,
        e1f: pd.Series,
        e2f: pd.Series,
    ) -> pd.DataFrame:
        # One Arrow round-trip resolves the route to a single extraction
        # per document (audit §21): hybrids pick their input (O6 winner /
        # P10 adequacy chain) instead of extracting both sides and merging.
        from .kernel import extract_routed

        res = extract_routed(
            vendor, route, fb_primary, has1, has2, text, ocr, e1f, e2f,
            field_banks, field_order,
        )
        return pd.DataFrame(
            res.tolist(), index=vendor.index, columns=EXTRACT_RESULT.fieldNames()
        )

    return _extract_udf


def with_extraction(df: DataFrame) -> DataFrame:
    """Adds the ``res`` struct column (fields, items, info) from one UDF call
    per batch; the kernel picks each row's input by its route. Hybrid schlage
    rows get the all-pages stub-OCR assembly as their OCR candidate (the
    reference's multi-OCR renders every page — audit §21) plus the
    engine-confidence scalar the O6 pick compares on the reference's 0-1
    scale."""
    from .. import config as C
    from .detect import _joined_expr

    banks = {v: {k: list(p) for k, p in bank.items()} for v, bank in C.FIELD_BANKS.items()}
    order = {v: list(ks) for v, ks in C.FIELD_ORDER.items()}
    extract_udf = _make_extract_udf(banks, order)
    # both assemblies ship for every row since audit §22: the step-3b
    # fallback parses the OPPOSITE side's text (a text-method result falls
    # back to the OCR assembly and vice versa), so the old route masking
    # would starve the fallback. Extraction itself is still single-pass —
    # the kernel resolves each row to one input.
    text_in = F.col("text_route_text")
    ocr_in = F.col("ocr_route_text")
    # schlage-hybrid O6 candidates: the all-pages stub-OCR assemblies per
    # engine as PLAIN columns (simple array_join transforms keep the UDF's
    # argument projection codegen-able); the dual-engine selection itself
    # runs in the kernel via the independent.py twin
    sch_hybrid = (F.col("route") == "hybrid") & (F.col("vendor") == "schlage")
    e1f = F.when(
        sch_hybrid, F.expr(_joined_expr(["page_break", "text", "media_text"]))
    ).otherwise(F.lit(None))
    e2f = F.when(
        sch_hybrid,
        F.expr(_joined_expr(["page_break", "text", "media_text_alt"])),
    ).otherwise(F.lit(None))
    has = lambda kind: F.expr(
        f"exists(spans, s -> s.kind = '{kind}' and trim(s.text) <> '')"
    )
    from .colutil import add_cols

    return add_cols(
        df,
        res=extract_udf(
            F.col("vendor"), F.col("route"), F.col("fb_primary"),
            has("media_text"), has("media_text_alt"),
            text_in, ocr_in, e1f, e2f,
        ),
    )
