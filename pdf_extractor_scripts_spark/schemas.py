"""Spark StructTypes for the interleaved-spans data model (BASELINE.json
input_hint), the engine's output and checkpoint tables, and the long-form
metrics view of the checkpoint rows."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input: (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_SCHEMA), False),
    ]
)

# output: per-row invariant vs the oracle is span-sequence equality on
# (kind, text, media_ref, order).
OUT_SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("order", IntegerType(), False),
    ]
)

RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("vendor", StringType(), False),
        StructField("route", StringType(), False),
        StructField("out_spans", ArrayType(OUT_SPAN_SCHEMA), False),
        StructField("validation_failed", IntegerType(), False),
        StructField("ocr_used", IntegerType(), False),
        StructField("n_pages", IntegerType(), False),
    ]
)

# checkpoint table (FIXTURES.md §4): stable hash-bucket partition ids so
# N- and 4N-executor runs share checkpoints (SURVEY.md §7.3(4)). One row per
# committed (run_id, bucket, attempt): the commit record, nothing more.
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_key", IntegerType(), False),
        StructField("attempt_id", StringType(), False),
        StructField("status", StringType(), False),
        StructField("updated_at", TimestampType(), False),
    ]
)

# operators.checkpoint.committed_metrics: per committed bucket attempt, its
# committed out_spans rows counted in long form, one (metric, value) row per
# counter
METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("attempt_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_key", IntegerType(), False),
        StructField("metric", StringType(), False),
        StructField("value", LongType(), False),
    ]
)
