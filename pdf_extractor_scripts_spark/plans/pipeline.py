"""End-to-end extraction pipeline: the Spark lifecycle replacement for the
reference's batch runner (SURVEY.md §3.1).

    read spans table
      → detection columns (vendor, confidence — native SQL)
      → routing columns (text density gate — native SQL)
      → weight + salted repartition (skew defense)
      → one Arrow extraction UDF (both route assemblies in; one result
        per doc out — the kernel resolves each route to one extraction)
      → deterministic span emission from that result (native HOFs)
      → [optional] one-pass commit (out_spans + commit rows) + idempotent resume

Stage boundaries (shuffles) occur ONLY at the salted repartition and any
downstream groupBy a caller adds — everything else is a single mapper chain
that Catalyst fuses (scan → codegen'd classification → Arrow UDF → codegen'd
emission).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.detect import with_assembled_text, with_vendor, with_route
from ..operators.extract import with_extraction
from ..operators.merge import with_emission
from ..operators.skew import with_weight, salted_repartition
from ..operators.checkpoint import commit, with_partition_key

RESULT_COLS = [
    "doc_id", "vendor", "route", "out_spans",
    "validation_failed", "ocr_used", "n_pages", "extraction_confidence",
]


def run_pipeline(
    docs: DataFrame, n_partitions: int | None = None, salt: bool = False
) -> DataFrame:
    """spans table → extraction result (one row per doc).

    The pipeline is a pure mapper chain — extraction is embarrassingly
    parallel, so by default there is NO shuffle anywhere: at 100 TB,
    repartitioning the corpus would itself be a 100 TB shuffle. ``salt=True``
    opts into the weight-aware salted repartition for corpora whose INPUT
    partitioning is pathological (heavy documents co-located); it pays one
    full-payload shuffle to spread them (operators/skew.py).
    """
    df = with_assembled_text(docs)
    df = with_vendor(df)
    df = with_route(df)
    df = with_weight(df)
    if salt:
        if n_partitions is None:
            n_partitions = docs.sparkSession.sparkContext.defaultParallelism
        df = salted_repartition(df, n_partitions)
    df = with_extraction(df)
    df = with_emission(df)
    return df.select(*RESULT_COLS)


def run_with_checkpoint(spark: SparkSession, docs: DataFrame, ckpt_dir: str, run_id: str) -> int:
    """Idempotent checkpointed run: skips completed buckets, writes spans +
    checkpoint rows for the rest. Returns number of docs processed."""
    return commit(spark, with_partition_key(run_pipeline(docs)), ckpt_dir, run_id)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: full pipeline over the deterministic synthetic corpus,
    summarized per (vendor, route)."""
    from ..fixtures import corpus_df

    docs = corpus_df(spark, n_docs=120, seed=42)
    res = run_pipeline(docs)
    return (
        res.groupBy("vendor", "route")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("size(out_spans)")).cast("long").alias("n_spans"),
            F.sum(F.expr("size(filter(out_spans, s -> s.kind = 'item'))"))
            .cast("long")
            .alias("n_items"),
            F.sum("validation_failed").cast("long").alias("n_validation_failures"),
            F.sum("ocr_used").cast("long").alias("n_ocr_docs"),
            F.round(F.avg("extraction_confidence"), 4).alias("avg_confidence"),
        )
        .orderBy("vendor", "route")
    )
