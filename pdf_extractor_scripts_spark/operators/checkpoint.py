"""Checkpoint / lineage / metrics and idempotent resume.

Partition identity is a *stable hash bucket of doc_id* — pmod(xxhash64(doc_id),
n_buckets) — NOT Spark's physical partition index, which changes with
parallelism; this is what lets N- and 4N-executor runs share checkpoints
(SURVEY.md §7.3(4)). The reference's closest analog is the detection cache
keyed on path+mtime (pdf_text_detector.py:131-135); here resumability is a
first-class table (FIXTURES.md §4), ``commits/`` partitioned by ``run_id``,
written once per completed bucket. ``out_spans/`` is plain parquet, one file
per write task: no reader prunes on the bucket.

Resume = a literal predicate ``NOT partition_key IN (<completed buckets>)``
on the extracted frame: the completed buckets of a run_id are at most
``n_buckets`` ints, collected in one job from ``commits/run_id=<id>/`` (no
job for a fresh run_id). ``partition_key`` is a function of ``doc_id``, which
every pipeline layer passes through, so over a plan that holds the extraction
Catalyst pushes the predicate down to the scan, below the extraction UDF, and
the committed plan does not read the checkpoint table it appends to.

Output commit protocol (manifest pattern — what Iceberg snapshot commits give
you natively in production): every out_spans row carries an ``attempt_id``;
the commit row recording that (run_id, partition_key, attempt_id) is written
LAST and is the commit point. It records only that the attempt is done: the
extraction runs once, inside the out_spans write, and committed_metrics()
counts a bucket's docs/pages/ocr/validation numbers from its committed rows
when someone reads them, so metrics cannot disagree with the data. A crash
between the data write and the commit write leaves orphan rows whose
attempt_id no commit row mentions — invisible to readers, because
committed_outputs()/quality_report() semi-join outputs against committed
(run_id, partition_key, attempt_id) keys. Physical writes are therefore
at-least-once, but the VISIBLE table is exactly-once, and resume can safely
re-process any bucket whose commit row is missing. Commit rows of older
layouts carry metric columns and may sit beside a ``metrics/`` table; readers
apply ``CHECKPOINT_SCHEMA``, so both are ignored.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import CHECKPOINT_SCHEMA

_COMMIT_KEY = ["run_id", "partition_key", "attempt_id"]
_METRICS = ("docs", "pages", "ocr_fallbacks", "validation_failures")


def _committed(spark: SparkSession, ckpt_dir: str, run_id: str | None = None) -> DataFrame:
    """The manifest: checkpoint rows of committed attempts (all runs', or
    ``run_id``'s only) in ``CHECKPOINT_SCHEMA`` order. Read with that schema,
    so a table whose first commit failed (an empty directory, or one holding
    only ``_temporary/``) is an empty manifest and ``007`` stays a string."""
    path = os.path.join(ckpt_dir, "commits")
    reader = spark.read.schema(CHECKPOINT_SCHEMA).option("basePath", path)
    if run_id is not None:
        path = _run_dir(spark, ckpt_dir, run_id)
    return reader.parquet(path).filter(F.col("status") == "done").select(*CHECKPOINT_SCHEMA.names)


def _run_dir(spark: SparkSession, ckpt_dir: str, run_id: str) -> str:
    """``commits/run_id=<run_id>``, the value escaped as Spark writes it."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return os.path.join(ckpt_dir, "commits", utils.getPartitionPathString("run_id", run_id))


def committed_outputs(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """out_spans restricted to COMMITTED attempts — the read side of the
    manifest commit protocol: a semi-join on the commit key drops the rows of
    attempts that crashed before their checkpoint write."""
    committed = _committed(spark, ckpt_dir).select(*_COMMIT_KEY).distinct()
    out = spark.read.parquet(os.path.join(ckpt_dir, "out_spans"))
    return out.join(F.broadcast(committed), _COMMIT_KEY, "left_semi")


def backup_outputs(
    spark: SparkSession, ckpt_dir: str, label: str, backup_dir: str | None = None
) -> str:
    """S9 backup sink (output_consolidator.py:412-430: timestamped backup
    folder before consolidation): snapshot the COMMITTED outputs into
    ``<ckpt_dir>/backups/<label>`` as a self-contained parquet table plus a
    manifest of the checkpoint rows that define the snapshot. ``label``
    plays the reference's `{pdf_name}_{timestamp}` role — the caller stamps
    it (deterministic for tests, wall-clock in production). On Iceberg this
    entire function is a table snapshot / time-travel tag; over parquet the
    copy is explicit. Returns the snapshot path."""
    backup_root = backup_dir or os.path.join(ckpt_dir, "backups")
    dest = os.path.join(backup_root, label)
    committed_outputs(spark, ckpt_dir).write.mode("errorifexists").parquet(
        os.path.join(dest, "out_spans"))
    _committed(spark, ckpt_dir).write.mode("errorifexists").parquet(
        os.path.join(dest, "manifest")
    )
    return dest


def restore_backup(spark: SparkSession, backup_path: str) -> DataFrame:
    """Read a snapshot written by backup_outputs."""
    return spark.read.parquet(os.path.join(backup_path, "out_spans"))


def committed_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Per-bucket extraction metrics of committed attempts
    (``METRICS_SCHEMA``): one (metric, value) row per counter of each
    committed (run_id, attempt_id, partition_key), counted from the
    committed out_spans rows, so an uncommitted attempt cannot double-count."""
    counts = committed_outputs(spark, ckpt_dir).groupBy(
        "run_id", "attempt_id", "partition_key").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").cast("long").alias("pages"),
        F.sum("ocr_used").cast("long").alias("ocr_fallbacks"),
        F.sum("validation_failed").cast("long").alias("validation_failures"),
    )
    pairs = ", ".join(f"'{m}', {m}" for m in _METRICS)
    return counts.selectExpr(
        "run_id", "attempt_id", "'extract' AS stage", "partition_key",
        f"stack({len(_METRICS)}, {pairs}) AS (metric, value)",
    )


def batch_summary(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """The reference's batch-summary shape (batch_processor.py:321-403:
    _create_batch_summary + get_processing_statistics) over the COMMITTED
    outputs — one row: totals, success rate, per-method counts (the
    reference's method_used vocabulary: text_extraction / ocr / hybrid from
    our route column), and the confidence min/avg/max quality metrics.

    Mapping note: the reference counts a file 'failed' when every processor
    raised; this engine degrades those documents to an empty-page result
    and SIGNALS them (parse fallbacks are counted at ingest, validation
    failures here), so `failed_extractions` reports the validation-failed
    count — the nearest committed-table analog, stated rather than
    silently redefined. Timestamps are the caller's concern (the reference
    stamps time.strftime at :399 — nondeterministic)."""
    out = committed_outputs(spark, ckpt_dir)
    method = (
        F.when(F.col("route") == "text", "text_extraction")
        .when(F.col("route") == "ocr", "ocr")
        .otherwise("hybrid")
    )
    return (
        out.select("doc_id", "validation_failed", "extraction_confidence",
                   method.alias("m"))
        .agg(
            F.count(F.lit(1)).alias("total_files"),
            (F.count(F.lit(1)) - F.sum("validation_failed")).cast("long")
            .alias("successful_extractions"),
            F.sum("validation_failed").cast("long").alias("failed_extractions"),
            F.round(
                100.0 * (F.count(F.lit(1)) - F.sum("validation_failed"))
                / F.count(F.lit(1)), 2
            ).alias("success_rate_percent"),
            F.sum(F.when(F.col("m") == "text_extraction", 1).otherwise(0))
            .cast("long").alias("method_text_extraction"),
            F.sum(F.when(F.col("m") == "ocr", 1).otherwise(0))
            .cast("long").alias("method_ocr"),
            F.sum(F.when(F.col("m") == "hybrid", 1).otherwise(0))
            .cast("long").alias("method_hybrid"),
            F.round(F.avg("extraction_confidence"), 2)
            .alias("average_confidence_score"),
            F.round(F.min("extraction_confidence"), 4)
            .alias("min_confidence_score"),
            F.round(F.max("extraction_confidence"), 4)
            .alias("max_confidence_score"),
        )
    )


def quality_report(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Operational rollup over the COMMITTED outputs: per (vendor, route)
    doc counts, confidence distribution, validation-failure and OCR rates —
    the corpus-level form of the reference's batch summary + accuracy
    rubrics (batch_processor.py:321-403, test_enhanced_processor.py:158-171)."""
    out = committed_outputs(spark, ckpt_dir)
    return (
        out.groupBy("vendor", "route")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("extraction_confidence"), 4).alias("avg_confidence"),
            F.round(F.expr("percentile(extraction_confidence, 0.1)"), 4).alias("p10_confidence"),
            F.round(F.expr("percentile(extraction_confidence, 0.9)"), 4).alias("p90_confidence"),
            F.round(F.avg("validation_failed"), 4).alias("validation_failure_rate"),
            F.round(F.avg("ocr_used"), 4).alias("ocr_rate"),
            F.sum(F.expr("size(out_spans)")).cast("long").alias("total_spans"),
        )
        .orderBy("vendor", "route")
    )


def doc_bucket(n_buckets: int = 64) -> Column:
    """The stable bucket of ``doc_id``: partition_key here, the partition
    column of sources.spans.write_spans."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_partition_key(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    return df.withColumn("partition_key", doc_bucket(n_buckets))


def resume_filter(df: DataFrame, spark: SparkSession, ckpt_dir: str, run_id: str) -> DataFrame:
    """Drop rows in buckets already completed for ``run_id``. No run
    directory yet is a fresh run (no Spark job); an unreadable one raises, as
    do an old flat ``checkpoints/`` table, whose commits resume cannot see,
    and an empty run_id, which Spark writes as a null partition value.

    A fresh run is found with ``exists``, not by a read that fails: once a
    session has run an ``observe``, Spark's observation listener logs an
    ERROR stack trace for every failed read."""
    if not run_id:
        raise ValueError("run_id must be a non-empty string")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    old = Path(os.path.join(ckpt_dir, "checkpoints"))
    fs = old.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(old):
        raise FileExistsError(
            f"{ckpt_dir} holds a checkpoints/ table of the older flat layout; "
            "resuming it would commit every bucket again: use a new directory")
    if not fs.exists(Path(_run_dir(spark, ckpt_dir, run_id))):
        return df
    done = _committed(spark, ckpt_dir, run_id)
    keys = sorted(r[0] for r in done.select("partition_key").distinct().collect())
    if not keys:
        return df
    return df.filter(~F.col("partition_key").isin(keys))


def commit(spark: SparkSession, extracted: DataFrame, ckpt_dir: str, run_id: str) -> int:
    """Commit extracted rows (``with_partition_key(run_pipeline(...))``) under
    ``run_id`` in one pass: skip the buckets its own commit rows mark done,
    write the rest to out_spans (one file per write task) while observing
    the doc count and the set of buckets written, then write one commit row
    per observed bucket under ``commits/run_id=<run_id>/`` — the commit
    point (see module docstring). Returns the number of documents committed.

    Resume is a literal predicate on ``partition_key``, so over a plan that
    still holds the extraction Catalyst pushes it below the UDF: committed
    buckets are never extracted again. A ``foreachBatch`` micro-batch
    arrives as an already-planned RDD, so there it filters extracted rows.
    An attempt with no rows (a rerun whose buckets are all done) still runs
    the write, which leaves one empty part file in out_spans and no commit
    row, so no reader sees it. The observed metrics come from the write's
    result stage, where Spark applies each partition's update once."""
    import datetime
    import uuid

    from pyspark.sql import Observation

    todo = resume_filter(extracted, spark, ckpt_dir, run_id)
    attempt_id = uuid.uuid4().hex
    seen = Observation()
    todo.select(
        "partition_key", "doc_id", "vendor", "route", "out_spans",
        "validation_failed", "ocr_used", "n_pages", "extraction_confidence",
    ).withColumn("run_id", F.lit(run_id)).withColumn(
        "attempt_id", F.lit(attempt_id)
    ).observe(
        seen, F.count(F.lit(1)).alias("docs"),
        F.collect_set("partition_key").alias("buckets"),
    ).write.mode("append").parquet(os.path.join(ckpt_dir, "out_spans"))
    written = seen.get
    if not written["docs"]:
        return 0

    # aware UTC: Arrow would read a naive datetime in the session time zone
    now = datetime.datetime.now(datetime.timezone.utc)
    rows = [{"run_id": run_id, "partition_key": b, "attempt_id": attempt_id,
             "status": "done", "updated_at": now}
            for b in sorted(written["buckets"])]
    _local_rows(spark, rows, CHECKPOINT_SCHEMA).write.mode("append").partitionBy(
        "run_id").parquet(os.path.join(ckpt_dir, "commits"))
    return written["docs"]


def _local_rows(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Driver-side ``rows`` as a one-partition relation that writes one file.

    An Arrow table becomes a JVM ``LocalTableScan`` whatever the Arrow
    session conf says; ``createDataFrame(list)`` would parallelize the list
    into ``defaultParallelism`` Python tasks, each paying the Python
    worker's fixed start-up cost, and write one file per slice."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema).coalesce(1)
