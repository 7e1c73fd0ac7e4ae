"""Incremental extraction: the batch pipeline wired to a streaming source.

A production corpus is not static — new documents land continuously. The
streaming query carries the SAME ``run_pipeline`` (identical semantics,
identical span-equality contract): it is applied to the streaming DataFrame
once, when the query starts, so each micro-batch arrives in ``foreachBatch``
already extracted and is only committed there (``operators.checkpoint.commit``:
one out_spans write, then one commit row per bucket it wrote):

* Structured Streaming's source checkpoint gives exactly-once batch
  delivery (each input file processed once);
* within a micro-batch the engine's own bucket checkpoint (operators/
  checkpoint.py) records which buckets are done, so a crashed micro-batch
  resumes idempotently at bucket granularity when the stream restarts.
  ``foreachBatch`` hands the commit the micro-batch as an already-planned
  RDD, so on a replayed micro-batch the resume predicate filters the
  extracted rows: the replay re-runs the UDF over the whole micro-batch and
  commits only the buckets the crashed attempt did not.

This composition — streaming for ingestion bookkeeping, the deterministic
batch plan for semantics — keeps the correctness contract testable (the
streamed result of N files equals the batch run over their union).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import DOC_SCHEMA
from ..operators.checkpoint import commit, with_partition_key
from ..plans.pipeline import run_pipeline


def _start(spark: SparkSession, stream: DataFrame, out_dir: str, run_id: str,
           stream_checkpoint: str | None):
    """Start ``stream`` extracted by run_pipeline, built once here, with
    every micro-batch committed under run_id ``<run_id>-b<batch_id>``."""
    extracted = with_partition_key(run_pipeline(stream))

    def process(batch_df, batch_id: int) -> None:
        commit(spark, batch_df, out_dir, run_id=f"{run_id}-b{batch_id}")

    writer = extracted.writeStream.foreachBatch(process).trigger(availableNow=True)
    if stream_checkpoint:
        writer = writer.option("checkpointLocation", stream_checkpoint)
    return writer.start()


def start_extraction_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    run_id: str = "stream",
    stream_checkpoint: str | None = None,
    max_files_per_trigger: int = 8,
):
    """File-source stream of spans documents → checkpointed extraction.

    Returns the StreamingQuery (``availableNow`` trigger: drains what exists
    then stops — swap for a processing-time trigger in long-running mode).
    """
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return _start(spark, stream, out_dir, run_id, stream_checkpoint)


def start_pdf_ingest_stream(
    spark: SparkSession,
    pdf_dir: str,
    out_dir: str,
    run_id: str = "pdfstream",
    stream_checkpoint: str | None = None,
    max_files_per_trigger: int = 64,
    glob: str = "*.pdf",
):
    """Raw-file arrival stream: binaryFile readStream over a landing
    directory → byte-stream parse (sources/pdfparse.py via mapInPandas,
    still a single map stage per micro-batch) → the same checkpointed
    extraction as the batch path. New PDFs dropped into the tree are picked
    up exactly once by the source checkpoint; doc_id = path relative to
    ``pdf_dir`` so P1 filename detection sees vendor prefixes (reference
    entry point A, batch_processor.py:76-112, as a continuous service)."""
    import pyspark.sql.functions as F

    from ..sources.spans import parse_binary_to_spans, relative_doc_id

    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is binaryFile's
        # fixed one
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(pdf_dir)
        .select(F.col("path").alias("doc_id"), F.col("content"))
    )
    parsed = relative_doc_id(parse_binary_to_spans(stream), pdf_dir)
    return _start(spark, parsed, out_dir, run_id, stream_checkpoint)
