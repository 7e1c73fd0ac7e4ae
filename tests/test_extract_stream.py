"""Streamed extraction over arriving files equals the batch run over their
union, restarting the stream does not reprocess delivered files, the
extraction plan is built once per stream, and a replayed micro-batch
commits exactly once."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pdf_extractor_scripts_spark.fixtures import corpus_df, make_corpus
from pdf_extractor_scripts_spark.operators.checkpoint import committed_outputs
from pdf_extractor_scripts_spark.oracle import extract_document
from pdf_extractor_scripts_spark.streaming.extract_stream import start_extraction_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_xstream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _oracle_spans(d):
    return [s.as_tuple() for s in extract_document(d["doc_id"], d["spans"])["out_spans"]]


def _spans(row):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["out_spans"]]


def test_streamed_extraction_matches_oracle(spark, tmpdir):
    n = 48
    docs = corpus_df(spark, n_docs=n, seed=42)
    src = os.path.join(tmpdir, "in")
    docs.repartition(6).write.parquet(src)  # 6 files → several micro-batches

    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "stream_ck")
    q = start_extraction_stream(spark, src, out, stream_checkpoint=ck,
                                max_files_per_trigger=2)
    q.awaitTermination(180)

    got_df = spark.read.parquet(os.path.join(out, "out_spans"))
    got = {r["doc_id"]: r for r in got_df.collect()}
    assert len(got) == n

    for d in make_corpus(n, seed=42):
        assert _spans(got[d["doc_id"]]) == _oracle_spans(d), d["doc_id"]

    # restart with the same stream checkpoint: nothing new → no duplicates
    q2 = start_extraction_stream(spark, src, out, stream_checkpoint=ck,
                                 max_files_per_trigger=2)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == n


def test_pdf_ingest_stream_arrival_driven(spark, tmpdir):
    """Raw-file arrival stream: PDFs landing in two waves are parsed and
    extracted exactly once each (source checkpoint), outputs equal the
    oracle, and a restart with nothing new processes nothing."""
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.streaming.extract_stream import (
        start_pdf_ingest_stream,
    )

    docs = [
        d for d in make_corpus(30, seed=42)
        if not any(s["kind"] in ("media_text", "media_text_alt")
                   for s in d["spans"])
    ]
    assert len(docs) >= 10
    src = os.path.join(tmpdir, "landing (pdf+s)")  # metachar-safe strip
    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "pdf_stream_ck")

    def drop(batch):
        for i, d in batch:
            p = os.path.join(src, d["doc_id"])
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(spans_to_pdf(d["spans"], xref_stream=(i % 2 == 0)))

    wave1 = list(enumerate(docs))[: len(docs) // 2]
    wave2 = list(enumerate(docs))[len(docs) // 2:]

    drop(wave1)
    q = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q.awaitTermination(180)
    n1 = spark.read.parquet(os.path.join(out, "out_spans")).count()
    assert n1 == len(wave1)

    drop(wave2)
    q2 = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q2.awaitTermination(180)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(os.path.join(out, "out_spans")).collect()}
    assert len(got) == len(docs)  # wave-1 files NOT reprocessed/duplicated

    for _, d in wave1 + wave2:
        assert _spans(got[d["doc_id"]]) == _oracle_spans(d), d["doc_id"]

    # restart with nothing new → no extra rows
    q3 = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q3.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == len(docs)


def _backlog(spark, tmpdir, n_docs: int, n_files: int) -> str:
    src = os.path.join(tmpdir, "in")
    corpus_df(spark, n_docs=n_docs, seed=42).repartition(n_files).write.parquet(src)
    return src


def test_stream_builds_the_extraction_plan_once(spark, tmpdir, monkeypatch):
    """The streaming query carries run_pipeline: it is built once when the
    query starts, not once per micro-batch inside foreachBatch."""
    from pdf_extractor_scripts_spark.plans import pipeline
    from pdf_extractor_scripts_spark.streaming import extract_stream

    calls = []
    real = pipeline.run_pipeline

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "run_pipeline", spy)
    monkeypatch.setattr(extract_stream, "run_pipeline", spy, raising=False)

    src = _backlog(spark, tmpdir, n_docs=12, n_files=3)
    out = os.path.join(tmpdir, "out")
    q = start_extraction_stream(spark, src, out, max_files_per_trigger=1)
    q.awaitTermination(180)
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == 12
    assert len(calls) == 1


def test_replayed_micro_batches_commit_exactly_once(spark, tmpdir, monkeypatch):
    """Restarts with the same stream checkpoint replay a micro-batch whose
    commit crashed. Batch 0 crashes after its out_spans write (no bucket
    committed): the replay commits it all, and the orphan rows stay
    invisible. Batch 1 crashes after its commit point (every bucket
    committed): the replay's resume predicate drops every row and it commits
    nothing. The committed outputs are exactly once and equal the oracle."""
    from pyspark.errors import StreamingQueryException

    from pdf_extractor_scripts_spark.operators import checkpoint
    from pdf_extractor_scripts_spark.streaming import extract_stream

    src = _backlog(spark, tmpdir, n_docs=12, n_files=3)
    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "stream_ck")
    commits: list[tuple[str, int]] = []
    real_commit, real_rows = extract_stream.commit, checkpoint._local_rows

    def crash_before_commit(*args):  # the checkpoint write follows out_spans
        monkeypatch.setattr(checkpoint, "_local_rows", real_rows)
        raise RuntimeError("crash after the out_spans write")

    def commit(spark_, df, ckpt_dir, run_id):
        n = real_commit(spark_, df, ckpt_dir, run_id)
        commits.append((run_id, n))
        if run_id == "stream-b1" and [r for r, _ in commits].count(run_id) == 1:
            raise RuntimeError("crash after the commit point")
        return n

    monkeypatch.setattr(checkpoint, "_local_rows", crash_before_commit)
    monkeypatch.setattr(extract_stream, "commit", commit)

    def drain():
        q = start_extraction_stream(spark, src, out, stream_checkpoint=ck,
                                    max_files_per_trigger=1)
        q.awaitTermination(180)

    with pytest.raises(StreamingQueryException):
        drain()
    orphans = spark.read.parquet(os.path.join(out, "out_spans")).count()
    assert orphans > 0 and commits == []
    with pytest.raises(StreamingQueryException):
        drain()
    drain()

    ids = [r for r, _ in commits]
    assert ids == ["stream-b0", "stream-b1", "stream-b1", "stream-b2"], commits
    assert commits[2][1] == 0  # the replayed, fully committed batch
    assert sum(n for _, n in commits) == 12

    got = {r["doc_id"]: r for r in committed_outputs(spark, out).collect()}
    raw = spark.read.parquet(os.path.join(out, "out_spans")).count()
    assert len(got) == 12 and raw == 12 + orphans
    for d in make_corpus(12, seed=42):
        assert _spans(got[d["doc_id"]]) == _oracle_spans(d), d["doc_id"]
