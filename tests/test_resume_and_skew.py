"""Resume tier (kill-after-partition-k, rerun, assert identical + no dupes)
and skew tier (heavy docs isolated by salting) — SURVEY.md §5.2."""

from __future__ import annotations

import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from pdf_extractor_scripts_spark.fixtures import corpus_df
from pdf_extractor_scripts_spark.operators.checkpoint import (
    committed_metrics,
    committed_outputs,
    with_partition_key,
)
from pdf_extractor_scripts_spark.operators.skew import with_weight, salted_repartition
from pdf_extractor_scripts_spark.plans.pipeline import run_with_checkpoint

from .conftest import jobs_in_group

N_DOCS = 60


@pytest.fixture()
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="spark_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_is_idempotent_at_bucket_granularity(spark, ckpt_dir):
    docs = corpus_df(spark, n_docs=N_DOCS, seed=42)
    keyed = with_partition_key(docs)

    # "kill after partition k": first run only sees buckets < 32
    partial = keyed.filter(F.col("partition_key") < 32).drop("partition_key")
    n1 = run_with_checkpoint(spark, partial, ckpt_dir, run_id="r1")
    assert 0 < n1 < N_DOCS

    # rerun over the FULL corpus: completed buckets must be skipped
    n2 = run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert n1 + n2 == N_DOCS

    out = committed_outputs(spark, ckpt_dir)
    assert out.count() == N_DOCS
    assert out.select("doc_id").distinct().count() == N_DOCS  # no duplicates

    # a third run is a no-op
    n3 = run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert n3 == 0

    ck = spark.read.parquet(f"{ckpt_dir}/commits")
    assert ck.filter(F.col("status") != "done").count() == 0
    mx = committed_metrics(spark, ckpt_dir)
    assert mx.filter(F.col("metric") == "docs").agg(F.sum("value")).first()[0] == N_DOCS


def test_crash_between_data_and_checkpoint_write_is_invisible(spark, ckpt_dir):
    """Manifest-commit semantics: a run that dies AFTER appending out_spans
    but BEFORE its checkpoint rows must leave no visible output, and the
    retry must not double-count anything."""
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    docs = corpus_df(spark, n_docs=20, seed=42)
    keyed = with_partition_key(docs)
    result = with_partition_key(run_pipeline(keyed.drop("partition_key")))
    result = result.localCheckpoint(eager=True)

    # simulate the crash window: data lands, checkpoint write never happens
    result.select(
        "partition_key", "doc_id", "vendor", "route", "out_spans",
        "validation_failed", "ocr_used", "n_pages", "extraction_confidence",
    ).withColumn("run_id", F.lit("r1")).withColumn(
        "attempt_id", F.lit("dead-attempt")
    ).write.mode("append").parquet(f"{ckpt_dir}/out_spans")

    # retry of the same run: resume sees no completed buckets, reprocesses all
    n = run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert n == 20

    raw = spark.read.parquet(f"{ckpt_dir}/out_spans")
    assert raw.count() == 40  # physical at-least-once: orphans ARE on disk
    committed = committed_outputs(spark, ckpt_dir)
    assert committed.count() == 20  # ...but the visible table is exactly-once
    assert committed.select("doc_id").distinct().count() == 20
    assert committed.filter(F.col("attempt_id") == "dead-attempt").count() == 0
    mx = committed_metrics(spark, ckpt_dir)
    assert mx.filter(F.col("metric") == "docs").agg(F.sum("value")).first()[0] == 20


def test_unreadable_checkpoint_table_raises_instead_of_rerunning(spark, ckpt_dir):
    """A run's checkpoint rows that exist but cannot be read are not "no
    commits": resuming as a fresh run would commit every bucket twice."""
    import os

    from py4j.protocol import Py4JJavaError

    os.makedirs(f"{ckpt_dir}/commits/run_id=r1")
    with open(f"{ckpt_dir}/commits/run_id=r1/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file" * 8)
    docs = corpus_df(spark, n_docs=8, seed=42)
    with pytest.raises(Py4JJavaError):
        run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert not os.path.exists(f"{ckpt_dir}/out_spans")


@pytest.mark.parametrize("leftover", ["empty", "temporary_only"])
def test_checkpoint_table_left_by_failed_first_commit_is_no_commits(
    spark, ckpt_dir, leftover
):
    """A first checkpoint write that failed leaves a directory with no data
    file: empty after an aborted job, only ``_temporary/`` after a driver
    crash. No bucket was committed, so the run proceeds as a fresh one and
    commits every document once."""
    import os

    os.makedirs(f"{ckpt_dir}/commits")
    if leftover == "temporary_only":
        # an uncommitted task attempt of the crashed job
        attempt = (f"{ckpt_dir}/commits/_temporary/0/_temporary/"
                   "attempt_0_0000_m_000000_0/run_id=r1")
        os.makedirs(attempt)
        with open(f"{attempt}/part-00000.parquet", "wb") as f:
            f.write(b"partial")
    docs = corpus_df(spark, n_docs=8, seed=42)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1") == 8
    ids = [r["doc_id"] for r in committed_outputs(spark, ckpt_dir).select("doc_id").collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1") == 0


def test_backup_sink_snapshots_committed_outputs(spark, ckpt_dir):
    """S9 (output_consolidator.py:412-430): the backup is a self-contained
    snapshot of the COMMITTED outputs — orphan attempts excluded — plus the
    manifest; restoring it reproduces the table."""
    import pyspark.sql.functions as F2

    from pdf_extractor_scripts_spark.operators.checkpoint import (
        backup_outputs,
        restore_backup,
    )

    docs = corpus_df(spark, n_docs=16, seed=42)
    n = run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert n == 16
    # plant an orphan attempt that the snapshot must exclude
    out = spark.read.parquet(f"{ckpt_dir}/out_spans")
    out.withColumn("attempt_id", F2.lit("dead")).write.mode("append").parquet(
        f"{ckpt_dir}/out_spans")

    dest = backup_outputs(spark, ckpt_dir, label="snap_0001")
    back = restore_backup(spark, dest)
    assert back.count() == 16
    assert back.select("doc_id").distinct().count() == 16
    assert back.filter(F2.col("attempt_id") == "dead").count() == 0
    manifest = spark.read.parquet(f"{dest}/manifest")
    assert manifest.count() > 0 and set(manifest.columns) >= {
        "run_id", "partition_key", "attempt_id", "status"}
    # snapshots are immutable: a second backup under the same label refuses
    import pytest as _pytest

    with _pytest.raises(Exception):
        backup_outputs(spark, ckpt_dir, label="snap_0001")


_METRICS = ("docs", "pages", "ocr_fallbacks", "validation_failures")


def _recount(spark, ckpt_dir) -> list:
    """committed_outputs counted per (run_id, attempt_id, partition_key) on
    the driver, as sorted ``METRICS_SCHEMA`` tuples."""
    counts: dict = {}
    for r in committed_outputs(spark, ckpt_dir).select(
            "run_id", "attempt_id", "partition_key", "n_pages", "ocr_used",
            "validation_failed").collect():
        c = counts.setdefault(tuple(r[:3]), [0, 0, 0, 0])
        for i, v in enumerate((1, *r[3:])):
            c[i] += v
    return sorted((run_id, attempt, "extract", b, m, v)
                  for (run_id, attempt, b), c in counts.items()
                  for m, v in zip(_METRICS, c))


def _assert_metrics_schema(df):
    from pdf_extractor_scripts_spark.schemas import METRICS_SCHEMA

    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in METRICS_SCHEMA]


def test_commit_appends_one_file_per_bookkeeping_table(spark, ckpt_dir):
    """One commit appends exactly one parquet file to ``commits/``, in its
    run's directory, however many task slots the session has, and writes no
    ``metrics/`` table: the commit rows are exactly the commit's buckets,
    and committed_metrics is a recount of the committed rows."""
    import glob
    import os
    from collections import Counter

    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA

    docs = corpus_df(spark, n_docs=N_DOCS, seed=42)
    n = run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert n == N_DOCS
    assert len(glob.glob(f"{ckpt_dir}/commits/**/part-*.parquet", recursive=True)) == 1
    assert len(glob.glob(f"{ckpt_dir}/commits/run_id=r1/part-*.parquet")) == 1
    assert not os.path.exists(f"{ckpt_dir}/metrics")

    ck = spark.read.parquet(f"{ckpt_dir}/commits")
    mx = committed_metrics(spark, ckpt_dir)
    # the run_id partition column is read back last, so compare as a mapping
    assert {f.name: f.dataType for f in ck.schema} == {
        f.name: f.dataType for f in CHECKPOINT_SCHEMA}
    _assert_metrics_schema(mx)

    buckets = sorted(r["partition_key"] for r in
                     with_partition_key(docs).select("partition_key").distinct().collect())
    ck_rows = ck.collect()
    assert sorted(r["partition_key"] for r in ck_rows) == buckets
    assert {(r["run_id"], r["status"]) for r in ck_rows} == {("r1", "done")}
    assert len({r["attempt_id"] for r in ck_rows}) == 1

    mx_rows = sorted(tuple(r) for r in mx.collect())
    assert Counter(r[3] for r in mx_rows) == {b: 4 for b in buckets}
    assert mx_rows == _recount(spark, ckpt_dir)
    assert sum(r[5] for r in mx_rows if r[4] == "docs") == n


def test_a_fresh_commit_is_one_pass(spark, ckpt_dir):
    """A fresh run's commit runs the extraction once, inside the out_spans
    write that also observes its doc count and buckets: two jobs (that write
    and the commit-row write), and no stage materializes the extraction
    with localCheckpoint."""
    docs = corpus_df(spark, n_docs=N_DOCS, seed=42)
    count, jobs = jobs_in_group(spark, "one-pass", lambda: run_with_checkpoint(
        spark, docs, ckpt_dir, run_id="r1"))
    assert count == N_DOCS
    assert len(jobs) == 2, jobs
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    names = [st.name for st in stages if st is not None]
    assert names and not [n for n in names if n.startswith("localCheckpoint")], names


def test_a_fresh_run_id_is_found_without_reading_its_commits(spark, ckpt_dir, monkeypatch):
    """A fresh run_id is found by an ``exists`` on its commits directory,
    not by a read that fails: once a session has run an ``observe``, Spark's
    observation listener logs an ERROR stack trace for every failed read."""
    from pdf_extractor_scripts_spark.operators import checkpoint

    docs = corpus_df(spark, n_docs=8, seed=42)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r0") == 8

    def read_commits(*args, **kwargs):
        raise AssertionError("a fresh run_id read the commits table")

    monkeypatch.setattr(checkpoint, "_committed", read_commits)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1") == 8


def _ck_rows(run_buckets) -> list:
    """Checkpoint rows (``CHECKPOINT_SCHEMA``) for (run_id, buckets) pairs."""
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc)
    return [{"run_id": run_id, "partition_key": b, "attempt_id": "a", "status": "done",
             "updated_at": now}
            for run_id, buckets in run_buckets for b in buckets]


def test_commit_writes_one_out_spans_file_per_write_task(spark, ckpt_dir):
    """out_spans is not fanned out by bucket: a commit over two input
    partitions writes at most two data files, however many buckets it
    touches, and every row keeps its partition_key as a column."""
    import glob

    docs = corpus_df(spark, n_docs=N_DOCS, seed=42).repartition(2)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1") == N_DOCS
    files = glob.glob(f"{ckpt_dir}/out_spans/**/*.parquet", recursive=True)
    assert 1 <= len(files) <= 2, files
    keyed = with_partition_key(docs).select("doc_id", "partition_key").collect()
    assert len({r["partition_key"] for r in keyed}) > 2
    out = committed_outputs(spark, ckpt_dir).select("doc_id", "partition_key").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, keyed))


def test_resume_reads_only_its_own_runs_checkpoint_rows(spark, ckpt_dir):
    """Resume does not grow with history: after 200 commits of other
    run_ids, resume for a fresh run_id runs no Spark job, and an existing
    run's completed buckets are read from that run's one file."""
    from pdf_extractor_scripts_spark.operators.checkpoint import (
        _committed,
        _local_rows,
        resume_filter,
    )
    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA

    docs = corpus_df(spark, n_docs=8, seed=42)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r000") == 8
    # the checkpoint rows of 199 more commits, laid out as a commit writes them
    history = [(f"r{i:03d}", (i % 64, (i + 7) % 64)) for i in range(1, 200)]
    _local_rows(spark, _ck_rows(history), CHECKPOINT_SCHEMA).write.mode(
        "append").partitionBy("run_id").parquet(f"{ckpt_dir}/commits")
    assert len(_committed(spark, ckpt_dir).inputFiles()) == 200

    keyed = with_partition_key(docs)
    fresh, jobs = jobs_in_group(
        spark, "resume-fresh", lambda: resume_filter(keyed, spark, ckpt_dir, "fresh"))
    assert fresh is keyed and jobs == []
    todo = resume_filter(keyed, spark, ckpt_dir, "r042")

    files = _committed(spark, ckpt_dir, "r042").inputFiles()
    assert len(files) == 1 and "/run_id=r042/" in files[0], files
    left = {r[0] for r in todo.select("partition_key").collect()}
    all_keys = {r[0] for r in keyed.select("partition_key").collect()}
    assert left == all_keys - {42, 49}


def test_run_ids_round_trip_through_the_commit_path(spark, ckpt_dir):
    """A run_id is a path segment of its checkpoint rows: characters that
    need escaping, and values that look like a number or a date, resume
    their own run and read back as the exact string. An empty run_id, which
    would read back as null, is refused."""
    from collections import Counter

    from pdf_extractor_scripts_spark.operators.checkpoint import _committed
    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA

    run_ids = ["a/b=c %d", "007", "1e5", "2024-01-01"]
    docs = corpus_df(spark, n_docs=6, seed=42)
    for run_id in run_ids:
        assert run_with_checkpoint(spark, docs, ckpt_dir, run_id=run_id) == 6
        assert run_with_checkpoint(spark, docs, ckpt_dir, run_id=run_id) == 0, run_id

    ck = _committed(spark, ckpt_dir)
    assert ck.schema.fieldNames() == CHECKPOINT_SCHEMA.fieldNames()
    mx = committed_metrics(spark, ckpt_dir).filter(F.col("metric") == "docs")
    per_run = Counter()
    for r in mx.collect():
        per_run[r["run_id"]] += r["value"]
    assert per_run == {r: 6 for r in run_ids}
    out = committed_outputs(spark, ckpt_dir).select("run_id").collect()
    assert Counter(r[0] for r in out) == {r: 6 for r in run_ids}
    with pytest.raises(ValueError, match="run_id"):
        run_with_checkpoint(spark, docs, ckpt_dir, run_id="")


def test_commit_refuses_a_directory_of_the_older_flat_layout(spark, ckpt_dir):
    """Older commits recorded their buckets in a flat ``checkpoints/``
    table. Resume reads ``commits/`` only, so committing into such a
    directory would make every bucket visible twice: it raises before any
    out_spans or commit file is written."""
    import os

    from pdf_extractor_scripts_spark.operators.checkpoint import _local_rows
    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA

    _local_rows(spark, _ck_rows([("r1", range(4))]), CHECKPOINT_SCHEMA).write.parquet(
        f"{ckpt_dir}/checkpoints")
    docs = corpus_df(spark, n_docs=8, seed=42)
    with pytest.raises(FileExistsError, match="checkpoints/"):
        run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1")
    assert not os.path.exists(f"{ckpt_dir}/out_spans")
    assert not os.path.exists(f"{ckpt_dir}/commits")


def test_committed_metrics_reads_the_checkpoint_rows_of_an_old_layout(spark, ckpt_dir):
    """A directory from when commit rows carried their bucket's metrics, and
    metrics also had a ``metrics/`` table of their own: both are ignored,
    and committed_metrics is still the recount of the committed rows."""
    import shutil as _shutil

    from pyspark.sql.types import LongType, StructField, StructType

    from pdf_extractor_scripts_spark.operators.checkpoint import _local_rows
    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA, METRICS_SCHEMA

    docs = corpus_df(spark, n_docs=16, seed=42)
    assert run_with_checkpoint(spark, docs, ckpt_dir, run_id="r1") == 16
    # rewrite the commit rows in the older layout, with metric columns that
    # disagree with the data, and add an older metrics/ table
    old_schema = StructType(CHECKPOINT_SCHEMA.fields[:4] + [
        StructField(m, LongType(), False) for m in _METRICS] + CHECKPOINT_SCHEMA.fields[4:])
    ck_rows = [{**r.asDict(), **{m: 999 for m in _METRICS}}
               for r in spark.read.parquet(f"{ckpt_dir}/commits").collect()]
    _shutil.rmtree(f"{ckpt_dir}/commits")
    _local_rows(spark, ck_rows, old_schema).write.partitionBy("run_id").parquet(
        f"{ckpt_dir}/commits")
    mx_rows = [{"run_id": "r1", "attempt_id": a, "stage": "extract", "partition_key": b,
                "metric": m, "value": 999}
               for a in (ck_rows[0]["attempt_id"], "dead")
               for b in (3, 11) for m in _METRICS]
    _local_rows(spark, mx_rows, METRICS_SCHEMA).write.parquet(f"{ckpt_dir}/metrics")

    mx = committed_metrics(spark, ckpt_dir)
    _assert_metrics_schema(mx)
    got = sorted(tuple(r) for r in mx.collect())
    assert got == _recount(spark, ckpt_dir)
    assert sum(r[5] for r in got if r[4] == "docs") == 16


def test_checkpoint_updated_at_is_the_commit_instant_in_any_session_zone(spark, ckpt_dir):
    """``updated_at`` is the commit's instant, not a wall-clock reading
    shifted by the session time zone."""
    import time

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "Asia/Kathmandu")  # UTC+05:45
    try:
        before = time.time_ns() // 1000
        run_with_checkpoint(spark, corpus_df(spark, n_docs=8, seed=42), ckpt_dir, run_id="r1")
        after = time.time_ns() // 1000
        got = [r[0] for r in spark.read.parquet(f"{ckpt_dir}/commits")
               .selectExpr("unix_micros(updated_at)").collect()]
    finally:
        spark.conf.set(key, old)
    assert got and all(before <= us <= after for us in got), (before, got, after)


def test_checkpoint_key_stable_across_parallelism(spark):
    """Bucket ids must not depend on physical partitioning (SURVEY.md
    §7.3(4)) — same doc_id → same partition_key at any parallelism."""
    docs = corpus_df(spark, n_docs=30, seed=42)
    k1 = {r["doc_id"]: r["partition_key"]
          for r in with_partition_key(docs.repartition(2)).select("doc_id", "partition_key").collect()}
    k2 = {r["doc_id"]: r["partition_key"]
          for r in with_partition_key(docs.repartition(16)).select("doc_id", "partition_key").collect()}
    assert k1 == k2


def test_salting_isolates_heavy_docs(spark):
    docs = corpus_df(spark, n_docs=40, seed=42)
    df = salted_repartition(with_weight(docs, heavy_span_threshold=400), 8)
    pid = df.withColumn("pid", F.spark_partition_id())
    heavy = pid.filter(F.col("is_heavy") == 1).select("pid", "doc_id").collect()
    assert len(heavy) >= 1  # the skew-tail doc exists
    # no physical partition holds two heavy docs
    by_pid: dict[int, int] = {}
    for r in heavy:
        by_pid[r["pid"]] = by_pid.get(r["pid"], 0) + 1
    assert max(by_pid.values()) == 1
