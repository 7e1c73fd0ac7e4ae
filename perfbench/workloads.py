"""The benchmark workloads. Each is a closed loop: the benchmark process is
the one client and submits one job at a time to ``local[nproc]``.

A workload is built in two untimed steps (``prepare`` makes seeded inputs
and expected outputs without Spark, ``warmup`` runs one job of the
workload's own kind), then
``iterate`` runs one timed job and ``check`` compares its output with the
references outside the timed region.

``iterate`` returns the job's ``wall_s``, the documents it committed or
collected (``docs``) and its ``batch_ms``: the latency of each unit the job
commits or collects (a stream micro-batch, an ingest pass, a query).
"""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F

from pdf_extractor_scripts_spark.operators import checkpoint as ckpt_mod
from pdf_extractor_scripts_spark.plans import compare, registry
from pdf_extractor_scripts_spark.sources import spans as spans_mod
from pdf_extractor_scripts_spark.sources import warcparse
from pdf_extractor_scripts_spark.streaming import extract_stream

from . import host, inputs
from .check import check_extraction, check_ingest
from .trace import Tracer

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


class Workload:
    name = ""
    n_docs = 0
    min_jobs = 1

    def __init__(self, work: str, seed: int, n_docs: int | None = None):
        self.work = work
        self.seed = seed
        if n_docs:
            self.n_docs = n_docs
        self.run_dir = os.path.join(work, "runs", f"{self.name}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.inject = None  # test hook: mutates collected rows before checking
        self.stats: list[dict] = []  # per checked job, for the traced run

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """One untimed job of the workload's own kind, into a fresh output
        (a leftover one would make a resuming job a no-op)."""
        self.cleanup("warm")
        self.warm_job(spark)

    def warm_job(self, spark) -> None:
        raise NotImplementedError

    def iterate(self, spark, tr, k: int) -> dict:
        raise NotImplementedError

    def check(self, spark, k: int) -> tuple[int, int, str | None]:
        raise NotImplementedError

    def cleanup(self, k) -> None:
        shutil.rmtree(os.path.join(self.run_dir, str(k)), ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def out(self, k) -> str:
        return os.path.join(self.run_dir, str(k))


# --------------------------------------------------------------------------


class StreamDrain(Workload):
    """A backlog of small spans parquet files drained by
    ``start_extraction_stream``, one file per trigger, into a fresh output
    and stream checkpoint. One drain of the whole backlog is one job.

    Each micro-batch is a full ``run_with_checkpoint`` commit, so this runs
    the headline extraction job's pipeline and checkpoint code at the size
    where plan build and the commit's fixed jobs dominate."""

    name = "stream_drain"
    n_docs = 150
    docs_per_file = 50

    def prepare(self) -> None:
        self.inp = inputs.extraction_inputs(
            self.work, self.name, self.seed, self.n_docs, self.docs_per_file)
        self.expected = inputs.load_json(os.path.join(self.inp, "expected.json"))
        self.backlog = os.path.join(self.inp, "docs")
        self.warm_dir = os.path.join(self.run_dir, "warm-src")
        os.makedirs(self.warm_dir)
        first = sorted(os.listdir(self.backlog))[0]
        shutil.copy(os.path.join(self.backlog, first), self.warm_dir)
        self.progress: list[list[dict]] = []

    def _drain(self, spark, src: str, out: str, run_id: str) -> list[dict]:
        q = extract_stream.start_extraction_stream(
            spark, src, os.path.join(out, "ckpt"), run_id=run_id,
            stream_checkpoint=os.path.join(out, "stream"), max_files_per_trigger=1)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]

    def warm_job(self, spark) -> None:
        self._drain(spark, self.warm_dir, self.out("warm"), "warm")

    def iterate(self, spark, tr, k: int) -> dict:
        t0 = time.perf_counter()
        with tr.span("streaming.start_extraction_stream", "streaming"):
            prog = self._drain(spark, self.backlog, self.out(k), f"drain{k}")
        wall = time.perf_counter() - t0
        self.progress.append(prog)
        # a drain's first batch also starts the query: it is a warm-up batch
        return {"wall_s": wall, "docs": sum(p["numInputRows"] for p in prog),
                "batch_ms": [p["durationMs"]["triggerExecution"] for p in prog[1:]]}

    def committed_rows(self, spark, ckpt_dir: str) -> list:
        rows = (ckpt_mod.committed_outputs(spark, ckpt_dir)
                .select("doc_id", "vendor", "route", "validation_failed",
                        "ocr_used", "n_pages", "out_spans")
                .collect())
        if self.inject:
            rows = self.inject(rows)
        return rows

    def check(self, spark, k: int):
        ckpt_dir = os.path.join(self.out(k), "ckpt")
        rows = self.committed_rows(spark, ckpt_dir)
        files, size = 0, 0
        for dp, _, fns in os.walk(ckpt_dir):
            files += len(fns)
            size += sum(os.path.getsize(os.path.join(dp, fn)) for fn in fns)
        self.stats.append({
            "commits": len(self.progress[-1]), "files": files, "bytes": size,
            "ocr_frac": sum(r["ocr_used"] for r in rows) / max(1, len(rows)),
            "validation_failed_frac":
                sum(r["validation_failed"] for r in rows) / max(1, len(rows)),
        })
        return check_extraction(rows, self.expected)


class IngestCrawl(Workload):
    """WARC segments (PDF + HTML, chunked and gzip transfer encodings) and
    a loose office/mail tree, parsed by ``parse_binary_to_spans`` and
    written by ``write_spans`` into a spans table. One ingest pass is one
    job and one committed batch."""

    name = "ingest_crawl"
    n_docs = 1000
    # a pass takes about 2 s and the first ones after the warm-up still
    # warm up: the median of three is past that
    min_jobs = 3
    CLEAN = ("archive_error IS NULL AND revisit_of IS NULL AND "
             "(http_status IS NULL OR http_status BETWEEN 200 AND 299)")
    OFFICE_GLOB = "*.{" + ",".join(inputs.OFFICE_EXTS) + "}"

    def prepare(self) -> None:
        self.inp = inputs.ingest_inputs(self.work, self.seed, self.n_docs)
        self.expected = inputs.load_json(os.path.join(self.inp, "expected.json"))

    def _ingest(self, spark, tr, out: str) -> None:
        src = self.inp
        with tr.span("sources.read_warc_docs", "sources"):
            warc = (warcparse.read_warc_docs(spark, os.path.join(src, "warc"))
                    .filter(self.CLEAN).select("doc_id", "content", "content_type"))
        with tr.span("sources.read_binary_docs", "sources"):
            office = spans_mod.read_binary_docs(
                spark, os.path.join(src, "office"), glob=self.OFFICE_GLOB
            ).select("doc_id", "content", F.lit(None).cast("string").alias("content_type"))
        with tr.span("sources.parse_binary_to_spans", "sources"):
            parsed = spans_mod.parse_binary_to_spans(
                warc.unionByName(office), container="auto", ctype_col="content_type")
        with tr.span("sources.write_spans", "sources"):
            spans_mod.write_spans(parsed, out, n_buckets=spark.sparkContext.defaultParallelism)

    def warm_job(self, spark) -> None:
        # the whole input: a smaller one starts fewer Python workers, and the
        # first timed pass would pay for starting the rest
        self._ingest(spark, Tracer(False, "warm"), self.out("warm"))

    def iterate(self, spark, tr, k: int) -> dict:
        t0 = time.perf_counter()
        self._ingest(spark, tr, self.out(k))
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "docs": len(self.expected), "batch_ms": [wall * 1000.0]}

    def check(self, spark, k: int):
        rows = spark.read.parquet(self.out(k)).select("doc_id", "spans", "parse_ok").collect()
        if self.inject:
            rows = self.inject(rows)
        self.stats.append(
            {"fallback_frac": sum(1 for r in rows if not r["parse_ok"]) / max(1, len(rows))})
        return check_ingest(rows, self.expected)


class Curation(Workload):
    """Five registry queries over the shipped sf0.01 tables, each collected
    with ``toPandas``; one pass over all five is one job, and each query is
    one collected batch. The data is fixed, so the seed is unused. The
    warm-up is a pass over the same tables: over other sizes the adaptive
    plans differ, and the first timed pass would still compile code."""

    name = "curation"
    data_dir = os.path.join(DATA, "sf0.01")

    def prepare(self) -> None:
        self.expected = inputs.curation_expected(self.work, self.data_dir)
        self.n_docs = inputs.table_rows(self.data_dir, "documents")
        self.specs = registry.all_specs()
        self.results: dict = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in inputs.CURATION_QUERIES}

    def _suite(self, spark, tr) -> dict:
        got = {}
        for q in inputs.CURATION_QUERIES:
            t0 = time.perf_counter()
            with tr.span(f"plans.{q}", "plans"):
                try:
                    got[q] = self.specs[q].spark(spark, self.data_dir).toPandas()
                except Exception as e:  # a query that raises is a failed operation
                    got[q] = e
            self.query_s[q].append(time.perf_counter() - t0)
        return got

    def warm_job(self, spark) -> None:
        self._suite(spark, Tracer(False, "warm"))
        for v in self.query_s.values():
            v.clear()

    def iterate(self, spark, tr, k: int) -> dict:
        t0 = time.perf_counter()
        self.results[k] = self._suite(spark, tr)
        return {"wall_s": time.perf_counter() - t0, "docs": self.n_docs,
                "batch_ms": [v[-1] * 1000.0 for v in self.query_s.values()]}

    def check(self, spark, k: int):
        got = self.results.pop(k)
        if self.inject:
            got = self.inject(got)
        failed, first = 0, None
        for q in inputs.CURATION_QUERIES:
            diff = (f"raised {got[q]!r}" if isinstance(got[q], Exception)
                    else compare.compare_frames(got[q], self.expected[q]))
            if diff is not None:
                failed += 1
                first = first or f"{q}: {diff}"
        return len(inputs.CURATION_QUERIES), failed, first


WORKLOADS = {w.name: w for w in (StreamDrain, IngestCrawl, Curation)}


def tail_percentile(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return None
    return {"pct": round(100.0 * (n - 10) / n, 1), "value": sorted(xs)[n - 11], "n": n}


def measure(spark, wl, tr, seconds: float, sampler=None) -> dict:
    """Closed loop: one job at a time until ``seconds`` have passed and at
    least ``wl.min_jobs`` jobs ran. Checks run between jobs, outside the
    timed region.
    With a ``sampler`` (untraced runs) it also records peak RSS and each
    job's CPU time per document."""
    out = {"wall_s": [], "docs_per_s": [], "batch_ms": [], "cpu_ms_per_doc": [],
           "attempted": 0, "failed": 0, "first_error": None}
    if sampler is not None:
        sampler.reset()
    t_end = time.perf_counter() + seconds
    k = 0
    while k < wl.min_jobs or time.perf_counter() < t_end:
        cpu0 = host.cpu_s(sampler.pid) if sampler is not None else 0.0
        r = wl.iterate(spark, tr, k)
        if sampler is not None:
            out["cpu_ms_per_doc"].append(
                (host.cpu_s(sampler.pid) - cpu0) * 1000.0 / r["docs"])
        attempted, failed, err = wl.check(spark, k)
        wl.cleanup(k)
        out["wall_s"].append(r["wall_s"])
        out["docs_per_s"].append(r["docs"] / r["wall_s"])
        out["batch_ms"].extend(r["batch_ms"])
        out["attempted"] += attempted
        out["failed"] += failed
        out["first_error"] = out["first_error"] or err
        k += 1
    if sampler is not None:
        out["peak_rss_mb"] = sampler.peak_mb()
    return out
