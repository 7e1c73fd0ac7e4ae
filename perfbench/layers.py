"""The traced run and its per-layer metrics.

``traced_run`` restarts the Spark context with the event log on, runs the
workload's loop again with benchmark spans, runs the workload's layer
probes, then reads the event log back and reduces it to the metrics in
``PER_LAYER``. Every metric is printed on every workload; a layer that does
no work on a workload reports 0.

Unless a row says otherwise, a time or size is per job of the traced loop
(one ingest pass, one drain, one pass over the curation queries).
``<layer>.*`` totals cover the loop's jobs attributed to the layer, except
``session.*`` (the traced warm-up job) and ``pipeline.*`` (one full
``run_pipeline`` over the drain's backlog, forced with a no-op write).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import host
from .inputs import CURATION_QUERIES
from .trace import LAYERS, Attribution, Tracer, read_event_log, stage_totals, write_spans

# name, unit, better, the end-to-end metric and workload it should move
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s, every workload"),
    ("session.warmup_s", "s", "lower", "setup_s, every workload"),
    ("sources.list_s", "s", "lower", "cpu_ms_per_doc on ingest_crawl"),
    ("sources.parse_busy_s", "s", "lower", "cpu_ms_per_doc on ingest_crawl"),
    ("sources.py_in_mb", "MB", "lower", "cpu_ms_per_doc on ingest_crawl"),
    ("sources.py_out_mb", "MB", "lower", "cpu_ms_per_doc on ingest_crawl"),
    ("sources.in_mb", "MB", "lower", "cpu_ms_per_doc on ingest_crawl"),
    ("sources.task_skew", "ratio", "lower", "wall_s (detail line) on ingest_crawl"),
    ("sources.fallback_frac", "ratio", "lower", "none: input-determined"),
    ("pipeline.plan_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("detect.busy_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("extract.busy_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("merge.busy_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("extract.py_in_mb", "MB", "lower", "cpu_ms_per_doc on stream_drain"),
    ("extract.py_out_mb", "MB", "lower", "cpu_ms_per_doc on stream_drain"),
    ("extract.ocr_frac", "ratio", "lower", "none: input-determined"),
    ("extract.validation_failed_frac", "ratio", "lower", "none: input-determined"),
    ("pipeline.scaling_eff_1to4", "ratio", "higher", "wall_s (detail line) on stream_drain"),
    ("checkpoint.resume_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("checkpoint.materialize_busy_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("checkpoint.write_busy_s", "s", "lower", "cpu_ms_per_doc on stream_drain"),
    ("checkpoint.jobs_per_commit", "count", "lower", "cpu_ms_per_doc on stream_drain"),
    ("checkpoint.files_written", "count", "lower", "cpu_ms_per_doc on stream_drain"),
    ("checkpoint.mb_written", "MB", "lower", "cpu_ms_per_doc on stream_drain"),
    ("stream.batch_tail_ms", "ms", "lower", "wall_s (detail line) on stream_drain"),
    ("stream.planning_ms", "ms", "lower", "batch_p50_ms (detail line) on stream_drain"),
    ("stream.add_batch_ms", "ms", "lower", "batch_p50_ms (detail line) on stream_drain"),
    ("stream.get_batch_ms", "ms", "lower", "batch_p50_ms (detail line) on stream_drain"),
    ("stream.offsets_ms", "ms", "lower", "batch_p50_ms (detail line) on stream_drain"),
    ("stream.rows_per_batch", "count", "higher", "none: input-determined"),
] + [
    (f"plans.{q}_s", "s", "lower", "cpu_ms_per_doc on curation") for q in CURATION_QUERIES
] + [
    ("plans.shuffle_mb", "MB", "lower", "cpu_ms_per_doc on curation"),
    ("plans.spill_mb", "MB", "lower", "cpu_ms_per_doc on curation"),
    ("plans.py_busy_s", "s", "lower", "cpu_ms_per_doc on curation"),
    ("plans.task_skew", "ratio", "lower", "wall_s (detail line) on curation"),
    ("plans.cached_mb_after", "MB", "lower", "peak_rss_mb (detail line) on curation"),
] + [
    (f"{layer}.{m}", unit, "lower", f"the {layer} rows above")
    for layer in LAYERS
    for m, unit in (("jobs", "count"), ("tasks", "count"), ("busy_s", "s"),
                    ("cpu_s", "s"), ("gc_s", "s"))
] + [
    ("trace_overhead_frac", "ratio", "lower", "none: cost of tracing"),
    ("failed_frac", "ratio", "lower", "none: must stay 0"),
]

PREFIX_ROUNDS = 2
SCALING_CORES = 4


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefixes():
    """Growing prefixes of run_pipeline's mapper chain; consecutive
    differences attribute busy time to detect, extract and merge."""
    from pdf_extractor_scripts_spark.plans import pipeline as P

    def route(d):
        return P.with_route(P.with_vendor(P.with_assembled_text(d)))

    def extract(d):
        return P.with_extraction(P.with_weight(route(d), 400))

    return [("scan", lambda d: d), ("route", route), ("extract", extract),
            ("full", P.run_pipeline)]


def _backlog(spark, wl):
    """The extraction probes' input: the drain's whole backlog as one batch."""
    from pdf_extractor_scripts_spark.schemas import DOC_SCHEMA

    return spark.read.schema(DOC_SCHEMA).parquet(wl.backlog)


def _extraction_probes(spark, wl, tr) -> dict:
    from pdf_extractor_scripts_spark.plans import pipeline as P

    out: dict = {"attempted": 1, "failed": 0}
    docs = _backlog(spark, wl)
    plan = []
    for _ in range(3):
        t0 = time.perf_counter()
        with tr.span("pipeline.run_pipeline.plan", "pipeline"):
            P.run_pipeline(docs)
        plan.append(time.perf_counter() - t0)
    out["pipeline.plan_s"] = statistics.median(plan)

    cached = docs.cache()
    with tr.span("pipeline.prefix.cache", "pipeline"):
        cached.count()
    for r in range(PREFIX_ROUNDS):
        for name, fn in _prefixes():
            with tr.span(f"pipeline.prefix.{name}.{r}", "pipeline"):
                _force(fn(cached))
    cached.unpersist()

    # resume over a committed checkpoint must process nothing
    ckpt = wl.out("resume")
    with tr.span("checkpoint.commit_probe", "checkpoint"):
        P.run_with_checkpoint(spark, docs, ckpt, "resume")
    t0 = time.perf_counter()
    with tr.span("checkpoint.resume", "checkpoint"):
        n = P.run_with_checkpoint(spark, docs, ckpt, "resume")
    out["checkpoint.resume_s"] = time.perf_counter() - t0
    out["failed"] += int(n != 0)
    return out


def _curation_probes(spark, wl, tr) -> dict:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {"failed": 0,
            "plans.cached_mb_after": sum(i.memSize() + i.diskSize() for i in infos) / 1e6}


PROBES = {"stream_drain": _extraction_probes, "curation": _curation_probes}


def _scaling_eff(root: str, work: str, wl) -> float:
    """thr(local[4]) / (4 · thr(local[1])) for one run_pipeline over the
    backlog, each side warmed once in its own context."""
    from pdf_extractor_scripts_spark.plans import pipeline as P

    thr = {}
    for cores in (SCALING_CORES, 1):
        spark = host.build_session(root, work, cores=cores)
        try:
            docs = _backlog(spark, wl).localCheckpoint(eager=True)
            count = docs.count()
            _force(P.run_pipeline(docs))
            t0 = time.perf_counter()
            _force(P.run_pipeline(docs))
            thr[cores] = count / (time.perf_counter() - t0)
        finally:
            spark.stop()
    return thr[SCALING_CORES] / (SCALING_CORES * thr[1])


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def traced_run(wl, root: str, work: str, run_id: str, seconds: float,
               session_s: float, warmup_s: float, untraced: dict):
    """Returns (metrics, traced loop result, detail).

    The end-to-end loop ran right after the first warm-up of a fresh JVM;
    the traced loop runs after a context restart in a warm one. So that
    ``trace_overhead_frac`` compares like with like, its untraced
    reference is a loop run the same way: restart, warm-up, loop."""
    from .workloads import measure, tail_percentile

    spark = host.build_session(root, work)
    try:
        wl.warmup(spark)
        ref = measure(spark, wl, Tracer(False, run_id), seconds)
    finally:
        spark.stop()

    log_dir = os.path.join(work, "eventlog", run_id)
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = host.build_session(root, work, event_log_dir=log_dir)
    tr = Tracer(True, run_id)
    tr.bind(spark)
    try:
        with tr.span("session.warmup", "session"):
            wl.warmup(spark)
        wl.stats.clear()
        n_progress = len(getattr(wl, "progress", []))
        first = len(tr.spans) + 1
        tres = measure(spark, wl, tr, seconds)
        loop = set(range(first, len(tr.spans) + 1))
        probes = PROBES.get(wl.name, lambda *a: {"failed": 0})(spark, wl, tr)
    finally:
        spark.stop()  # flushes the event log
    tres["failed"] += probes.pop("failed") + ref["failed"]
    tres["attempted"] += probes.pop("attempted", 0) + ref["attempted"]
    if wl.name == "stream_drain":
        probes["pipeline.scaling_eff_1to4"] = _scaling_eff(root, work, wl)

    attr = Attribution(tr, *read_event_log(log_dir))
    n = len(tres["wall_s"])
    m = {name: 0.0 for name, *_ in PER_LAYER}
    m.update(probes)
    m["session.start_s"] = session_s
    m["session.warmup_s"] = warmup_s

    def per_job(t: dict) -> dict:
        return {k: (v if k == "task_skew" else v / n) for k, v in t.items()}

    for layer in LAYERS:
        if layer == "session":
            spans = attr.span_ids("session.warmup")
            st = stage_totals(attr.stages_where(spans=spans))
            st["jobs"] = len(attr.jobs_where(spans=spans))
        elif layer == "pipeline" and wl.name == "stream_drain":
            spans = attr.span_ids(f"pipeline.prefix.full.{PREFIX_ROUNDS - 1}")
            st = stage_totals(attr.stages_where(spans=spans))
            st["jobs"] = len(attr.jobs_where(spans=spans))
        else:
            st = per_job(stage_totals(attr.stages_where(layer=layer, spans=loop)))
            st["jobs"] = len(attr.jobs_where(layer=layer, spans=loop)) / n
        for k in ("jobs", "tasks", "busy_s", "cpu_s", "gc_s"):
            m[f"{layer}.{k}"] = st[k]

    src = per_job(stage_totals(attr.stages_where(layer="sources", spans=loop)))
    listing = [s["end"] - s["start"] for s in tr.spans if s["id"] in loop
               and s["name"] in ("sources.read_warc_docs", "sources.read_binary_docs")]
    m.update({
        "sources.list_s": sum(listing) / n,
        "sources.parse_busy_s": src["py_busy_s"],
        "sources.py_in_mb": src["py_in_mb"],
        "sources.py_out_mb": src["py_out_mb"],
        "sources.in_mb": src["in_mb"],
        "sources.task_skew": src["task_skew"],
        "sources.fallback_frac": _med(s["fallback_frac"] for s in wl.stats
                                      if "fallback_frac" in s),
    })

    if wl.name == "stream_drain":
        busy = {}
        for name, _ in _prefixes():
            busy[name] = min(
                stage_totals(attr.stages_where(
                    spans=attr.span_ids(f"pipeline.prefix.{name}.{r}")))["busy_s"]
                for r in range(PREFIX_ROUNDS))
        commit_layers = [st for layer in ("checkpoint", "streaming")
                         for st in attr.stages_where(layer=layer, spans=loop)]
        ext = per_job(stage_totals(commit_layers))
        commits = sum(s["commits"] for s in wl.stats) or 1
        jobs = sum(len(attr.jobs_where(layer=layer, spans=loop))
                   for layer in ("checkpoint", "streaming"))
        m.update({
            "detect.busy_s": busy["route"] - busy["scan"],
            "extract.busy_s": busy["extract"] - busy["route"],
            "merge.busy_s": busy["full"] - busy["extract"],
            "extract.py_in_mb": ext["py_in_mb"],
            "extract.py_out_mb": ext["py_out_mb"],
            "extract.ocr_frac": _med(s["ocr_frac"] for s in wl.stats),
            "extract.validation_failed_frac":
                _med(s["validation_failed_frac"] for s in wl.stats),
            "checkpoint.materialize_busy_s": per_job(stage_totals(
                [st for st in commit_layers
                 if st["name"].startswith("localCheckpoint at")]))["busy_s"],
            "checkpoint.write_busy_s": per_job(stage_totals(
                [st for st in commit_layers if st["name"].startswith("parquet at")]))["busy_s"],
            "checkpoint.jobs_per_commit": jobs / commits,
            "checkpoint.files_written": sum(s["files"] for s in wl.stats) / commits,
            "checkpoint.mb_written": sum(s["bytes"] for s in wl.stats) / 1e6 / commits,
        })

    batches = [p for drain in getattr(wl, "progress", [])[n_progress:] for p in drain]
    if batches:
        tail = tail_percentile(untraced["batch_ms"])
        d = [b["durationMs"] for b in batches]
        m.update({
            "stream.batch_tail_ms": tail["value"] if tail else max(untraced["batch_ms"]),
            "stream.planning_ms": _med(x.get("queryPlanning", 0) for x in d),
            "stream.add_batch_ms": _med(x.get("addBatch", 0) for x in d),
            "stream.get_batch_ms": _med(x.get("getBatch", 0) for x in d),
            "stream.offsets_ms": _med(x.get("latestOffset", 0) + x.get("walCommit", 0)
                                      + x.get("commitOffsets", 0) for x in d),
            "stream.rows_per_batch": _med(b["numInputRows"] for b in batches),
        })

    if wl.name == "curation":
        pl = stage_totals(attr.stages_where(layer="plans", spans=loop))
        m.update({f"plans.{q}_s": _med(wl.query_s[q]) for q in CURATION_QUERIES})
        m.update({
            "plans.shuffle_mb": pl["shuffle_mb"] / n,
            "plans.spill_mb": pl["spill_mb"] / n,
            "plans.py_busy_s": pl["py_busy_s"] / n,
            "plans.task_skew": pl["task_skew"],
        })

    m["trace_overhead_frac"] = (_med(tres["wall_s"]) / _med(ref["wall_s"])) - 1
    attempted = untraced["attempted"] + tres["attempted"]
    m["failed_frac"] = (untraced["failed"] + tres["failed"]) / attempted

    spans_file = os.path.join(work, "trace", f"{run_id}-spans.json")
    write_spans(spans_file, attr.span_tree())
    shutil.rmtree(log_dir, ignore_errors=True)
    units = {name: unit for name, unit, *_ in PER_LAYER}
    detail = {"spans_file": os.path.relpath(spans_file, root),
              "traced_samples": n, "trace_jobs": len(attr.jobs)}
    return {k: (float(v), units[k]) for k, v in m.items()}, tres, detail
