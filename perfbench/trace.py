"""Traced-run tooling: benchmark spans, Spark event-log reader, call-site
attribution and per-layer aggregation.

A span is recorded around every public engine call the benchmark makes.
While a span is open its id is set as the Spark local property
``perfbench.span``, so every job the call submits carries it into the event
log. Jobs and stages read back from the log become child spans. A job goes
to a layer by the engine module of its PySpark call site when Spark
recorded one, else to the layer of the benchmark span that submitted it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

SPAN_PROPERTY = "perfbench.span"

# engine module (path fragment) → layer; first match wins
MODULE_LAYERS = [
    ("/pdf_extractor_scripts_spark/sources/", "sources"),
    ("/pdf_extractor_scripts_spark/streaming/", "streaming"),
    ("/pdf_extractor_scripts_spark/operators/checkpoint.py", "checkpoint"),
    ("/pdf_extractor_scripts_spark/operators/", "pipeline"),
    ("/pdf_extractor_scripts_spark/plans/pipeline.py", "pipeline"),
    ("/pdf_extractor_scripts_spark/functions/", "plans"),
    ("/pdf_extractor_scripts_spark/plans/", "plans"),
]

LAYERS = ["session", "sources", "pipeline", "checkpoint", "streaming", "plans"]

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
PY_RUN = "time to run Python workers"


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans) + 1
        rec = {"id": sid, "name": name, "layer": layer, "kind": "bench",
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_property(str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_property(str(self._stack[-1]) if self._stack else None)

    def _set_property(self, value) -> None:
        if self._spark is not None:
            self._spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    def by_id(self) -> dict[int, dict]:
        return {s["id"]: s for s in self.spans}


def layer_of_callsite(callsite: str | None) -> str | None:
    if not callsite:
        return None
    for frag, layer in MODULE_LAYERS:
        if frag in callsite:
            return layer
    return None


# --------------------------------------------------------------------------
# event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages of every application logged under ``log_dir``.

    jobs: id → {start, end, span, callsite, stages}
    stages: id → {job, name, start, end, tasks, run_ms, cpu_ns, gc_ms,
    task_ms[], py_in, py_out, py_run_ms, shuffle_w, spill, in_bytes,
    out_bytes}. Job and stage ids are made unique across applications by
    prefixing the application's index."""
    jobs: dict = {}
    stages: dict = {}
    for app_i, path in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        if os.path.isdir(path):
            continue
        stage_job: dict = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jid = (app_i, e["Job ID"])
                    props = e.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    jobs[jid] = {
                        "start": e["Submission Time"] / 1000.0, "end": None,
                        "span": int(span) if span else None,
                        "callsite": props.get("callSite.short"),
                        "stages": [(app_i, s) for s in e["Stage IDs"]],
                    }
                    for s in e["Stage IDs"]:
                        stage_job[s] = jid
                elif ev == "SparkListenerJobEnd":
                    jid = (app_i, e["Job ID"])
                    if jid in jobs:
                        jobs[jid]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault((app_i, si["Stage ID"]), _new_stage())
                    st.update(job=stage_job.get(si["Stage ID"]),
                              name=si.get("Stage Name", ""),
                              start=(si.get("Submission Time") or 0) / 1000.0,
                              end=(si.get("Completion Time") or 0) / 1000.0)
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault((app_i, e["Stage ID"]), _new_stage())
                    tm = e.get("Task Metrics") or {}
                    ti = e.get("Task Info") or {}
                    st["tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    st["run_ms"] += run
                    st["task_ms"].append(run)
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    st["in_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["out_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    st["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for acc in ti.get("Accumulables") or []:
                        name = acc.get("Name")
                        if name == PY_IN:
                            st["py_in"] += _num(acc.get("Update"))
                        elif name == PY_OUT:
                            st["py_out"] += _num(acc.get("Update"))
                        elif name == PY_RUN:
                            st["py_run_ms"] += _num(acc.get("Update"))
    return jobs, stages


def _new_stage() -> dict:
    return {"job": None, "name": "", "start": 0.0, "end": 0.0, "tasks": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "task_ms": [], "py_in": 0.0,
            "py_out": 0.0, "py_run_ms": 0.0, "shuffle_w": 0, "spill": 0,
            "in_bytes": 0, "out_bytes": 0}


# --------------------------------------------------------------------------
# attribution


class Attribution:
    """Jobs and stages attributed to layers and benchmark spans."""

    def __init__(self, tracer: Tracer, jobs: dict, stages: dict):
        self.tracer = tracer
        self.jobs = jobs
        self.stages = stages
        spans = tracer.by_id()
        for job in jobs.values():
            owner = spans.get(job["span"])
            job["layer"] = (layer_of_callsite(job["callsite"])
                            or (owner["layer"] if owner else "unattributed"))
        for st in stages.values():
            job = jobs.get(st["job"])
            st["layer"] = job["layer"] if job else "unattributed"
            st["span"] = job["span"] if job else None

    def stages_where(self, layer: str | None = None, spans: set | None = None) -> list[dict]:
        return [st for st in self.stages.values()
                if (layer is None or st["layer"] == layer)
                and (spans is None or st["span"] in spans)]

    def jobs_where(self, layer: str | None = None, spans: set | None = None) -> list[dict]:
        return [j for j in self.jobs.values()
                if (layer is None or j["layer"] == layer)
                and (spans is None or j["span"] in spans)]

    def span_ids(self, name_prefix: str) -> set:
        """Ids of benchmark spans named ``name_prefix*`` and their
        descendants."""
        root = {s["id"] for s in self.tracer.spans if s["name"].startswith(name_prefix)}
        grew = True
        while grew:
            grew = False
            for s in self.tracer.spans:
                if s["parent"] in root and s["id"] not in root:
                    root.add(s["id"])
                    grew = True
        return root

    def span_tree(self) -> list[dict]:
        """Benchmark spans plus Spark jobs and stages as child spans, each
        with its self time: duration minus the union its children cover."""
        out = [dict(s) for s in self.tracer.spans]
        next_id = len(out) + 1
        job_ids = {}
        for jid, job in sorted(self.jobs.items()):
            if job["end"] is None:
                continue
            job_ids[jid] = next_id
            out.append({"id": next_id, "name": f"job {jid[1]}", "layer": job["layer"],
                        "kind": "job", "parent": job["span"],
                        "run_id": self.tracer.run_id, "start": job["start"],
                        "end": job["end"], "callsite": job["callsite"]})
            next_id += 1
        for sid, st in sorted(self.stages.items()):
            if not st["end"] or st["job"] not in job_ids:
                continue
            out.append({"id": next_id, "name": f"stage {sid[1]}: {st['name']}",
                        "layer": st["layer"], "kind": "stage",
                        "parent": job_ids[st["job"]], "run_id": self.tracer.run_id,
                        "start": st["start"], "end": st["end"],
                        "tasks": st["tasks"], "busy_s": st["run_ms"] / 1000.0})
            next_id += 1
        children: dict = {}
        for s in out:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in out:
            if s["end"] is None:
                continue
            covered = _union_within(children.get(s["id"], []), s["start"], s["end"])
            s["self_s"] = round(s["end"] - s["start"] - covered, 6)
        return out


def _union_within(intervals: list, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b is not None):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def stage_totals(stages: list[dict]) -> dict:
    """Sums over stages, in seconds and MB, plus task skew (slowest task /
    median task, over every task of the stages)."""
    task_ms = [t for st in stages for t in st["task_ms"]]
    med = statistics.median(task_ms) if task_ms else 0
    return {
        "tasks": sum(st["tasks"] for st in stages),
        "busy_s": sum(st["run_ms"] for st in stages) / 1000.0,
        "cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
        "py_in_mb": sum(st["py_in"] for st in stages) / 1e6,
        "py_out_mb": sum(st["py_out"] for st in stages) / 1e6,
        "py_busy_s": sum(st["py_run_ms"] for st in stages) / 1000.0,
        "shuffle_mb": sum(st["shuffle_w"] for st in stages) / 1e6,
        "spill_mb": sum(st["spill"] for st in stages) / 1e6,
        "in_mb": sum(st["in_bytes"] for st in stages) / 1e6,
        "out_mb": sum(st["out_bytes"] for st in stages) / 1e6,
        "task_skew": (max(task_ms) / med) if med else 0.0,
    }


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(spans, f)
