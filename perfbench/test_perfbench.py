"""Benchmark self-tests: every workload end to end at a tiny size, the
checkers against injected faults, and the printed metric names against
BENCHMARK.json.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import end_to_end  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import DATA, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
TINY = {"ingest_crawl": 40, "stream_drain": 100, "curation": 0}
OFF = Tracer(False, "selftest")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def spark():
    s = host.build_session(ROOT, WORK)
    yield s
    s.stop()
    host.shutdown_jvm()


def _one_job(spark, name: str, inject=None):
    """Set up, warm up and run one job of ``name`` at its tiny size (the
    curation queries over the sf0.001 tables), then check it."""
    wl = WORKLOADS[name](WORK, 3, TINY[name])
    if name == "curation":
        wl.data_dir = os.path.join(DATA, "sf0.001")
    try:
        wl.prepare()
        wl.warmup(spark)
        wl.inject = inject
        r = wl.iterate(spark, OFF, 0)
        return r, wl.check(spark, 0)
    finally:
        wl.close()


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_runs_clean(spark, name):
    r, (attempted, failed, err) = _one_job(spark, name)
    assert r["wall_s"] > 0 and r["docs"] > 0
    assert attempted > 0 and failed == 0, err


def _rows(rows):
    return [r.asDict(recursive=True) for r in rows]


def _edit_first_span(key):
    def inject(rows):
        rows = _rows(rows)
        spans = rows[0][key]
        spans[0]["text"] = spans[0]["text"] + " (edited)"
        return rows
    return inject


@pytest.mark.parametrize("name,key", [("stream_drain", "out_spans"),
                                      ("ingest_crawl", "spans")])
def test_checker_catches_span_text_change(spark, name, key):
    _, (attempted, failed, err) = _one_job(spark, name, _edit_first_span(key))
    assert failed == 1, err
    assert "differs" in err


@pytest.mark.parametrize("name", ["stream_drain", "ingest_crawl"])
def test_checker_catches_dropped_document(spark, name):
    _, (attempted, failed, err) = _one_job(spark, name, lambda rows: _rows(rows)[1:])
    assert failed == 1, err
    assert "committed 0 times" in err


def test_checker_catches_duplicate_document(spark):
    _, (_, failed, err) = _one_job(spark, "stream_drain",
                                   lambda rows: _rows(rows) + _rows(rows)[:1])
    assert failed == 1 and "committed 2 times" in err


def test_checker_catches_curation_value_change(spark):
    def inject(got):
        df = got["q5_region_volume"].copy()
        df.loc[0, "revenue"] += 1.0
        return dict(got, q5_region_volume=df)

    _, (attempted, failed, err) = _one_job(spark, "curation", inject)
    assert attempted == 5 and failed == 1 and err.startswith("q5_region_volume")


def test_benchmark_json_matches_metric_tables():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    fake = {"cpu_ms_per_doc": [1.0]}
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == [
        (n, u) for n, (_, u) in end_to_end(1.0, fake).items()]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (n, u, better) for n, u, better, _ in PER_LAYER]
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def _result(proc) -> tuple[dict, dict]:
    """The detail line and the result line of a run."""
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(result)


def test_printed_end_to_end_names_match():
    detail, res = _result(_run("--workload", "ingest_crawl", "--seed", "5", "--seconds", "0",
                               "--trace", "0", "--docs", "30"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 3 * 30
    assert detail["failed_frac"] == 0 and detail["wall_s"] > 0 and detail["peak_rss_mb"] > 0
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == [
        (m["name"], m["unit"]) for m in _bench()["end_to_end"]]
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_per_layer_names_and_spans():
    detail, res = _result(_run("--workload", "stream_drain", "--seed", "5", "--seconds", "0",
                               "--trace", "1", "--docs", "100"))
    assert res["correct"]
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == [
        (m["name"], m["unit"]) for m in _bench()["per_layer"]]
    with open(os.path.join(ROOT, detail["spans_file"])) as f:
        spans = json.load(f)
    assert {"bench", "job", "stage"} <= {s["kind"] for s in spans}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ("pipeline.plan_s", "extract.busy_s", "checkpoint.resume_s",
                 "checkpoint.jobs_per_commit", "stream.add_batch_ms",
                 "pipeline.scaling_eff_1to4", "streaming.busy_s", "session.start_s"):
        assert m[name] > 0, name


def test_exits_nonzero_without_the_engine():
    with tempfile.TemporaryDirectory(dir=WORK) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("--workload", "ingest_crawl", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=tmp)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
