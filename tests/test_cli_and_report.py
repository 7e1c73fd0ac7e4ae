"""CLI tier (the spark-submit entry point's modes) and the operational
quality report over written outputs."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

import pyspark.sql.functions as F

from pdf_extractor_scripts_spark.fixtures import corpus_df, make_corpus
from pdf_extractor_scripts_spark.operators.checkpoint import quality_report
from pdf_extractor_scripts_spark.plans.pipeline import run_with_checkpoint
from pdf_extractor_scripts_spark.sources.spans import write_spans

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_cli_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_quality_report(spark, tmpdir):
    docs = corpus_df(spark, n_docs=60, seed=42)
    run_with_checkpoint(spark, docs, tmpdir, run_id="qr")
    rep = quality_report(spark, tmpdir)
    rows = {(r["vendor"], r["route"]): r for r in rep.collect()}
    assert sum(r["n_docs"] for r in rows.values()) == 60
    for r in rows.values():
        assert 0.0 <= r["avg_confidence"] <= 1.0
        assert r["p10_confidence"] <= r["p90_confidence"]
    # the corrupted-generic docs (ceco-named, empty extraction) must show a
    # 100% validation-failure pocket somewhere
    assert any(r["validation_failure_rate"] == 1.0 for r in rows.values())


def _run_cli(args: list[str], timeout: int = 240) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "pdf_extractor_scripts_spark", *args],
        capture_output=True, text=True, cwd=REPO, timeout=timeout,
    )


def test_cli_modes(spark, tmpdir):
    # prepare a bucketed spans table for the file-input modes
    docs = corpus_df(spark, n_docs=24, seed=42)
    src = os.path.join(tmpdir, "corpus")
    write_spans(docs, src, n_buckets=4)
    some_doc = docs.select("doc_id").first()["doc_id"]

    r = _run_cli(["--mode", "analyze", "--input", src])
    assert r.returncode == 0, r.stderr[-1500:]
    assert "vendor" in r.stdout and "route" in r.stdout

    r = _run_cli(["--mode", "single-doc", "--input", src, "--doc-id", some_doc])
    assert r.returncode == 0, r.stderr[-1500:]
    assert "field:" in r.stdout  # extracted spans printed

    out = os.path.join(tmpdir, "out")
    r = _run_cli(["--mode", "batch", "--input", src, "--output", out, "--run-id", "cli"])
    assert r.returncode == 0, r.stderr[-1500:]
    assert "processed 24 documents" in r.stdout
    got = spark.read.parquet(os.path.join(out, "out_spans"))
    assert got.count() == 24

    # every raw format reports its parse fallbacks in a batch run
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx

    raw = os.path.join(tmpdir, "docx")
    os.makedirs(raw)
    with open(os.path.join(raw, "ok.docx"), "wb") as f:
        f.write(build_docx(["Invoice paragraph"]))
    with open(os.path.join(raw, "bad.docx"), "wb") as f:
        f.write(b"not a zip package")
    r = _run_cli(["--mode", "batch", "--input", raw, "--input-format", "docx"])
    assert r.returncode == 0, r.stderr[-1500:]
    assert "parse fallbacks (degraded to empty page): 1" in r.stdout


def test_spark_submit_pyfiles_ship(tmpdir):
    """North-rule ship form: `spark-submit --py-files engine.zip job.py`
    from a cwd with NO repo checkout — the engine must come entirely from
    the shipped zip (driver + executors)."""
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    zip_path = os.path.join(str(tmpdir), "engine.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "make_pyfiles_zip.py"), zip_path],
        check=True, capture_output=True,
    )
    job = os.path.join(str(tmpdir), "job.py")
    with open(job, "w") as f:
        f.write(
            "import sys\n"
            "from pyspark.sql import SparkSession\n"
            "spark = (SparkSession.builder.appName('pyfiles-smoke')"
            ".config('spark.sql.shuffle.partitions','4').getOrCreate())\n"
            "from pdf_extractor_scripts_spark.fixtures import corpus_df\n"
            "from pdf_extractor_scripts_spark.plans.pipeline import run_with_checkpoint\n"
            "docs = corpus_df(spark, n_docs=16, seed=42)\n"
            "n = run_with_checkpoint(spark, docs, sys.argv[1], run_id='submit')\n"
            "print(f'SUBMIT_OK processed={n}')\n"
            "def probe(_):\n"
            "    import importlib, zipimport, pdf_extractor_scripts_spark as e\n"
            "    archive = e.__file__.split('.zip')[0] + '.zip'\n"
            "    importlib.invalidate_caches()\n"
            "    seen = zipimport._zip_directory_cache.get(archive)\n"
            "    importlib.invalidate_caches()\n"
            "    guarded = seen is not None and zipimport._zip_directory_cache.get(archive) is seen\n"
            "    yield archive.rsplit('/', 1)[-1], guarded\n"
            "print('WORKER_ENGINE', *spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())\n"
            "spark.stop()\n"
        )
    out_dir = os.path.join(str(tmpdir), "out")
    r = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path, job, out_dir],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmpdir),  # no repo on sys.path here
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "SUBMIT_OK processed=16" in r.stdout, r.stderr[-2000:]
    # a worker importing the engine from engine.zip refreshes that archive's
    # directory only when it changed
    assert "WORKER_ENGINE ('engine.zip', True)" in r.stdout, r.stdout[-2000:]


def test_pyfiles_zip_is_reproducible(tmp_path):
    """make_pyfiles_zip.py writes the same bytes for the same sources,
    whatever their mtimes."""
    import hashlib

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = tmp_path / "pdf_extractor_scripts_spark"
    shutil.copytree(os.path.join(repo, "pdf_extractor_scripts_spark"), pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    (tmp_path / "scripts").mkdir()
    script = shutil.copy(os.path.join(repo, "scripts", "make_pyfiles_zip.py"),
                         tmp_path / "scripts")
    digests = []
    for stamp in (1_000_000_000, 1_600_000_000):
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                os.utime(os.path.join(dirpath, f), (stamp, stamp))
        out = tmp_path / f"engine-{stamp}.zip"
        subprocess.run([sys.executable, script, str(out)], check=True,
                       capture_output=True)
        digests.append(hashlib.sha256(out.read_bytes()).hexdigest())
    assert digests[0] == digests[1]


def test_cli_pdf_ingestion_end_to_end(spark, tmpdir):
    """--input-format pdf: a directory tree of REAL PDF files (both the 1.4
    and 1.5 layouts, vendor subdirs, spaces in names) is byte-parsed,
    vendor-detected on the relative path, and batch-extracted with
    checkpointing — the complete raw-file story through the CLI surface."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    # regex metacharacters + literal '+' in --input must not break the
    # doc_id prefix strip (ADVICE r2: the old regexp-based strip threw or
    # mis-matched, and url_decode's form semantics ate literal '+')
    src = os.path.join(tmpdir, "pdf+s (in)")
    docs = [
        d for d in make_corpus(24, seed=42)
        if not any(s["kind"] in ("media_text", "media_text_alt") for s in d["spans"])
    ]
    for i, d in enumerate(docs):
        path = os.path.join(src, d["doc_id"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(spans_to_pdf(d["spans"], xref_stream=(i % 2 == 0)))

    out = os.path.join(tmpdir, "pdf_out")
    r = _run_cli(["--mode", "batch", "--input", src, "--input-format", "pdf",
                  "--output", out, "--run-id", "pdfcli"])
    assert r.returncode == 0, r.stderr[-1500:]
    assert f"processed {len(docs)} documents" in r.stdout

    got = spark.read.parquet(os.path.join(out, "out_spans"))
    ids = {row["doc_id"] for row in got.select("doc_id").collect()}
    assert ids == {d["doc_id"] for d in docs}  # relative paths, decoded
    # extraction really happened: every text-route doc carries output spans
    assert got.filter("route = 'text' and size(out_spans) > 0").count() > 0


def test_batch_summary_reference_shape(spark, tmpdir):
    """batch_summary mirrors the reference's batch-statistics shape
    (batch_processor.py:321-403): one row of totals + success rate +
    method-vocabulary counts + confidence min/avg/max, over COMMITTED
    outputs only, and internally consistent with quality_report."""
    from pdf_extractor_scripts_spark.operators.checkpoint import batch_summary

    docs = corpus_df(spark, n_docs=60, seed=42)
    run_with_checkpoint(spark, docs, str(tmpdir), run_id="bs")
    row = batch_summary(spark, str(tmpdir)).collect()
    assert len(row) == 1
    s = row[0]
    assert s["total_files"] == 60
    assert s["successful_extractions"] + s["failed_extractions"] == 60
    assert s["success_rate_percent"] == round(
        100.0 * s["successful_extractions"] / 60, 2)
    assert (s["method_text_extraction"] + s["method_ocr"]
            + s["method_hybrid"]) == 60
    assert s["method_text_extraction"] > 0 and s["method_ocr"] > 0
    assert 0.0 <= s["min_confidence_score"] <= s["average_confidence_score"] \
        <= s["max_confidence_score"] <= 1.0
    rep = {(r["vendor"], r["route"]): r for r in quality_report(spark, str(tmpdir)).collect()}
    assert sum(r["n_docs"] for r in rep.values()) == 60


def test_bench_best_records_per_sf(tmp_path, monkeypatch):
    """The bench retry baseline is PER SCALE FACTOR AND CORE COUNT: a
    smoke run at sf0.001 must never clobber the sf0.1 rolling-min table
    (it did once), a 4-core run must neither retry against nor overwrite
    the 32-core records, and both legacy file shapes still read (as
    32-core tables)."""
    import json

    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "CPUS", 32)
    os.makedirs(tmp_path / "BENCH")
    legacy = {"sf": "sf0.1", "queries": {"q1": 1.5, "q2": 2.0}}
    with open(tmp_path / "BENCH" / "best_records.json", "w") as f:
        json.dump(legacy, f)

    assert bench._stored_records() == {("sf0.1", 32): {"q1": 1.5, "q2": 2.0}}

    # an sf0.001 update adds its own table without touching sf0.1
    monkeypatch.setattr(bench, "SF_DIR", "/x/sf0.001")
    bench._update_best_records({}, {"q1": 0.1})
    t = bench._stored_records()
    assert t[("sf0.1", 32)] == {"q1": 1.5, "q2": 2.0}
    assert t[("sf0.001", 32)] == {"q1": 0.1}

    # an sf0.1 run reads its own records and only improves downward
    monkeypatch.setattr(bench, "SF_DIR", "/x/sf0.1")
    assert bench._best_records() == {"q1": 1.5, "q2": 2.0}
    bench._update_best_records(bench._best_records(), {"q1": 1.8, "q2": 1.2})
    t = bench._stored_records()
    assert t[("sf0.1", 32)] == {"q1": 1.5, "q2": 1.2}
    assert t[("sf0.001", 32)] == {"q1": 0.1}

    # the sf-keyed shape written before records kept cpus reads as 32-core
    with open(tmp_path / "BENCH" / "best_records.json", "w") as f:
        json.dump({"sf0.1": {"q1": 1.5, "q2": 1.2}}, f)
    assert bench._stored_records() == {("sf0.1", 32): {"q1": 1.5, "q2": 1.2}}

    # a 4-core run sees no 32-core record, neither stored nor round-written,
    # and its update leaves the 32-core table intact
    with open(tmp_path / "BENCH_r07.json", "w") as f:
        json.dump({"parsed": {"sf": "sf0.1", "cpus": 32,
                              "queries": {"q1": 0.9}}}, f)
    assert bench._best_records() == {"q1": 0.9, "q2": 1.2}
    assert bench._prev_round_queries() == {"round": 7, "queries": {"q1": 0.9}}
    monkeypatch.setattr(bench, "CPUS", 4)
    assert bench._best_records() == {}
    assert bench._prev_round_queries() == {}
    bench._update_best_records(bench._best_records(), {"q1": 3.0})
    t = bench._stored_records()
    assert t[("sf0.1", 4)] == {"q1": 3.0}
    assert t[("sf0.1", 32)] == {"q1": 1.5, "q2": 1.2}
    assert bench._best_records() == {"q1": 3.0}


def test_bench_scaling_pairs_fit_the_host():
    """N→4N pairs come from the core count: today's (4,16),(8,32) at 32
    cores, never more slots than cores."""
    import bench

    assert bench.scaling_pairs(32) == [(4, 16), (8, 32)]
    assert bench.scaling_pairs(8) == [(1, 4), (2, 8)]
    assert bench.scaling_pairs(4) == [(1, 4)]


def test_bench_cpus_default_to_this_hosts_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the bench runs, picks its scaling pairs and
    keys its records on this host's core count, never on a fixed one."""
    import importlib

    import bench
    from perfbench import host

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(bench).CPUS == host.nproc()
    finally:
        monkeypatch.undo()
        importlib.reload(bench)


def test_bench_skew_stats_read_the_spans_jobs_from_the_event_log():
    """The skew A/B reduction: per variant, the min over rounds of the span
    wall and of the slowest task (Executor Run Time) among the stages of
    the span's jobs; a job outside every span counts for none."""
    import bench
    from perfbench.trace import Tracer

    tracer = Tracer(True, "skew")
    for sid, (name, start, end) in enumerate(
            [("nosalt", 0.0, 9.0), ("salt", 10.0, 14.0),
             ("nosalt", 20.0, 27.5), ("salt", 30.0, 35.0)], 1):
        tracer.spans.append({"id": sid, "name": name, "layer": "bench",
                             "kind": "bench", "parent": None, "run_id": "skew",
                             "start": start, "end": end})
    task_ms = {  # job → (span, task run times of its two stages)
        1: (1, [100, 6000], [50]), 2: (2, [1500, 1400], [1600]),
        3: (3, [200, 200], [5000]), 4: (4, [1800], [700, 300]),
        5: (None, [60000], [1]),  # outside every span: ignored
    }
    jobs, stages = {}, {}
    for j, (span, *per_stage) in task_ms.items():
        jid = (0, j)
        jobs[jid] = {"start": 0.0, "end": 1.0, "span": span, "callsite": None,
                     "stages": []}
        for k, ms in enumerate(per_stage):
            sid = (0, 10 * j + k)
            jobs[jid]["stages"].append(sid)
            stages[sid] = {"job": jid, "task_ms": ms}

    assert bench._skew_stats(tracer, jobs, stages) == {
        "wall_sec": {"nosalt": 7.5, "salt": 4.0},
        "max_task_sec": {"nosalt": 5.0, "salt": 1.6},
        "max_task_ratio": 3.12,
        "wall_ratio": 1.88,
    }


def test_bench_ingest_table_reads_every_tree(spark, tmp_path, monkeypatch):
    """Every INGESTS entry's scan + parse over its own generated tree
    yields one parsed document per generated one: a wrong glob or
    container in the table shows up as a missing, fallback or raw-bytes
    document. n=14 cycles the office tree through all seven forms twice."""
    import bench

    monkeypatch.setattr(bench, "TREE_ROOT", str(tmp_path))
    n = 14
    for name, ing in bench.INGESTS.items():
        rows = ing.parse(ing.scan(spark, ing.tree(n, 1))).select(
            "parse_ok",
            F.expr("concat_ws(' ', transform(spans, s -> s.text))").alias("text"),
        ).collect()
        assert len(rows) == n, (name, len(rows))
        assert all(r["parse_ok"] and "%PDF" not in r["text"] for r in rows), name
