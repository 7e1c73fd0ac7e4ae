"""Plan-audit tier: assert the physical plans are the ones we designed —
filters pushed to the parquet scan, columns pruned, zero shuffles in the
extraction mapper chain, whole-stage codegen on the hot scan paths."""

from __future__ import annotations

from pdf_extractor_scripts_spark.fixtures import corpus_df
from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline
from pdf_extractor_scripts_spark.plans.registry import all_queries, all_specs
from .conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q3_pushdown_and_pruning(spark):
    df = all_queries()["q3_shipping_priority"].spark(spark, SF_DIR)
    plan = _plan(df)
    # the mktsegment filter must reach the customer parquet scan
    assert "PushedFilters" in plan
    assert "BUILDING" in plan.replace("EqualTo(c_mktsegment,BUILDING)", "BUILDING")
    # lineitem scan must NOT read all 11 columns (projection pruning)
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_returnflag" not in line and "l_tax" not in line


def test_q1_scan_prunes_columns(spark):
    df = all_queries()["q1_pricing_summary"].spark(spark, SF_DIR)
    plan = _plan(df)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("l_partkey" not in l and "l_suppkey" not in l for l in read)


def test_pipeline_is_shuffle_free_by_default(spark):
    docs = corpus_df(spark, n_docs=24, seed=42)
    plan = _plan(run_pipeline(docs))
    assert "Exchange" not in plan, "default extraction plan must not shuffle"


def test_pipeline_salted_has_single_shuffle(spark):
    docs = corpus_df(spark, n_docs=24, seed=42)
    plan = _plan(run_pipeline(docs, salt=True))
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and l.strip().endswith("Exchange")
    ]
    assert len(exchanges) == 1, exchanges


def test_commit_rows_are_a_one_partition_local_relation(spark):
    """The checkpoint's bookkeeping rows are a JVM LocalTableScan coalesced
    to one partition: no Python task and one file per write, with or
    without Arrow enabled for pyspark conversions."""
    import datetime

    from pdf_extractor_scripts_spark.operators.checkpoint import _local_rows
    from pdf_extractor_scripts_spark.schemas import CHECKPOINT_SCHEMA

    now = datetime.datetime.now(datetime.timezone.utc)
    rows = [{"run_id": "r", "partition_key": b, "attempt_id": "a", "status": "done",
             "docs": 1, "pages": 2, "ocr_fallbacks": 0, "validation_failures": 0,
             "updated_at": now} for b in range(16)]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            df = _local_rows(spark, rows, CHECKPOINT_SCHEMA)
            plan = _plan(df)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
            assert df._jdf.queryExecution().toRdd().getNumPartitions() == 1
            assert df.schema == CHECKPOINT_SCHEMA
    finally:
        spark.conf.set(key, old)


def test_pdf_ingest_is_single_map_stage(spark, tmp_path):
    """VERDICT r2 #5: the raw-PDF ingest (binaryFile scan → byte-stream
    parse mapInPandas) must be ONE map stage — no Exchange, no sort, no
    aggregation between the file scan and the span output."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    for i, d in enumerate(make_corpus(6, seed=42)):
        p = tmp_path / d["doc_id"]
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(spans_to_pdf(d["spans"], xref_stream=(i % 2 == 0)))

    parsed = parse_binary_to_spans(read_binary_docs(spark, str(tmp_path)))
    plan = _plan(parsed)
    assert "Exchange" not in plan, "PDF parse must not shuffle"
    assert "Sort" not in plan and "Aggregate" not in plan
    assert "MapInPandas" in plan and "BatchScan" in plan or "Scan" in plan


def test_scan_stages_are_codegen(spark):
    # AQE hides codegen spans until stages materialize; audit the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_queries()["q1_pricing_summary"].spark(spark, SF_DIR)
        simple = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert "*(1)" in simple  # whole-stage codegen span over the scan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_no_unpartitioned_window_over_unbounded_input(spark):
    """Scale audit across EVERY registered query: a Window with no
    PARTITION BY moves the entire input into one task to rank — the q3
    round-1 regression. Global top-k must compile to TakeOrderedAndProject
    (orderBy + limit), and every remaining window must carry partition
    columns. windowspecdefinition(...) lists partition cols BEFORE the
    ordering spec, so a spec whose first argument already carries ASC/DESC
    has an empty partitioning."""
    import re

    bad = {}
    for name, spec in all_specs().items():
        df = spec.spark(spark, SF_DIR)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", logical):
            first_arg = m.group(1).split(",")[0].strip()
            if re.search(r"\b(ASC|DESC)\b", first_arg):
                bad[name] = m.group(0)[:120]
                break
    assert not bad, f"unpartitioned windows: {bad}"


def test_ngram_jaccard_verify_ships_no_set_arrays(spark):
    """r4 (VERDICT r3 #3): the exact-Jaccard verify must compute |A∩B| from
    narrow per-shingle rows, never by shipping collect_set arrays through
    the pair joins — no shuffle row may carry a whole document's shingle
    set, so verify-shuffle bytes scale with candidate count, not document
    length. The candidate pair list rides a broadcast into the fan-out
    join (guard-bounded, MBs at any sf)."""
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    df = all_specs()["dedup_ngram_jaccard"].spark(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "collect_set" not in plan
    assert "array_intersect" not in plan and "array_union" not in plan
    assert "BroadcastExchange" in plan


def test_ngram_jaccard_broadcast_fallback(spark, monkeypatch):
    """r5 (VERDICT r4 #6): the pair-list broadcast is gated on a pair-count
    vs BROADCAST_PAIRS_MAX — above the ceiling the hint is dropped (no
    explicit broadcast of pairs/cand_docs in the analyzed plan; AQE picks
    the join strategy at runtime) and the fallback path must produce the
    SAME rows as the broadcast path."""
    from pdf_extractor_scripts_spark.plans import dedup
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    spec = all_specs()["dedup_ngram_jaccard"]
    sf = "/root/testdata/sf0.001"

    spark.catalog.clearCache()
    bc_rows = {tuple(r) for r in spec.spark(spark, sf).collect()}

    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "BROADCAST_PAIRS_MAX", 0)
    df = spec.spark(spark, sf)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower(), "hint survived the fallback"
    fb_rows = {tuple(r) for r in df.collect()}
    spark.catalog.clearCache()
    assert fb_rows == bc_rows


def test_ngram_jaccard_array_volume_guard(spark, monkeypatch):
    """r7: the array-verify fast path is additionally gated on total
    candidate characters (the broadcast is sized by candidates x doc
    length, which the pair-count guard alone does not bound). Forcing the
    ceiling to 0 must route through the narrow-row fallback and produce
    the SAME rows."""
    from pdf_extractor_scripts_spark.plans import dedup
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    spec = all_specs()["dedup_ngram_jaccard"]
    sf = "/root/testdata/sf0.001"

    spark.catalog.clearCache()
    fast_rows = {tuple(r) for r in spec.spark(spark, sf).collect()}

    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "ARRAY_BC_MAX_CHARS", 0)
    df = spec.spark(spark, sf)
    # the narrow-row fallback carries no list column anywhere in the plan
    assert "hs" not in [f.name for f in df.schema.fields]
    plan = _plan(df)
    assert "ListArray" not in plan and " hs#" not in plan, \
        "array fast path must be disabled under the volume guard"
    slow_rows = {tuple(r) for r in df.collect()}
    spark.catalog.clearCache()
    assert slow_rows == fast_rows
