"""Pre-validates every registered query — gated (driver-exposed) AND ungated
extras — against its DuckDB oracle at sf0.001: a local replica of the
driver's CORRECTNESS gate, plus coverage the 50-row gate window can't hold."""

from __future__ import annotations

import pytest

from pdf_extractor_scripts_spark.plans.registry import all_queries, all_specs, load_table, register_sql
from pdf_extractor_scripts_spark.plans.compare import run_one
from .conftest import SF_DIR, jobs_in_group

NAMES = sorted(all_specs().keys())


def test_driver_registry_fits_gate_window():
    """The driver gates the first 50 sorted names — every gated query must
    land inside that window or it silently loses its CORRECTNESS row."""
    assert len(all_queries()) <= 50


SQL_FORM = sorted(
    n for n, s in all_specs().items()
    if s.spark.__qualname__.startswith(f"{register_sql.__name__}.")
)


def test_sql_form_queries_are_registered_through_register_sql():
    assert len(SQL_FORM) == 34, SQL_FORM


@pytest.mark.parametrize("name", SQL_FORM)
def test_sql_form_query_declares_every_table_it_reads(spark, duck, name):
    """Run each register_sql query in a session with no temp views, so a
    view left behind by an earlier query cannot stand in for a table the
    query reads but does not declare."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    diff = run_one(spark, duck, name, SF_DIR)
    assert diff is None, f"{name}: {diff}"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    diff = run_one(spark, duck, name, SF_DIR)
    assert diff is None, f"{name}: {diff}"


def test_load_table_infers_each_table_version_once(spark, tmp_path):
    """The parquet footer is read in a Spark job only on the first load of a
    table; a later load passes the remembered schema and runs no job. A
    table rewritten at the same path with another schema is read with the
    new one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    _, first = jobs_in_group(spark, "load-first", lambda: load_table(spark, str(tmp_path), "t"))
    df, second = jobs_in_group(spark, "load-second", lambda: load_table(spark, str(tmp_path), "t"))
    assert first and not second, (first, second)
    assert sorted(r["a"] for r in df.collect()) == [1, 2]

    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]
