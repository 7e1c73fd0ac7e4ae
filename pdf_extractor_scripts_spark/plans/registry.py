"""Query registry: every operator family from SURVEY.md §2 that is
SQL-checkable gets one named entry with

* ``spark``  — ``(SparkSession, sf_dir) -> DataFrame`` (idiomatic DataFrame API)
* ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet tables
  (views pre-registered by the driver), or ``None`` for ops whose semantics
  are not SQL-expressible (driver then records a weaker rows-only check).

A query that is one SQL statement in both dialects registers through
``register_sql`` with its builder and the tables it reads; ``bind`` is the
one place tables become temp views. DataFrame-API queries use ``@register``.

Column names are aliased identically on both sides (the driver's comparator
sorts columns by name and hash-compares values). Float outputs are rounded on
both sides so parallel-summation order cannot flip the hash.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    gated: bool = True


QUERIES: dict[str, QuerySpec] = {}

_lock = threading.Lock()


def register(name: str, oracle: Optional[str], doc: str = "", gated: bool = True):
    """Decorator: register a Spark query implementation under ``name``.

    ``gated=True`` (default) exposes the query through the driver contract
    (``__spark_entry__.queries()``), whose correctness gate covers the first
    50 names in sorted order. ``gated=False`` keeps the query out of the
    driver window but still under the local DuckDB parity suite
    (tests/test_queries_vs_duckdb.py runs ``all_specs()``) — used for forms
    subsumed by a gated superset (e.g. the untrained-centroid IVF probe, the
    per-family detection stages folded into the decision-combine cascade) so
    consolidating the driver registry to ≤50 never drops oracle coverage.
    """

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        with _lock:
            QUERIES[name] = QuerySpec(
                name=name, spark=fn, oracle=oracle, doc=doc, gated=gated
            )
        return fn

    return wrap


def register_sql(name: str, sql: Callable[[str], str], tables: list[str],
                 doc: str = "", gated: bool = True, spread: bool = False) -> None:
    """Register a query that is one SQL statement in both dialects.

    ``sql(dialect)`` builds the statement for ``"spark"`` or ``"duckdb"``;
    the oracle is ``sql("duckdb")``. The Spark side binds ``tables`` (see
    ``bind``) and runs ``sql("spark")``. The SQL reads nothing but the
    tables named here."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        bind(spark, sf_dir, tables, spread=spread)
        return spark.sql(sql("spark"))

    register(name, oracle=sql("duckdb"), doc=doc, gated=gated)(run)


_schemas: dict[tuple[str, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-generated parquet tables.

    At cluster scale these reads become Iceberg table scans; parquet here
    keeps the same pushdown/pruning behavior (Catalyst emits PushedFilters
    and ReadSchema against the parquet source).

    Inferring a parquet schema reads the footer in a one-task Spark job, so
    each table's schema is remembered for the process, keyed by path and
    modification time (a rewritten table is inferred again), and every
    later read passes it."""
    path = f"{sf_dir}/{name}.parquet"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    key = (path, fs.getFileStatus(jpath).getModificationTime())
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session's default parallelism when
    the source partitioning is narrower — and a no-op otherwise.

    r7 (guide §2.5, input skew): the bench parquet tables are single files
    with one row group, so their scans plan exactly ONE task; every
    downstream per-row stage (vectorized Arrow kernels, regex projections)
    then runs on one core of the 32. The conditional keeps this scale-safe:
    a real corpus scan already wider than the session never reshuffles, so
    at 100 TB this is a no-op, while the pathological single-file input
    pays one tiny shuffle (the table is by definition < one split) to light
    up the whole executor. Round-robin repartition is retry-deterministic
    (sortBeforeRepartition stays on). SQL-form queries whose per-document
    regex/HOF projection dominates take it through ``bind(spread=True)``."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def bind(spark: SparkSession, sf_dir: str, tables: list[str], spread: bool = False) -> None:
    """Bind each of ``tables`` as a temp view of the same name, widened by
    ``spread()`` when ``spread=True``. Sets the session time zone to UTC
    first: every registry query is defined against DuckDB's naive-UTC
    epoch."""
    _utc(spark)
    for name in tables:
        df = load_table(spark, sf_dir, name)
        (_spread(df) if spread else df).createOrReplaceTempView(name)


_spread = spread  # bind's ``spread`` flag shadows the function


def _utc(spark: SparkSession) -> None:
    """Timestamp-bearing queries must agree with DuckDB's naive-UTC epoch."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ensure_loaded() -> None:
    """Import all query modules for their registration side effects."""
    from . import analytics, textops, layout, dedup, similarity, pipelineops, scalepath, unified  # noqa: F401


def all_queries() -> dict[str, QuerySpec]:
    """Driver-facing registry: gated queries only (≤50 so every name gets a
    driver CORRECTNESS row — the gate windows the first 50 sorted names)."""
    _ensure_loaded()
    return {n: s for n, s in QUERIES.items() if s.gated}


def all_specs() -> dict[str, QuerySpec]:
    """Every registered query, gated or not — the local test surface."""
    _ensure_loaded()
    return dict(QUERIES)
