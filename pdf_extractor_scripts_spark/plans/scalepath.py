"""Scale-path additions: IVF-bucketed ANN, gap-based sessionization, and
exact-quantile rollups — operators a 100 TB training-data pipeline needs
beyond the reference's own inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import register, register_sql, load_table
from .dedup import _emb_cte, _dot


# --------------------------------------------------------------------------
# ANN — IVF (inverted-file) variant: coarse quantizer + cell-probed search
# --------------------------------------------------------------------------
def _ivf_sql(dialect: str) -> str:
    dot_ec = _dot(dialect, "e", "c")   # vector vs centroid
    dot_qc = _dot(dialect, "q", "c")   # query vs candidate... renamed below
    return f"""
    WITH {_emb_cte(dialect)},
    centroids AS (
      -- deterministic coarse quantizer: the first 8 vectors act as
      -- centroids (a trained k-means would slot in identically)
      SELECT vec_id AS cell, embedding, nrm FROM e WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, cell, embedding, nrm
      FROM (
        SELECT e.vec_id, c.cell, e.embedding, e.nrm,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round(({dot_ec}) / (e.nrm * c.nrm), 6) DESC,
                                           c.cell) AS rn
        FROM e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    q AS (SELECT * FROM assigned WHERE vec_id < 24),
    scored AS (
      SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id,
             round(({_dot(dialect, "q", "c")}) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
    )
    SELECT query_id, cell, neighbor_id, cos_sim, cast(rn as bigint) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """


register_sql(
    "ann_ivf_topk", _ivf_sql, ["embeddings"],
    doc="IVF approximate nearest-neighbor: assign every vector to its "
        "nearest coarse centroid (the inverted file), probe only the "
        "query's cell. The cell id is the shuffle/cluster key — at scale "
        "each cell is a co-partitioned join; centroids are broadcast "
        "(O(k) rows). Deterministic quantizer here; a trained k-means "
        "slots in without changing the plan.",
    gated=False,  # strictly subsumed by ann_ivf_kmeans_topk (same probe
                  # machinery, trained centroids); stays oracle-checked in
                  # the local suite but yields its driver row to it
)


# --------------------------------------------------------------------------
# Sessionization — gap-based session assignment over the event stream
# --------------------------------------------------------------------------
def _sess_sql(dialect: str) -> str:
    epoch = "floor(epoch(ts))" if dialect == "duckdb" else "unix_timestamp(ts)"
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id, {epoch} AS es,
             CASE WHEN lag({epoch}) OVER w IS NULL
                       OR {epoch} - lag({epoch}) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, es,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id, cast(session_no as bigint) AS session_no,
           count(*) AS n_events,
           cast(max(es) - min(es) as bigint) AS duration_sec
    FROM sess GROUP BY user_id, session_no
    """


register_sql(
    "sessionize_events", _sess_sql, ["events"],
    doc="Gap-based sessionization (30-min inactivity): lag + cumulative "
        "new-session flag per user — the same sessionization idiom as the "
        "L3 line clustering, over event time. One shuffle on user_id; in "
        "streaming form this is applyInPandasWithState/session windows.",
)


# --------------------------------------------------------------------------
# Quantile rollups (interpolated percentiles agree across engines)
# --------------------------------------------------------------------------
def _quant_sql(dialect: str) -> str:
    if dialect == "spark":
        q = lambda p: f"round(percentile(value, {p}), 4)"
    else:
        q = lambda p: f"round(quantile_cont(value, {p})::DOUBLE, 4)"
    return f"""
    SELECT event_type,
           count(*) AS n,
           {q(0.5)} AS p50,
           {q(0.9)} AS p90,
           {q(0.99)} AS p99
    FROM events GROUP BY event_type
    """


register_sql(
    "a11_value_quantiles", _quant_sql, ["events"],
    doc="Exact interpolated percentiles per group (p50/p90/p99) — the "
        "distribution rollup for quality-score monitoring. At 100 TB this "
        "becomes approx_percentile with a bounded error budget; exact here "
        "so the oracle can verify.",
    gated=False,  # exists as the sketch's exact twin; the rank-error pytest
                  # in test_scale_knobs.py uses it — driver row ceded to
                  # make room in the 50-row gate window
)


# --------------------------------------------------------------------------
# Sketch-based approximations — the 100 TB forms of count-distinct and
# percentiles. Genuinely non-SQL-expressible for an exact oracle (HLL++ and
# quantile-sketch results depend on the sketch), so these are registered
# WITHOUT oracle SQL and the driver records the weaker rows-only check;
# their exact twins (a8_event_stats, a11_value_quantiles) ARE oracle-checked.
# --------------------------------------------------------------------------
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd 1%) per event_type — the
    sketch replaces the exact shuffle-heavy count(DISTINCT) at scale; exact
    twin a8_event_stats is oracle-checked. Gated via sketch_summaries."""
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (quantile sketch, accuracy 10000) per event_type —
    single-pass mergeable percentile estimates for 100 TB streams; exact
    twin a11_value_quantiles is oracle-checked. Gated via sketch_summaries."""
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "events")
    # Scalar p50/p90/p99 columns (not one array column): array cells are
    # unhashable for downstream canonicalizers, and the scalar shape matches
    # the exact twin a11_value_quantiles so the two can be diffed directly.
    agg = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").alias("approx_p"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        F.round(F.element_at("approx_p", 1), 4).alias("p50"),
        F.round(F.element_at("approx_p", 2), 4).alias("p90"),
        F.round(F.element_at("approx_p", 3), 4).alias("p99"),
        "n_events",
    )


@register(
    "sketch_summaries",
    oracle=None,
    doc="The 100 TB monitoring rollup in one pass: approx_count_distinct "
        "(HyperLogLog++, rsd 1%) AND approx_percentile (quantile sketch, "
        "accuracy 10000) per event_type in a single partial-aggregating "
        "groupBy. The BUILT-IN sketches' results depend on Spark-internal "
        "state, so there is no exact SQL oracle; the exact twins "
        "a8_event_stats / a11_value_quantiles are oracle-checked, and "
        "test_scale_knobs.py bounds the sketch error against them "
        "(rsd / rank-error tolerances).",
    gated=False,  # r4: the driver row went to sketch_portable_hll below —
                  # same sketch capability, but with an EXACT DuckDB oracle
                  # (deterministic portable register state); this built-in
                  # form stays locally rows-checked + error-bounded
)
def sketch_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").alias("approx_p"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "approx_users",
        F.round(F.element_at("approx_p", 1), 4).alias("p50"),
        F.round(F.element_at("approx_p", 2), 4).alias("p90"),
        F.round(F.element_at("approx_p", 3), 4).alias("p99"),
        "n_events",
    )


# --------------------------------------------------------------------------
# Portable HyperLogLog — a from-scratch mergeable distinct-count sketch whose
# ENTIRE register state is exact integer arithmetic from the portable hash
# family, so DuckDB replays it bit-for-bit and the driver gate hash-checks a
# sketch (the built-in HLL++ above can only ever be rows-checked).
# --------------------------------------------------------------------------
_HLL_P = 2147483647          # Mersenne prime 2^31-1: hash modulus
_HLL_M = 256                 # registers (8 bucket bits)
_HLL_WORD = 23               # floor(h/256) < 2^23 → 23-bit rank word
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
# one shared DECIMAL LITERAL for alpha * m^2 * 2^(word+1) — registers store
# 2^(24-M_j) = 2^(word+1) * 2^-M_j — so both engines parse the identical
# double and the single division stays bit-equal
_HLL_EST_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M * (1 << (_HLL_WORD + 1)))
_HLL_LC_GATE = 2.5 * _HLL_M  # small-range (linear counting) threshold


def _hll_sql(dialect: str) -> str:
    """Portable HLL per event_type.

    Hash = 3-round xorshift-multiply mixer (Knuth 2654435761, MINSTD 48271,
    69621 multipliers mod the Mersenne prime; xor with >>15/>>11/>>16
    between rounds). An affine-only hash has NO avalanche — sequential ids
    occupy distinct buckets bijectively and linear counting overestimates
    ~50% (measured); the mixer lands within ±5% of exact across 100→500k
    sequential AND random ids. Every step is exact int64 on both engines
    (products < 2^63, xor/shift on 31-bit values).

    rank = leading-zeros(23-bit word) + 1, via length(bin(w)) — pure
    integer/string ops, no float logs in the register path. Register sum
    S = Σ 2^(24 - M_j) (absent registers contribute 2^24) is an exact
    BIGINT; only the final estimate divides (one shared literal / S) and
    applies linear counting below 2.5m."""
    idiv = "//" if dialect == "duckdb" else "div"
    one = "1::BIGINT" if dialect == "duckdb" else "cast(1 as bigint)"
    shl = (lambda n: f"({one} << ({n}))") if dialect == "duckdb" else (
        lambda n: f"shiftleft({one}, {n})")
    if dialect == "duckdb":
        xsh = lambda c, n: f"xor({c}, ({c} >> {n}))"  # noqa: E731
    else:
        xsh = lambda c, n: f"({c} ^ shiftright({c}, {n}))"  # noqa: E731
    raw = f"{_HLL_EST_NUM} / s"
    return f"""
    WITH h0 AS (
      SELECT event_type,
             (2654435761 * cast(user_id as bigint) + 12345) % {_HLL_P} AS x
      FROM events
    ),
    h1 AS (SELECT event_type, {xsh('x', 15)} AS x FROM h0),
    h2 AS (SELECT event_type, (x * 48271) % {_HLL_P} AS x FROM h1),
    h3 AS (SELECT event_type, {xsh('x', 11)} AS x FROM h2),
    h4 AS (SELECT event_type, (x * 69621) % {_HLL_P} AS x FROM h3),
    h  AS (SELECT event_type, {xsh('x', 16)} AS h FROM h4),
    r AS (
      SELECT event_type, h % {_HLL_M} AS bucket,
             CASE WHEN h {idiv} {_HLL_M} = 0 THEN {_HLL_WORD + 1}
                  ELSE {_HLL_WORD + 1} - length(bin(h {idiv} {_HLL_M}))
             END AS rank
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket, max(rank) AS m
      FROM r GROUP BY event_type, bucket
    ),
    agg AS (
      SELECT event_type,
             cast(sum({shl(f"{_HLL_WORD + 1} - m")})
                  + ({_HLL_M} - count(*)) * {shl(str(_HLL_WORD + 1))}
                  as bigint) AS s,
             cast({_HLL_M} - count(*) as bigint) AS v
      FROM regs GROUP BY event_type
    ),
    ev AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
    SELECT a.event_type,
           round(CASE WHEN {raw} <= {_HLL_LC_GATE} AND a.v > 0
                      THEN {_HLL_M} * ln({_HLL_M} / cast(a.v as double))
                      ELSE {raw} END, 4) AS approx_users,
           a.s AS hll_register_sum,
           a.v AS hll_empty_registers,
           ev.n_events
    FROM agg a JOIN ev ON a.event_type = ev.event_type
    """


register_sql(
    "sketch_portable_hll", _hll_sql, ["events"],
    doc="From-scratch portable HyperLogLog (m=256 registers) per event_type "
        "— the custom mergeable sketch the built-ins can't oracle-check: "
        "Lehmer-hash each user_id (pure int arithmetic), bucket on the low "
        "8 bits, rank = leading zeros of the 23-bit word + 1 via "
        "length(bin(w)), registers = max(rank) per bucket (map-side-"
        "combined; register MERGE IS max, so the sketch shards/merges like "
        "any partial agg at 100 TB), estimate = alpha*m^2*2^24 / Σ 2^(24-M) "
        "with linear counting under 2.5m. Register state is exact BIGINT on "
        "both engines, so the driver gate hash-compares a SKETCH, not just "
        "row counts; accuracy vs the exact count is bounded in "
        "test_scale_knobs.py.",
)


# --------------------------------------------------------------------------
# IVF with a TRAINED coarse quantizer — Lloyd's k-means, 2 unrolled
# iterations, fully deterministic so the DuckDB oracle replays it exactly
# --------------------------------------------------------------------------
_KM_K = 8          # centroids
_KM_QUERIES = 24   # probe set: vec_id < 24


def _km_dot(dialect: str, emb: str, cemb: str) -> str:
    """Sequential fold dot(float32 vector, double centroid) — identical
    accumulation order on both engines."""
    if dialect == "spark":
        return (f"aggregate(zip_with({emb}, {cemb}, (x, y) -> "
                f"cast(x as double) * y), cast(0.0 as double), "
                f"(acc, v) -> acc + v)")
    return (f"list_reduce(list_transform(generate_series(1, len({emb})), "
            f"i -> {emb}[i]::DOUBLE * {cemb}[i]), (acc, v) -> acc + v)")


def _km_assign(dialect: str, cent: str, out: str) -> str:
    """Assign every vector to its nearest centroid by rounded cosine
    (deterministic tie-break on cell id)."""
    dot = _km_dot(dialect, "e.embedding", "c.cemb")
    return f"""
    {out} AS (
      SELECT vec_id, cell, embedding, nrm FROM (
        SELECT e.vec_id, c.cell, e.embedding, e.nrm,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round(({dot}) / (e.nrm * c.nrm), 6) DESC,
                                           c.cell) AS rn
        FROM e CROSS JOIN {cent} c
      ) {'t' if dialect == 'duckdb' else ''} WHERE rn = 1
    )"""


def _km_update(dialect: str, assigned: str, out: str) -> str:
    """Lloyd update: per-cell, per-dimension mean, values rounded to 6
    decimals so parallel-vs-sequential summation order cannot leak into the
    next assignment; centroid norm recomputed from the rounded values."""
    if dialect == "spark":
        dims = (f"SELECT cell, pos, round(avg(cast(v as double)), 6) AS v "
                f"FROM {assigned} LATERAL VIEW posexplode(embedding) t AS pos, v "
                f"GROUP BY cell, pos")
        rebuild = ("transform(array_sort(collect_list(named_struct("
                   "'pos', pos, 'v', v))), s -> s.v)")
        norm = ("sqrt(aggregate(transform(cemb, x -> x * x), "
                "cast(0.0 as double), (acc, y) -> acc + y))")
    else:
        dims = (f"SELECT cell, i - 1 AS pos, round(avg(embedding[i]::DOUBLE), 6) AS v "
                f"FROM {assigned}, UNNEST(generate_series(1, len(embedding))) u(i) "
                f"GROUP BY cell, i - 1")
        rebuild = "list(v ORDER BY pos)"
        norm = ("sqrt(list_reduce(list_transform(cemb, x -> x * x), "
                "(acc, y) -> acc + y))")
    return f"""
    {out}_dims AS ({dims}),
    {out}_raw AS (
      SELECT cell, {rebuild} AS cemb FROM {out}_dims GROUP BY cell
    ),
    {out} AS (SELECT cell, cemb, {norm} AS nrm FROM {out}_raw)"""


def _ivf_kmeans_sql(dialect: str) -> str:
    if dialect == "spark":
        c0_cemb = "transform(embedding, x -> cast(x as double))"
    else:
        c0_cemb = "list_transform(embedding, x -> x::DOUBLE)"
    dot_qc = _km_dot(dialect, "q.embedding", "n.embedding_d")
    if dialect == "spark":
        nemb = "transform(c.embedding, x -> cast(x as double))"
    else:
        nemb = "list_transform(c.embedding, x -> x::DOUBLE)"
    return f"""
    WITH {_emb_cte(dialect)},
    c0 AS (
      -- deterministic init: the first {_KM_K} vectors seed the centroids
      SELECT vec_id AS cell, {c0_cemb} AS cemb, nrm FROM e WHERE vec_id < {_KM_K}
    ),
    {_km_assign(dialect, "c0", "a1")},
    {_km_update(dialect, "a1", "c1")},
    {_km_assign(dialect, "c1", "a2")},
    {_km_update(dialect, "a2", "c2")},
    {_km_assign(dialect, "c2", "af")},
    q AS (SELECT * FROM af WHERE vec_id < {_KM_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, q.cell AS cell, n.vec_id AS neighbor_id,
             round(({dot_qc}) / (q.nrm * n.nrm), 6) AS cos_sim
      FROM q JOIN (SELECT c.vec_id, c.cell, {nemb} AS embedding_d, c.nrm
                   FROM af c) n
        ON q.cell = n.cell AND q.vec_id <> n.vec_id
    )
    SELECT query_id, cell, neighbor_id, cos_sim, cast(rn as bigint) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored) {'r' if dialect == 'duckdb' else ''}
    WHERE rn <= 3
    """


register_sql(
    "ann_ivf_kmeans_topk", _ivf_kmeans_sql, ["embeddings"],
    doc="IVF with a TRAINED coarse quantizer: Lloyd's k-means (k=8, 2 "
        "iterations, deterministic first-k init; per-dimension means "
        "rounded to 6dp so both engines replay the exact trajectory), then "
        "the standard IVF probe — assign every vector to its cell, probe "
        "only the query's cell. Iterations are unrolled CTEs; at scale each "
        "assignment is a broadcast join against O(k) centroids and each "
        "update one groupBy(cell, dim) shuffle — Lloyd's classic "
        "MapReduce form. Closes the round-1 'a trained k-means slots in' "
        "caveat with the actual trainer.",
)
