"""Relational analytics queries — the aggregation / join / top-k operator
families of SURVEY.md §2.6-§2.8 (J*, A*, T*) expressed over the driver's
TPC-H-ish tables.

The reference computes every one of these shapes per-document in Python dicts
(e.g. batch statistics batch_processor.py:321-403, financial cross-validation
schlage_processor.py:913-990, argmax selection image_pdf_processor.py:379-382);
here they are corpus-level Spark SQL so Catalyst plans partial aggregation,
broadcast joins for small dims, and AQE handles skew.

Scale notes (100 TB): every groupBy below aggregates map-side first
(partial_sum/count), region/nation are broadcast (< a few KB always),
customer⋈orders⋈lineitem shuffles on the join keys once and AQE coalesces
post-shuffle partitions. Top-k uses rank-within-partition windows, never a
global sort of the fact table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .registry import register, register_sql, load_table, _utc


# --------------------------------------------------------------------------
# A5/A8 analog — TPC-H Q1 pricing summary (the flagship aggregation)
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Corpus-level pricing summary; reference analog: batch summary stats "
        "batch_processor.py:321-403. Map-side partial agg, no join.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# J-family — multi-way join + top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    WITH rev AS (
      SELECT o.o_orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             min(o.o_orderpriority)                                AS o_orderpriority
      FROM customer c
      JOIN orders o    ON c.c_custkey = o.o_custkey
      JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate <  TIMESTAMP '1999-01-01'
        AND l.l_shipdate  >= TIMESTAMP '1996-01-01'
      GROUP BY o.o_orderkey
    )
    SELECT o_orderkey, revenue, o_orderpriority
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rn FROM rev)
    WHERE rn <= 10
    """,
    doc="3-way join + agg + deterministic top-10 (rank on rounded revenue, "
        "tie-break orderkey). Catalyst reorders joins; the filter on "
        "c_mktsegment is pushed to the customer scan.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01"))
    )
    # r7 (guide §3.1): the BUILDING-filtered customer keyset is small at any
    # bench sf but post-filter size estimates are unreliable — hint the
    # broadcast explicitly so the orders side is never shuffled for it.
    rev = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.min("o_orderpriority").alias("o_orderpriority"),
        )
    )
    # orderBy + limit compiles to TakeOrderedAndProject: per-partition top-k
    # merged on the driver. A global row_number() window would instead pull
    # every post-agg row into a single task to rank — a scale-killer at 100x.
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


# --------------------------------------------------------------------------
# Broadcast-dim star join (TPC-H Q5 shape) — A10 vendor rollup analog
# --------------------------------------------------------------------------
@register(
    "q5_region_volume",
    oracle="""
    SELECT r.r_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey   = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Star join; region/nation broadcast explicitly (they are O(10) rows "
        "at any scale). Reference analog: per-vendor rollups "
        "test_enhanced_processor.py:158-171.",
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # r7 (guide §3.1): customer pruned to (c_custkey, c_nationkey) is a few
    # MB at any bench sf — an explicit hint keeps the join a broadcast when
    # the post-scan size ESTIMATE at larger sfs exceeds the 10 MB auto
    # threshold, so only the l⋈o join ever shuffles.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# A7 — financial cross-validation (schlage_processor.py:913-990)
# --------------------------------------------------------------------------
@register(
    "a7_order_crossval",
    oracle="""
    WITH it AS (
      SELECT l_orderkey, round(sum(l_extendedprice), 2) AS item_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderstatus,
           count(*) AS n_orders,
           sum(CASE WHEN it.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_without_items,
           sum(CASE WHEN it.l_orderkey IS NOT NULL
                     AND abs(o.o_totalprice - it.item_total) > 0.01
                    THEN 1 ELSE 0 END)::BIGINT AS n_mismatch
    FROM orders o LEFT JOIN it ON o.o_orderkey = it.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="Cross-validate order totals against the sum of their line items — "
        "the reference's line-item-total vs subtotal check "
        "(schlage_processor.py:944-961, |Δ|>0.01) lifted to a corpus join.",
)
def a7_order_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    it = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("item_total"))
    )
    j = o.join(it, o.o_orderkey == it.l_orderkey, "left")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_without_items"),
        F.sum(
            F.when(
                F.col("l_orderkey").isNotNull()
                & (F.abs(F.col("o_totalprice") - F.col("item_total")) > 0.01),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    )


# --------------------------------------------------------------------------
# A8 — batch statistics (batch_processor.py:321-403)
# --------------------------------------------------------------------------
@register(
    "a8_event_stats",
    oracle="""
    SELECT event_type,
           count(*)                       AS n_events,
           count(DISTINCT user_id)        AS n_users,
           round(avg(value), 4)           AS avg_value,
           round(min(value), 4)           AS min_value,
           round(max(value), 4)           AS max_value
    FROM events GROUP BY event_type
    """,
    doc="Method histogram + min/avg/max rollup, the Spark form of the "
        "reference's batch summary (success counts, method histogram, "
        "min/max/avg at batch_processor.py:321-403).",
)
def a8_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


# --------------------------------------------------------------------------
# T2 — deterministic argmax per group (image_pdf_processor.py:379-382 shape)
# --------------------------------------------------------------------------
@register(
    "t2_argmax_customer",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer)
    WHERE rn = 1
    """,
    doc="Top-1 selection per group with explicit total ordering — the "
        "reference's argmax-confidence selections (T2) made deterministic "
        "(ties broken by key, SURVEY.md §7.3(1)).",
    gated=False,  # r6 slot rotation (VERDICT r5 #8): o4_ocr_variant_select
                  # gates the same argmax idiom, so T2 donates its driver
                  # slot to unified_json_projection; still DuckDB-parity-
                  # checked locally like every xgate row
)
def t2_argmax_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# T3 — top-k per group (schlage_processor.py:619-620 top-5 matches)
# --------------------------------------------------------------------------
@register(
    "t3_topk_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 5
    """,
    doc="Top-5 per priority via rank window — partition-local sort only, "
        "never a global sort of the fact table.",
)
def t3_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# T4 — key-based dedup (text_pdf_processor.py:1718-1735)
# --------------------------------------------------------------------------
@register(
    "t4_dedup_documents",
    oracle="""
    SELECT lang, n_chars,
           min(doc_id) AS keep_doc_id,
           count(*)    AS n_candidates
    FROM documents
    GROUP BY lang, n_chars
    HAVING count(*) > 1
    """,
    doc="Duplicate-key groups with a deterministic survivor (min doc_id) — "
        "the reference's line-item dedupe key pattern "
        "(text_pdf_processor.py:1718-1735) as a hash aggregation.",
)
def t4_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "n_chars")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_candidates"))
        .filter(F.col("n_candidates") > 1)
    )


# --------------------------------------------------------------------------
# T6 — set difference via anti-join (text_extraction_comparison.py:213-218)
# --------------------------------------------------------------------------
@register(
    "t6_set_difference",
    oracle="""
    SELECT doc_id FROM documents WHERE lang = 'en'
    EXCEPT
    SELECT doc_id FROM documents WHERE n_chars > 300
    """,
    doc="Set difference of id sets — reference compares extracted-number "
        "sets (text_extraction_comparison.py:213-218); in Spark this is a "
        "left-anti join (no full materialization of either side).",
)
def t6_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select("doc_id")
    big = d.filter(F.col("n_chars") > 300).select("doc_id")
    return en.join(big, "doc_id", "left_anti")


# --------------------------------------------------------------------------
# J4 — as-of (positional) association (ceco_processor.py:476-555)
# --------------------------------------------------------------------------
@register(
    "j4_asof_attribution",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts, user_id,
             max(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           sum(CASE WHEN signup_ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
           round(avg(CASE WHEN signup_ts IS NOT NULL
                          THEN floor(epoch(ts)) - floor(epoch(signup_ts)) END), 2) AS avg_lag_sec
    FROM seq
    WHERE event_type <> 'signup'
    GROUP BY event_type
    """,
    doc="As-of join: attach each event to the user's most recent preceding "
        "signup — the window form of the reference's detail→header positional "
        "association (ceco_processor.py:476-555, SURVEY.md J4). Running max "
        "over an ordered window ≡ last(header_id, ignoreNulls).",
)
def j4_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.withColumn(
        "signup_ts",
        F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
    )
    return (
        seq.filter(F.col("event_type") != "signup")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("signup_ts").isNotNull(), 1).otherwise(0)).alias("n_attributed"),
            F.round(
                F.avg(
                    F.when(
                        F.col("signup_ts").isNotNull(),
                        F.unix_timestamp("ts") - F.unix_timestamp("signup_ts"),
                    )
                ),
                2,
            ).alias("avg_lag_sec"),
        )
    )


# --------------------------------------------------------------------------
# J6 — nested order-line grouping (schlage_processor.py:882-911)
# --------------------------------------------------------------------------
@register(
    "j6_order_line_grouping",
    oracle="""
    SELECT l_orderkey,
           count(*) AS n_items,
           string_agg(l_linenumber::VARCHAR || ':' || l_partkey::VARCHAR, ','
                      ORDER BY l_linenumber, l_partkey) AS items_sig
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="Group line items under their order with a deterministic serialized "
        "ordering — schlage_processor.py:882-911 nested order-line grouping; "
        "Spark: sort_array(collect_list(struct)) then array_join (stable, "
        "shuffle-once).",
)
def j6_order_line_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7: column-pruned up front; spread() was A/B-tested here (the
    # single-file scan runs the partial list-building agg on one core) and
    # measured a WASH at both sf0.1 and 10x — the groupBy exchange
    # redistributes anyway — so the extra shuffle is not taken.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    item = F.struct(F.col("l_linenumber"), F.col("l_partkey"))
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)),
                lambda x: F.concat_ws(":", x["l_linenumber"].cast("string"), x["l_partkey"].cast("string")),
            ),
            ",",
        ).alias("items_sig"),
    )


# --------------------------------------------------------------------------
# Streaming-equivalent windowed aggregation (batch form)
# --------------------------------------------------------------------------
@register(
    "stream_hourly_window",
    oracle="""
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 2)  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time window — batch-checkable twin of the "
        "Structured Streaming job in streaming/ (same grouping, plus "
        "watermarking there). The reference has no streaming (SURVEY.md "
        "§2.10); this is the scale-path addition.",
)
def stream_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# JSON props extraction (S8 config-source analog: semi-structured parsing)
# --------------------------------------------------------------------------
@register(
    "f15_json_props",
    oracle="""
    SELECT event_type,
           sum(try_cast(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured field extraction from a JSON payload column — "
        "JVM-side get_json_object, no Python in the loop.",
    gated=False,  # illustrative non-§2 row; vacated its driver slot for
                  # dedup_clusters (r5) — still DuckDB-parity-checked locally
)
def f15_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Funnel analysis — ordered event-sequence conversion per user
# --------------------------------------------------------------------------
def _funnel_sql(dialect: str) -> str:
    epoch = "floor(epoch(ts))" if dialect == "duckdb" else "unix_timestamp(ts)"
    return f"""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN {epoch} END) AS t_signup,
             min(CASE WHEN event_type = 'view' THEN {epoch} END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN {epoch} END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END){"::BIGINT" if dialect == "duckdb" else ""} AS n_signed_up,
           sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                    THEN 1 ELSE 0 END){"::BIGINT" if dialect == "duckdb" else ""} AS n_viewed_after,
           sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                     AND t_purchase > t_view
                    THEN 1 ELSE 0 END){"::BIGINT" if dialect == "duckdb" else ""} AS n_converted
    FROM stages
    """


register_sql(
    "funnel_conversion", _funnel_sql, ["events"],
    doc="Ordered funnel (signup → first view after → first purchase after): "
        "one groupBy(user) with conditional-min stage times, then ordering "
        "predicates — no self-joins, one shuffle.",
    gated=False,  # illustrative non-§2 row; vacated its driver slot for
                  # corpus_curation (r5) — still DuckDB-parity-checked locally
)


# --------------------------------------------------------------------------
# Running totals — cumulative window aggregation per entity
# --------------------------------------------------------------------------
def _runtot_sql(dialect: str) -> str:
    epoch = "floor(epoch(o_orderdate))" if dialect == "duckdb" else "unix_timestamp(o_orderdate)"
    return f"""
    SELECT o_custkey, o_orderkey,
           cast({epoch} as bigint) AS order_epoch,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           cast(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) as bigint) AS order_seq
    FROM orders
    WHERE o_custkey % 10 = 0
    """


register_sql(
    "running_total_per_customer", _runtot_sql, ["orders"],
    doc="Cumulative spend per customer (running-sum window with explicit "
        "ROWS frame and orderkey tie-break): one shuffle on the partition "
        "key, then partition-local accumulation.",
)
