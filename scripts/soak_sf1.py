#!/usr/bin/env python
"""sf1.0 soak (r5 VERDICT #7): one pass of the full gated query suite at
10x the bench scale factor, to catch memory growth the sf0.1 suite cannot
see (curation fixpoint driver state, broadcast sizes vs BROADCAST_PAIRS_MAX,
checkpoint-table growth).

The sf1.0 tables are synthesized from the driver's sf0.1 parquet: 10
key-offset copies of every FACT table (customer/orders/lineitem/events/
documents/embeddings; all joins stay consistent because every bigint key in
a copy shifts by the same offset), dimension tables copied once. Document
texts repeat verbatim across copies, so the dedup family sees REAL
10-member duplicate clusters — a harder, more realistic soak than unique
rows (LSH bucket occupancy x10, star-guard exercise, 10-node components).

Writes BENCH/soak_sf1.json and appends a summary to BENCH/BASELINE.md.
``peak_rss_mb`` is perfbench's peak: the summed RSS of the session's JVM and
its descendants (the Python workers), sampled every second over the suite.
Run with the box otherwise idle (see memory: noisy-neighbor windows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SOAK_DST", "/tmp/spark_graft_sf1.0")
COPIES = int(os.environ.get("SPARK_GRAFT_SOAK_COPIES", "10"))
OFFSET = 10_000_000  # > any key in sf0.1

FACT_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["part", "supplier", "nation", "region"]


def build_data() -> None:
    marker = os.path.join(DST, ".complete")
    if os.path.exists(marker):
        return
    import duckdb

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t, keys in FACT_KEYS.items():
        parts = []
        for i in range(COPIES):
            shifted = ", ".join(
                [f"{k} + {i * OFFSET} AS {k}" for k in keys]
                + [f"* EXCLUDE ({', '.join(keys)})"]
            )
            parts.append(f"SELECT {shifted} FROM '{SRC}/{t}.parquet'")
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)}) TO '{DST}/{t}.parquet' "
            f"(FORMAT PARQUET)"
        )
    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
            f"'{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
    with open(marker, "w") as f:
        f.write("ok")


def main() -> None:
    build_data()
    from bench import CPUS, _bench_path, _force, _repo, _session
    from pdf_extractor_scripts_spark.plans.registry import all_queries
    from perfbench import host

    spark = _session()
    qspecs = all_queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.time()
    with host.RssSampler(host.jvm_pid()) as rss:
        for name in sorted(qspecs):
            t0 = time.time()
            try:
                _force(qspecs[name].spark(spark, DST))
                timings[name] = round(time.time() - t0, 2)
            except Exception as e:  # record, keep soaking
                errors[name] = str(e)[:300]
            print(f"  {name}: {timings.get(name, 'ERR')}", file=sys.stderr)
        peak_rss_mb = round(rss.peak_mb())
    wall = round(time.time() - t_all, 1)
    spark.stop()

    import resource

    out = {
        "metric": "sf1.0 soak — full gated suite at 10x bench scale",
        "sf_equivalent": "sf1.0 (10 key-offset copies of sf0.1 facts)",
        "queries_run": len(timings),
        "errors": errors,
        "total_wall_sec": wall,
        "peak_rss_mb": peak_rss_mb,
        "python_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
        "cpus": CPUS,
        "host": host.host_facts(_repo()),
        "slowest": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10]),
        "queries": timings,
    }
    print(json.dumps(out))
    with open(_bench_path("soak_sf1.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    with open(_bench_path("BASELINE.md"), "a") as f:
        f.write(
            f"\n## sf1.0 soak ({len(timings)}/{len(qspecs)} gated queries, "
            f"10x facts with 10-member duplicate clusters)\n\n"
            f"Total wall {wall}s on {CPUS} slots; peak RSS (JVM + Python "
            f"workers) {peak_rss_mb} MB; errors: {errors or 'none'}; slowest: "
            f"{out['slowest']}\n"
        )


if __name__ == "__main__":
    main()
