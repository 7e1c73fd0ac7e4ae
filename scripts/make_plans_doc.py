#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the physical plans we designed for, with
commentary — run after any plan-affecting change."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def plan(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def main():
    from bench import WORK, _repo
    from perfbench import host

    spark = host.build_session(_repo(), WORK, cores=4)
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # show static plans
    from pdf_extractor_scripts_spark.fixtures import corpus_df
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline
    from pdf_extractor_scripts_spark.plans.registry import all_queries

    sections = []

    docs = corpus_df(spark, n_docs=24, seed=42)
    sections.append((
        "Extraction pipeline (default, zero-shuffle)",
        "One mapper chain: scan → codegen'd detection/routing → Arrow UDF → "
        "codegen'd emission → sink. No Exchange anywhere — extraction "
        "is embarrassingly parallel and at 10^12 docs a repartition would "
        "itself be a full-corpus shuffle.",
        plan(run_pipeline(docs), "simple"),
    ))
    sections.append((
        "Extraction pipeline (salt=True, skewed inputs)",
        "Exactly ONE Exchange: the weight-aware salted repartition. Heavy "
        "docs get unique salts (isolated); light docs use a 64x-oversampled "
        "hash so every partition stays occupied.",
        plan(run_pipeline(docs, salt=True, n_partitions=4), "simple"),
    ))

    q = all_queries()
    sections.append((
        "q1_pricing_summary",
        "Filter pushed to the parquet scan (PushedFilters), only the 7 "
        "needed columns read (ReadSchema), partial aggregation map-side, "
        "whole-stage codegen spans the scan.",
        plan(q["q1_pricing_summary"].spark(spark, SF)),
    ))
    sections.append((
        "q3_shipping_priority",
        "Join order chosen by Catalyst; the BUILDING filter reaches the "
        "customer scan; top-10 is a rank window over the aggregated "
        "revenue, never a global sort of lineitem.",
        plan(q["q3_shipping_priority"].spark(spark, SF), "simple"),
    ))
    sections.append((
        "dedup_minhash_lsh",
        "Signature stage: explode positions + codegen'd arithmetic hash + "
        "map-side-combined min() aggregates (NO interpreted lambdas). "
        "Banding: equi-join on (band_id, band_key) — the LSH bucket is the "
        "join key, so the O(n^2) pair space is never materialized.",
        plan(q["dedup_minhash_lsh"].spark(spark, SF), "simple"),
    ))
    spark.stop()

    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write(
            "# PLANS — the physical plans this engine is designed around\n\n"
            "Generated by scripts/make_plans_doc.py (static plans, AQE off "
            "for readability). The assertions in tests/test_plan_audits.py "
            "pin the load-bearing properties (pushdown, pruning, shuffle "
            "count, codegen).\n"
        )
        for title, commentary, p in sections:
            f.write(f"\n## {title}\n\n{commentary}\n\n```\n{p}\n```\n")
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
