#!/usr/bin/env python
"""Per-stage cost attribution for the extraction pipeline (VERDICT r2 #2).

Runs progressively longer prefixes of the pipeline's mapper chain — plus
surgical variants that disable one suspect at a time — over the SAME
materialized corpus in ONE Spark session, interleaved across rounds
(adjacent-in-time samples share this VM's noise windows), reporting
min-of-rounds wall seconds per variant. The deltas between prefixes
attribute the cost; the surgical variants attribute it to a specific
round-2 change (dual-engine O4 selection; CECO freight default).

Usage: python scripts/attrib_stages.py [n_docs] [rounds]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import CPUS, _force, make_session  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist
    from pdf_extractor_scripts_spark.operators.detect import (
        _joined_expr,
        with_assembled_text,
        with_route,
        with_vendor,
    )
    from pdf_extractor_scripts_spark.operators.extract import with_extraction
    from pdf_extractor_scripts_spark.operators.merge import with_emission
    from pdf_extractor_scripts_spark.operators.skew import with_weight
    from pdf_extractor_scripts_spark.plans.pipeline import RESULT_COLS, run_pipeline

    def assembled_primary_only(df):
        """with_assembled_text WITHOUT the dual-engine O4 selection: the
        primary sidecar is the OCR text unconditionally (round-1 shape)."""
        return (
            df.withColumn(
                "text_route_text", F.expr(_joined_expr(["page_break", "text"]))
            )
            .withColumn(
                "ocr_route_text", F.expr(_joined_expr(["page_break", "media_text"]))
            )
            .withColumn(
                "all_text",
                F.concat_ws("\n", F.col("text_route_text"), F.col("ocr_route_text")),
            )
        )

    def chain(docs, *stages):
        df = docs
        for s in stages:
            df = s(df)
        return df

    def full_primary_only(docs):
        df = chain(docs, assembled_primary_only, with_vendor, with_route,
                    lambda d: with_weight(d, 400), with_extraction, with_emission)
        return df.select(*RESULT_COLS)

    variants = {
        "assemble": lambda d: chain(d, with_assembled_text),
        "assemble_primary_only": assembled_primary_only,
        "detect": lambda d: chain(d, with_assembled_text, with_vendor),
        "route": lambda d: chain(d, with_assembled_text, with_vendor, with_route),
        "extract": lambda d: chain(d, with_assembled_text, with_vendor, with_route,
                                   lambda x: with_weight(x, 400), with_extraction),
        "full": lambda d: run_pipeline(d),
        "full_primary_only": full_primary_only,
    }

    spark = make_session(CPUS)
    w = corpus_df_dist(spark, 20_000, seed=7).localCheckpoint(eager=True)
    for _ in range(2):
        _force(run_pipeline(w))
    docs = corpus_df_dist(spark, n_docs, seed=42).localCheckpoint(eager=True)

    times: dict[str, list[float]] = {k: [] for k in variants}
    for _ in range(rounds):
        for name, fn in variants.items():
            t0 = time.time()
            _force(fn(docs))
            times[name].append(time.time() - t0)
    spark.stop()

    best = {k: round(min(v), 3) for k, v in times.items()}
    out = {
        "n_docs": n_docs,
        "rounds": rounds,
        "best_sec": best,
        "docs_per_sec_full": round(n_docs / best["full"], 1),
        "all_samples": {k: [round(x, 3) for x in v] for k, v in times.items()},
        "deltas": {
            "o4_selection_cost_sec": round(best["full"] - best["full_primary_only"], 3),
            "assemble_o4_cost_sec": round(best["assemble"] - best["assemble_primary_only"], 3),
            "vendor_detect_sec": round(best["detect"] - best["assemble"], 3),
            "route_sec": round(best["route"] - best["detect"], 3),
            "extraction_sec": round(best["extract"] - best["route"], 3),
            "merge_emit_sec": round(best["full"] - best["extract"], 3),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
