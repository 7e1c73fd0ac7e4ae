#!/usr/bin/env python
"""Dump .explain("formatted") for a set of queries (default: bench.py's
HEADLINE) into plans/r07/<q>_<tag>.txt, on the bench session at
$SPARK_GRAFT_SF_DIR.

Usage: python scripts/dump_plans.py before|after [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import HEADLINE, SF_DIR, _repo, _session
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    spark = _session()
    specs = all_specs()
    out_dir = os.path.join(_repo(), "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = specs[name].spark(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
