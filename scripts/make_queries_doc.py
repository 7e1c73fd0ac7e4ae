#!/usr/bin/env python
"""Regenerate docs/QUERIES.md: the registry index (name, oracle-checked?,
doc) — run after adding queries. Every passage of the file comes from this
script or a query's doc string, so a regeneration changes nothing else."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render() -> str:
    from pdf_extractor_scripts_spark.plans.registry import all_queries, all_specs

    qs = all_specs()
    gated = set(all_queries())
    lines = [
        "# QUERIES — the driver-contract registry\n\n"
        f"{len(qs)} entries ({len(gated)} gated = exposed through the driver "
        "contract; the rest are locally-checked extras); every one runs "
        "as Spark DataFrame/SQL and (unless marked rows-only) is "
        "hash-compared against its DuckDB oracle at sf0.001 and sf0.01. "
        "r6 rotation: `unified_json_projection` is gated; "
        "`t2_argmax_customer` donated its slot (argmax idiom stays gated "
        "via `o4_ocr_variant_select`).\n\n"
        "| # | name | gated | oracle | description |\n|---|---|---|---|---|\n"
    ]
    for i, (name, spec) in enumerate(sorted(qs.items()), 1):
        oracle = "✓" if spec.oracle else "rows-only"
        g = "✓" if name in gated else "extra"
        doc = " ".join(spec.doc.split()).replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {g} | {oracle} | {doc} |\n")
    return "".join(lines)


def main():
    os.makedirs("docs", exist_ok=True)
    with open("docs/QUERIES.md", "w") as f:
        f.write(render())
    print("wrote docs/QUERIES.md")


if __name__ == "__main__":
    main()
