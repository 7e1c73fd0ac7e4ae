#!/usr/bin/env python
"""Extra (non-official) per-query benchmarks for optimization work:
isolated noop-sink timings (guide §1.4) of any registered query, on the
bench.py session. Times each named query with df.write.format("noop") on
local[$SPARK_GRAFT_CPUS] over $SPARK_GRAFT_SF_DIR, min of N cache-cleared
passes, and prints one JSON line.

Usage: python bench_extra.py [--passes N] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, SF_DIR, _force, make_session  # noqa: E402

DEFAULT = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_profile",
    "p6_text_quality",
    "p3_decision_combine",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
]


def main() -> None:
    passes = 2
    args: list[str] = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--passes"):
            if "=" in a:
                passes = int(a.split("=", 1)[1])
            else:
                i += 1
                passes = int(argv[i])
        else:
            args.append(a)
        i += 1
    names = args or DEFAULT

    spark = make_session(CPUS)
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    specs = all_specs()

    # warmup: JVM/JIT + python workers
    _force(specs[names[0]].spark(spark, SF_DIR))
    spark.catalog.clearCache()

    out: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        best = None
        samples[name] = []
        for _ in range(passes):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _force(specs[name].spark(spark, SF_DIR))
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            best = dt if best is None else min(best, dt)
        out[name] = best
    spark.stop()
    print(json.dumps({"sf": os.path.basename(SF_DIR.rstrip("/")), "cpus": CPUS,
                      "queries": out, "samples": samples}))


if __name__ == "__main__":
    main()
