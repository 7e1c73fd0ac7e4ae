#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds seeded inputs (cached under
``.perfbench/``), starts a ``local[nproc]`` session, runs the workload in a
closed loop for ``--seconds`` and checks every job's output against the
engine's references outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same untraced loop, then restarts the Spark context twice, once without
and once with the event log, runs the loop again in each (the second with
benchmark spans), and prints the per-layer metrics (``trace_overhead_frac``
compares those two loops). The span file is written under
``.perfbench/trace/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name → value and unit). The line
before it carries host facts, ``failed_frac``, the sample counts and the
wall-clock figures (``wall_s``, ``docs_per_s``, ``batch_p50_ms``, the
batch tail: the highest percentile with ten samples above it, when a run
has that many) and ``peak_rss_mb``. Exit code 1 means an output
did not match its reference; 2 means the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "pdf_extractor_scripts_spark"
WORK_DIRNAME = ".perfbench"


def end_to_end(setup_s: float, res: dict) -> dict:
    """The ``--trace 0`` metrics: name → (value, unit), the ones a change
    is held to. Both are CPU time (``setup_s``: of the session start and
    the warm-up job). Wall-clock figures are reported in the detail line,
    not here: on a shared host their run-to-run spread is wider than any
    bound a change could be held to, while CPU time is not charged for
    time the host lends to other tenants."""
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_doc": (statistics.median(res["cpu_ms_per_doc"]), "ms"),
    }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=0,
                   help="override the workload's input size (self-tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"error: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, measure, tail_percentile

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK_DIRNAME)
    host.isolate_temp(work)
    facts = host.host_facts(ROOT)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    wl = WORKLOADS[args.workload](work, args.seed, args.docs or None)
    off = Tracer(False, run_id)
    spark = None
    try:
        wl.prepare()
        cpu0 = host.cpu_s(None)
        t0 = time.perf_counter()
        spark = host.build_session(ROOT, work)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        setup_cpu_s = host.cpu_s(host.jvm_pid()) - cpu0
        with host.RssSampler(host.jvm_pid()) as sampler:
            res = measure(spark, wl, off, args.seconds, sampler)
        attempted, failed = res["attempted"], res["failed"]
        detail = {"host": facts, "workload": args.workload, "seed": args.seed,
                  "session_s": session_s, "warmup_s": warmup_s,
                  "setup_wall_s": session_s + warmup_s,
                  "failed_frac": failed / attempted,
                  "samples": len(res["wall_s"]),
                  "wall_s": statistics.median(res["wall_s"]),
                  "wall_tail": tail_percentile(res["wall_s"]),
                  "docs_per_s": statistics.median(res["docs_per_s"]),
                  "batch_samples": len(res["batch_ms"]),
                  "batch_p50_ms": statistics.median(res["batch_ms"]),
                  "batch_tail": tail_percentile(res["batch_ms"]),
                  "batch_max_ms": max(res["batch_ms"]),
                  "peak_rss_mb": res["peak_rss_mb"],
                  "first_error": res["first_error"]}
        if args.trace:
            from perfbench.layers import traced_run

            spark.stop()
            spark = None
            metrics, tres, extra = traced_run(
                wl, ROOT, work, run_id, args.seconds, session_s, warmup_s, res)
            attempted += tres["attempted"]
            failed += tres["failed"]
            detail.update(extra, failed_frac=failed / attempted)
            detail["first_error"] = detail["first_error"] or tres["first_error"]
        else:
            metrics = end_to_end(setup_cpu_s, res)
    finally:
        if spark is not None:
            spark.stop()
        host.shutdown_jvm()
        wl.close()
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
