#!/usr/bin/env python3
"""CPU seconds by thread group over N jobs of a perfbench workload.

    python3 scripts/cpu_by_thread.py --workload stream_drain --jobs 5

Run from the root of a checkout. Builds the workload's inputs and a
perfbench session in this process, runs its untimed warm-up job, then runs
``--jobs`` jobs, reading CPU time from /proc just before and after each
job (each job's output is checked afterwards, outside the reading). Prints
one line per group: CPU seconds over all jobs, per job, and each job's
figure in order.

    jit              JVM C1/C2 compiler threads
    gc               JVM garbage-collector threads
    executor-tasks   JVM "Executor task launch worker" threads
    jvm-other        every other JVM thread, and JVM threads that exited
    python-workers   the JVM's live descendants (the pyspark daemon and its
                     forked workers) and the children they reaped
    reaped-children  JVM children that exited and were reaped by the JVM
    driver           this Python process (py4j calls, result conversion)

The Spark event log reports task run and CPU time of JVM task threads
only; Python-worker and JIT CPU are invisible to it, and so is the fixed
start-up cost every Python task pays. A thread that exits during a job
moves its CPU to ``jvm-other``.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

GROUPS = ("jit", "gc", "executor-tasks", "jvm-other", "python-workers",
          "reaped-children", "driver")
THREAD_GROUPS = (  # thread-name prefixes; /proc truncates names to 15 chars
    ("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
    ("GC Thread", "gc"), ("G1 ", "gc"),
    ("Executor task l", "executor-tasks"),
)


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


# utime, stime, cutime, cstime are stat fields 14-17
def _own(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])


def _reaped(fields: list[str]) -> int:
    return int(fields[13]) + int(fields[14])


def _descendants(root: int) -> list[int]:
    """Live processes below ``root``, from the parent pids in /proc."""
    children: dict[int, list[int]] = collections.defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, f = _stat(f"/proc/{name}/stat")
        except (OSError, ValueError):  # exited while listed
            continue
        children[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def snapshot(jvm: int) -> collections.Counter:
    """CPU seconds used so far, by group. They sum to ``host.cpu_s``, the
    benchmark's own CPU reading (this process plus the JVM tree)."""
    hz = os.sysconf("SC_CLK_TCK")
    out: collections.Counter = collections.Counter()
    _, jf = _stat(f"/proc/{jvm}/stat")
    threads = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            comm, tf = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        group = next((g for p, g in THREAD_GROUPS if comm.startswith(p)), None)
        if group:
            out[group] += _own(tf) / hz
            threads += _own(tf)
    out["jvm-other"] = (_own(jf) - threads) / hz
    out["reaped-children"] = _reaped(jf) / hz
    for pid in _descendants(jvm):
        try:
            _, pf = _stat(f"/proc/{pid}/stat")
        except (OSError, ValueError):  # exited since listed; its parent reaps its CPU
            continue
        out["python-workers"] += (_own(pf) + _reaped(pf)) / hz
    t = os.times()
    out["driver"] = t.user + t.system
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--jobs", type=int, default=3)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench")
    host.isolate_temp(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    off = Tracer(False, "cpu_by_thread")
    spark = None
    per_job: list[collections.Counter] = []
    failed = 0
    try:
        wl.prepare()
        spark = host.build_session(ROOT, work)
        wl.warmup(spark)
        jvm = host.jvm_pid()
        for k in range(args.jobs):
            before = snapshot(jvm)
            wl.iterate(spark, off, k)
            after = snapshot(jvm)
            per_job.append(collections.Counter(
                {g: after[g] - before[g] for g in GROUPS}))
            failed += wl.check(spark, k)[1]
            wl.cleanup(k)
    finally:
        if spark is not None:
            spark.stop()
        host.shutdown_jvm()
        wl.close()
    for job in per_job:
        job["total"] = sum(job[g] for g in GROUPS)
    print(f"{args.workload}: {args.jobs} jobs, {failed} failed checks")
    print(f"{'group':<16} {'cpu_s':>8} {'per_job_s':>10}  per job, in order")
    for g in (*GROUPS, "total"):
        v = sum(job[g] for job in per_job)
        series = " ".join(f"{job[g]:.2f}" for job in per_job)
        print(f"{g:<16} {v:8.2f} {v / args.jobs:10.2f}  {series}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
