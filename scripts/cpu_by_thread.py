#!/usr/bin/env python3
"""CPU seconds by thread group over N jobs of a perfbench workload.

    python3 scripts/cpu_by_thread.py --workload stream_drain --jobs 5

Run from the root of a checkout. Builds the workload's inputs and a
perfbench session in this process, runs its untimed warm-up job, then runs
``--jobs`` jobs, reading CPU time from /proc just before and after each
job (each job's output is checked afterwards, outside the reading). A
background thread also reads every JVM thread's CPU about every 100 ms
throughout. Prints one line per group: CPU seconds over all jobs, per job,
and each job's figure in order.

    jit              JVM C1/C2 compiler threads
    gc               JVM garbage-collector threads
    executor-tasks   JVM "Executor task launch worker" threads
    jvm-other        every other JVM thread
    python-workers   the JVM's live descendants (the pyspark daemon and its
                     forked workers) and the children they reaped
    reaped-children  JVM children that exited and were reaped by the JVM
    driver           this Python process (py4j calls, result conversion)

The Spark event log reports task run and CPU time of JVM task threads
only; Python-worker and JIT CPU are invisible to it, and so is the fixed
start-up cost every Python task pays. HotSpot starts and stops compiler
threads as the JIT queue grows and drains, so many exit within a job: a
thread that exits stays in its group at its last-seen CPU, and only what it
used after its last reading (under 100 ms of wall) lands in ``jvm-other``.
The polling thread's own CPU is left out of ``driver``.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys
import threading
import time

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


POLL_S = 0.1


class ThreadPoller:
    """CPU ticks of the JVM's grouped threads, read every ``POLL_S``
    seconds from a background thread. Keyed by (tid, start time), so a
    thread that exited keeps its last-seen ticks and a reused tid is a new
    thread."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.seen: dict[tuple[str, str], tuple[str, int]] = {}
        self.own_cpu = 0.0  # the polling thread's CPU seconds so far
        self.lock = threading.Lock()
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        # one poll at a time, so an older reading never overwrites a newer one
        with self.lock:
            for tid in os.listdir(f"/proc/{self.jvm}/task"):
                try:
                    comm, tf = _stat(f"/proc/{self.jvm}/task/{tid}/stat")
                except (OSError, ValueError):  # exited while listed
                    continue
                group = next((g for p, g in THREAD_GROUPS if comm.startswith(p)), None)
                if group:  # stat field 22 is the thread's start time
                    self.seen[(tid, tf[19])] = (group, _own(tf))

    def _run(self) -> None:
        while not self.done.wait(POLL_S):
            self.poll()
            self.own_cpu = time.thread_time()

    def ticks(self) -> collections.Counter:
        """Ticks by group of every grouped thread seen, live or exited."""
        self.poll()
        out: collections.Counter = collections.Counter()
        with self.lock:
            for group, t in self.seen.values():
                out[group] += t
        return out

    def __enter__(self) -> "ThreadPoller":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.done.set()
        self.thread.join()


def snapshot(jvm: int, poller: ThreadPoller) -> collections.Counter:
    """CPU seconds used so far, by group. They sum to ``host.cpu_s``, the
    benchmark's own CPU reading (this process plus the JVM tree), less the
    polling thread's CPU."""
    hz = os.sysconf("SC_CLK_TCK")
    out: collections.Counter = collections.Counter()
    threads = poller.ticks()
    _, jf = _stat(f"/proc/{jvm}/stat")
    for group, t in threads.items():
        out[group] = t / hz
    out["jvm-other"] = (_own(jf) - sum(threads.values())) / hz
    out["reaped-children"] = _reaped(jf) / hz
    for pid in _descendants(jvm):
        try:
            _, pf = _stat(f"/proc/{pid}/stat")
        except (OSError, ValueError):  # exited since listed; its parent reaps its CPU
            continue
        out["python-workers"] += (_own(pf) + _reaped(pf)) / hz
    t = os.times()
    out["driver"] = t.user + t.system - poller.own_cpu
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
        with ThreadPoller(jvm) as poller:
            for k in range(args.jobs):
                before = snapshot(jvm, poller)
                wl.iterate(spark, off, k)
                after = snapshot(jvm, poller)
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
