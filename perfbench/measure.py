"""Measurement helpers: process-tree CPU from /proc, JVM live heap, and
the traced run's Spark event log, parsed with stdlib ``json``.

Nothing here touches the package under test; every number is read from
outside it: the kernel's per-process accounting, the JVM's memory bean
and Spark's own listener events.
"""

from __future__ import annotations

import glob
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_WAIT_LIMIT_S = 6.0


def _stat(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # the process or thread ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every descendant.

    Counts the children each process has already reaped (``cutime``,
    ``cstime``), so Python workers that exited inside the window are
    kept: a worker alive at the first reading and reaped before the
    second moves from its own counters into its parent's, and the
    difference of two readings stays exact.
    """
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        stat = _stat(f"/proc/{entry}/stat")
        if stat is None:
            continue
        pid, st = int(entry), stat[1]
        fields[pid] = st
        children.setdefault(int(st[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        st = fields.get(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


def _compiler_cpu_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads ("C1/C2 CompilerThread")."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        stat = _stat(f"/proc/{pid}/task/{tid}/stat")
        if stat is not None and "CompilerThre" in stat[0]:
            total += int(stat[1][11]) + int(stat[1][12])
    return total


def wait_for_jit_idle(jvm_pid: int) -> None:
    """Wait until the JVM's JIT compiler threads have gone idle.

    Warm-up leaves a queue of methods to compile; timed ops that start
    while it drains compete with the compiler for the cores, by an
    amount that varies from run to run. Waiting for the queue gives
    every run the same starting point. Gives up after
    ``JIT_WAIT_LIMIT_S``.
    """
    deadline = time.monotonic() + JIT_WAIT_LIMIT_S
    prev = _compiler_cpu_ticks(jvm_pid)
    while time.monotonic() < deadline:
        time.sleep(0.25)
        cur = _compiler_cpu_ticks(jvm_pid)
        if cur - prev <= 0.05 * 0.25 * CLK_TCK:  # under 5% of one core
            return
        prev = cur


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection, in MiB.

    The least of three readings half a second apart: Spark's context
    cleaner frees the blocks of collected DataFrames only after a
    collection has found them unreachable, so one reading can still
    count them.
    """
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / (1 << 20))
        time.sleep(0.5)
    return min(readings)


class OpRecorder:
    """Tags each op with a job group and records the job ids it ran.

    Jobs submitted from the calling thread carry the group. Jobs that
    pool threads submit (the CV harness fits folds on a thread pool)
    carry none, because Python threads do not pass their local
    properties on; they are found by diffing the ungrouped job ids
    before and after the op, which is exact in a closed loop with one
    client.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.ops: list[dict] = []
        self.marks: list[dict] = []

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def run(self, name: str, fn, kind: str = "op"):
        before = self._ungrouped()
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            return fn()
        finally:
            t1 = time.time()
            self.sc.setJobGroup("", "")
            jobs = set(self.tracker.getJobIdsForGroup(name)) | (self._ungrouped() - before)
            self.ops.append({"name": name, "kind": kind, "start": t0, "end": t1, "jobs": jobs})

    def group_jobs(self) -> set[int]:
        """Ids of the jobs the running op has submitted so far."""
        return set(self.tracker.getJobIdsForGroup(self.sc.getLocalProperty("spark.jobGroup.id")))

    def mark(self, name: str, start: float, end: float, jobs: set[int]) -> None:
        """Record a span inside the running op (``time.time()`` stamps)."""
        self.marks.append({"name": name, "start": start, "end": end, "jobs": jobs})


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class EventLog:
    """Jobs, stages and task metrics parsed from one application's log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.job_stages: dict[int, list[int]] = {}
        self.stages: dict[int, dict] = {}
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.job_stages[ev["Job ID"]] = list(ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["tasks"] = info["Number of Tasks"]
                    st["interval"] = (info["Submission Time"] / 1000.0,
                                      info["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = self._stage(ev["Stage ID"])
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "interval": None, "run_ms": 0, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0})

    def op_stats(self, op: dict) -> dict:
        """Counts and times of the stages that ran for one recorded op.

        A stage whose shuffle output was reused is skipped, never
        completes and is not counted.
        """
        ran = sorted({s for j in op["jobs"] for s in self.job_stages.get(j, ())
                      if s in self.stages and self.stages[s]["interval"] is not None})
        sts = [self.stages[s] for s in ran]
        wall = op["end"] - op["start"]
        return {
            "wall_s": wall,
            "jobs": len(op["jobs"]),
            "stages": len(sts),
            "tasks": sum(s["tasks"] for s in sts),
            "driver_s": wall - _union_s([s["interval"] for s in sts]),
            "run_s": sum(s["run_ms"] for s in sts) / 1000.0,
            "gc_s": sum(s["gc_ms"] for s in sts) / 1000.0,
            "shuffle_write_mb": sum(s["shuffle_write"] for s in sts) / (1 << 20),
            "spill_mb": sum(s["spill"] for s in sts) / (1 << 20),
        }
