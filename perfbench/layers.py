"""Per-layer accounting, recorded from outside the program.

``Host`` measures the machine, not the program: CPU steal from /proc/stat,
a fixed CPU calibration loop and peak resident memory. A run whose
``host.steal_pct`` or ``host.calib_ms`` is high ran on a busy host; compare
those before blaming a code change for a slower run.

``Tracer`` wraps each timed operation in a Spark job group and reads that
group's jobs and stages from the status store (it works with the UI off),
plus the whole-stage codegen counters. Records are kept in memory and
summed into per-layer metrics when the run ends. With tracing off, ``op``
only times the call.
"""

from __future__ import annotations

import math
import resource
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user, so the total stops at steal.
    return fields[7], sum(fields[:8])


def _calib_once() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


class Host:
    def __init__(self) -> None:
        self.calib: list[float] = []
        self._steal0 = self._total0 = 0

    def calibrate(self) -> None:
        self.calib.extend(_calib_once() for _ in range(5))

    def start(self) -> None:
        self._steal0, self._total0 = _cpu_times()

    def metrics(self, jvm_pid: int | None) -> dict[str, float]:
        steal, total = _cpu_times()
        steal_pct = 100.0 * (steal - self._steal0) / max(1, total - self._total0)
        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if jvm_pid is not None:
            rss_kb += _vm_hwm_kb(jvm_pid)
        return {
            "host.steal_pct": steal_pct,
            "host.calib_ms": statistics.median(self.calib),
            "host.rss_peak_mb": rss_kb / 1024.0,
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _merged_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Times operations; with ``enabled`` also records their engine work.

    ``op(kind)`` yields a dict the caller may add counts to; on exit the
    dict holds ``wall_ms`` and, when traced, the engine numbers. Every
    kept op is appended to ``self.ops[kind]``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.ops: dict[str, list[dict]] = defaultdict(list)
        self._seq = 0
        # Job group of the traced op in flight. Work that runs on another
        # thread (a foreachBatch callback) joins it with joined().
        self.group: str | None = None
        self._count: dict[str, int] = defaultdict(int)
        self._start: dict[str, int] = {}
        self.spark = spark
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._store = sc._jsc.sc().statusStore()
            self._tracker = sc.statusTracker()
            cg = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._codegen = cg.METRIC_COMPILATION_TIME()

    def _codegen_now(self) -> tuple[int, float]:
        n = self._codegen.getCount()
        return n, n * self._codegen.getSnapshot().getMean()

    @contextmanager
    def op(self, kind: str, keep: bool = True):
        """Time one operation. In a traced run every other kept op of a
        kind is traced (``rec["traced"]``) and the rest are timed bare, so
        the run measures its own tracing overhead. Successive kinds start
        on opposite sides, so a warm-up trend does not bias the overhead
        one way."""
        rec: dict = {"traced": False}
        self.group = None
        if self.enabled and keep:
            start = self._start.setdefault(kind, len(self._start) % 2)
            self._count[kind] += 1
            rec["traced"] = (self._count[kind] + start) % 2 == 1
        if rec["traced"]:
            self._seq += 1
            group = self.group = f"perfbench-{self._seq}"
            self._sc.setJobGroup(group, kind)
            cg0 = self._codegen_now()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            if rec["traced"]:
                self.group = None
                self._sc.setJobGroup("perfbench-idle", "idle")
                cg1 = self._codegen_now()
                rec["codegen_count"] = cg1[0] - cg0[0]
                rec["codegen_ms"] = cg1[1] - cg0[1]
                rec.update(self._engine(group, rec["wall_ms"]))
            if keep:
                self.ops[kind].append(rec)

    @contextmanager
    def joined(self):
        """Attribute the jobs this thread runs inside the block to the traced
        op in flight, then give the thread back its own job group (a
        foreachBatch callback runs on the stream's thread, whose group
        StreamExecution set)."""
        if self.group is None:
            yield
            return
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        saved = [self._sc.getLocalProperty(k) for k in keys]
        self._sc.setJobGroup(self.group, "callback")
        try:
            yield
        finally:
            for k, v in zip(keys, saved):
                self._sc.setLocalProperty(k, v)

    def traced(self, kind: str) -> list[dict]:
        return [r for r in self.ops[kind] if r["traced"]]

    def _engine(self, group: str, wall_ms: float) -> dict:
        jobs = list(self._tracker.getJobIdsForGroup(group))
        out = defaultdict(float)
        out["jobs"] = len(jobs)
        intervals = []
        for j in jobs:
            jd = self._store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime(),
                        jd.completionTime().get().getTime(),
                    )
                )
            info = self._tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                sd = self._store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["exec_run_ms"] += sd.executorRunTime()
                out["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["driver_only_ms"] = max(0.0, wall_ms - _merged_ms(intervals))
        return dict(out)

    def cache_bytes(self) -> int:
        """Storage memory and disk still held by cached RDDs right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty sample."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
