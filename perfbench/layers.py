"""Per-layer readings taken from outside the package.

A *phase* is one call into a module's public function. In traced
mode each phase runs under its own Spark job group; afterwards the
listener bus is drained and the jobs, stages and SQL executions of
that group are read back from the session's status stores. Nothing
here changes how the package runs: untraced runs never touch this
module's job groups or stores.
"""

from __future__ import annotations

import resource
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PHASES = ("sources", "louvain", "metrics", "pipeline")
METRICS = (
    ("wall_s", "s"),
    ("driver_gap_s", "s"),
    ("jobs", "count"),
    ("sql_executions", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("result_mb", "MB"),
    ("py_cpu_s", "s"),
)
_MB = 1e6


def _iter(seq):
    """Iterate a Scala collection handed over by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _busy_s(intervals: list[tuple[int, int]], lo: int, hi: int) -> float:
    """Seconds of [lo, hi] (epoch ms) covered by the union of intervals."""
    busy, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            busy += b - a
            end = b
    return busy / 1000.0


def _py_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class LayerReader:
    """Tags each phase call with a job group and reads what it cost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._seq = 0
        self._counted: set[int] = set()

    def _gc_ms(self) -> int:
        return sum(max(int(b.getCollectionTime()), 0) for b in self._gc_beans)

    @contextmanager
    def phase(self, name: str, out: dict):
        """Run the body as one tagged phase; add its readings to ``out``
        (a dict of metric -> value, summed over calls)."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        desc = f"perfbench:{name}:{self._seq}"
        self.sc.setJobGroup(group, desc)
        gc0, cpu0 = self._gc_ms(), _py_cpu_s()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            cpu1, gc1 = _py_cpu_s(), self._gc_ms()
            self.sc._jsc.clearJobGroup()
            self._bus.waitUntilEmpty()
            got = self.read(group, desc, int(t0 * 1000), int(t1 * 1000))
            got["wall_s"] = t1 - t0
            got["py_cpu_s"] = cpu1 - cpu0
            got["gc_s"] = (gc1 - gc0) / 1000.0
            for k, v in got.items():
                out[k] = out.get(k, 0) + v

    def read(self, group: str, desc: str, t0_ms: int, t1_ms: int) -> dict:
        """Counts of one job group, read from the status stores. A stage
        is counted once, by the first phase whose jobs list it: a later
        job that reuses its shuffle output lists it as skipped."""
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        spans, stages = [], set()
        for jid in job_ids:
            j = self._store.job(jid)
            stages.update(int(s) for s in _iter(j.stageIds()))
            a, b = _ms(j.submissionTime()), _ms(j.completionTime())
            if a is not None:
                spans.append((a, b if b is not None else t1_ms))
        tasks = task_ms = sw = sr = res = 0
        for sid in sorted(stages - self._counted):
            self._counted.add(sid)
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            tasks += int(s.numCompleteTasks())
            task_ms += int(s.executorRunTime())
            sw += int(s.shuffleWriteBytes())
            sr += int(s.shuffleReadBytes())
            res += int(s.resultSize())
        sql = sum(1 for e in _iter(self._sql.executionsList()) if e.description() == desc)
        return {
            "jobs": len(job_ids),
            "sql_executions": sql,
            "tasks": tasks,
            "task_s": task_ms / 1000.0,
            "shuffle_write_mb": sw / _MB,
            "shuffle_read_mb": sr / _MB,
            "result_mb": res / _MB,
            "driver_gap_s": (t1_ms - t0_ms) / 1000.0 - _busy_s(spans, t0_ms, t1_ms),
        }


def layer_metrics(per_phase: dict[str, dict]) -> dict:
    """Flatten {phase: {metric: value}} into ``<phase>.<metric>`` entries
    with units; phases a workload does not run read 0."""
    out = {}
    for phase in PHASES:
        got = per_phase.get(phase, {})
        for metric, unit in METRICS:
            out[f"{phase}.{metric}"] = {"value": got.get(metric, 0), "unit": unit}
    return out
