"""One benchmark invocation, run by run.py in a pinned environment.

Closed loop, one caller: set up (inputs, session, warm-up
repetitions), time repetitions for the requested seconds, check every
output, print one JSON line.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import layers  # noqa: E402
from workloads import N, WORKLOADS  # noqa: E402

#: discarded warm-up repetitions: the cold one (codegen, class loading)
#: and five more. In one JVM, repetitions keep getting faster for about
#: six repetitions and drift slowly after that (README.md, "Noise
#: findings"); a fixed count keeps every run at the same point of the
#: drift.
WARM_REPS = 6
#: timed repetitions per run, at least (a median of one is no median)
MIN_REPS = 2

_CLK = os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class CpuClock:
    """CPU seconds of this process plus the JVM and every process
    below it (Python workers), read from /proc."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def __call__(self) -> float:
        ticks = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
        r = resource.getrusage(resource.RUSAGE_SELF)
        return ticks / _CLK + r.ru_utime + r.ru_stime


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, from
    /proc/stat: it lengthens wall time without adding to any process's
    CPU time, so it tells a host storm from a slower program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def _floor(action) -> float:
    """Best of five: the host's cost of one small Spark action."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        action()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()

    from louvain_modularity_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.work_dir, args.seed)
    _log(f"{args.workload} seed={args.seed} inputs={wl.sizes} local[{N}]")
    spark = get_spark("perfbench", master=f"local[{N}]", shuffle_partitions=N)
    spark.sparkContext.setLogLevel("ERROR")
    cpu = CpuClock(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    untraced = lambda name: contextlib.nullcontext()  # noqa: E731
    outputs = []

    def rep(phase):
        c0, t0 = cpu(), time.perf_counter()
        out = wl.rep(spark, phase)
        wall, used = time.perf_counter() - t0, cpu() - c0
        outputs.append(wl.collect(out))
        return wall, used

    warm = [rep(untraced)[0] for _ in range(WARM_REPS)]
    setup_s = time.time() - T_START
    _log("warm-up reps (s): " + " ".join(f"{w:.2f}" for w in warm))

    def timed(*phases, odd=False):
        """Cycle through ``phases`` (one repetition each) until the
        window has passed and each phase has MIN_REPS repetitions;
        ``odd`` adds one more if needed, so that a median is one
        repetition's reading (counts stay whole numbers)."""
        got, t0, st0 = [[] for _ in phases], time.perf_counter(), _steal_s()
        while (
            len(got[0]) < MIN_REPS
            or time.perf_counter() - t0 < args.seconds
            or (odd and len(got[0]) % 2 == 0)
        ):
            for g, phase in zip(got, phases):
                g.append(rep(phase))
        _log(
            f"host steal while timing: {_steal_s() - st0:.2f} s of CPU in "
            f"{time.perf_counter() - t0:.1f} s"
        )
        return got

    if args.trace:
        # traced and untraced repetitions alternate, so the slow warm-up
        # drift does not leak into the tracing overhead
        reader = layers.LayerReader(spark)
        per_rep: list[dict] = []

        def traced(name):
            if name == wl.phases[0]:
                per_rep.append({})
            return reader.phase(name, per_rep[-1].setdefault(name, {}))

        base, tr = timed(untraced, traced, odd=True)
        _log("untraced/traced reps (s): " + " ".join(
            f"{b[0]:.2f}/{t[0]:.2f}" for b, t in zip(base, tr)))
        per_phase = {
            p: {
                k: statistics.median(r[p].get(k, 0) for r in per_rep)
                for k, _ in layers.METRICS
            }
            for p in wl.phases
        }
        overhead_s = statistics.median(w for w, _ in tr) - statistics.median(
            w for w, _ in base
        )
    else:
        (reps,) = timed(untraced)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        _log("timed reps, wall/cpu (s): " + " ".join(f"{w:.2f}/{c:.2f}" for w, c in reps))
    job_floor = _floor(lambda: spark.range(1).write.mode("overwrite").format("noop").save())
    shuffle_floor = _floor(
        lambda: spark.range(1000).repartition("id").write.mode("overwrite").format("noop").save()
    )
    _log(f"host anchors: job_floor={job_floor:.3f}s shuffle_floor={shuffle_floor:.3f}s")

    check = wl.checker()
    results = [check(o) for o in outputs]
    failed = [r for r in results if not r[0]]
    for r in failed[:3]:
        _log(f"check failed: {r[2]}")
    spark.stop()

    if args.trace:
        metrics = layers.layer_metrics(per_phase)
        metrics["spark.job_floor_s"] = {"value": job_floor, "unit": "s"}
        metrics["spark.shuffle_floor_s"] = {"value": shuffle_floor, "unit": "s"}
        metrics["trace.overhead_s"] = {"value": overhead_s, "unit": "s"}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(w for w, _ in reps), "unit": "s"},
            "cpu_s": {"value": statistics.median(c for _, c in reps), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "driver_rss_mb": {"value": rss_mb, "unit": "MB"},
            "modularity_q": {
                # a rejected output may have no Q (NaN); JSON has no NaN
                "value": statistics.median([r[1] for r in results if r[1] == r[1]] or [0.0]),
                "unit": "Q",
            },
            "pass_ratio": {
                "value": (len(results) - len(failed)) / len(results),
                "unit": "ratio",
            },
        }
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(results),
                "failed": len(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
