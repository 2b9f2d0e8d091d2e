"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts worker.py in a pinned
environment (fixed PYTHONHASHSEED, console progress bar off, every
temporary and Spark local file under the checkout's .perfbench_work/),
waits for it and for every process it started, and passes its output
through: the last line of standard output is the result JSON.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run must finish well inside the 180 s a caller allows it
TIMEOUT_S = 170


def _pinned_env(work: str) -> dict:
    env = {
        k: v
        for k, v in os.environ.items()
        # engine knobs the host may set would change what is measured
        if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_LOCAL_DIRS"))
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update(
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(
            [
                "--conf", "spark.ui.showConsoleProgress=false",
                "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                # no hsperfdata file: the JVM would write it under /tmp.
                # Serial GC on a fixed heap: no concurrent GC threads
                # competing with the tasks for the host's few cores, and
                # no run-to-run heap resizing (README.md, "Noise findings")
                "--driver-java-options",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC -Xms2g",
                "pyspark-shell",
            ]
        ),
    )
    return env


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the worker's process group and wait
    until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "louvain_modularity_spark", "__init__.py")):
        print("perfbench: louvain_modularity_spark not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work-dir", work,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=_pinned_env(work), start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
