"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_iter --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the input tables once per checkout
(under ``perfbench/.cache``), then runs the workload in a child process with
a fresh TMPDIR, SPARK_LOCAL_DIRS and pipeline directories under
``perfbench/.cache/runs``, all removed at exit together with any process the
run left behind. The last line of standard output is the result: one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. The exit
code is nonzero when any op failed or returned a wrong result, and when the
package under test cannot be imported (no result is printed then).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
PACKAGE = "multi_source_financial_data_pipeline_spark"
RUN_MARK = "PERFBENCH_RUN_DIR"
#: the driver JVM's heap, well below the RAM of a small host
DRIVER_MEMORY = "2g"


def marked_pids(run_dir: str) -> list[int]:
    """Live processes whose environment carries this run's marker."""
    needle = f"{RUN_MARK}={run_dir}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:
            continue
    return pids


def _reap(run_dir: str, grace_s: float = 10.0) -> None:
    """Stop every process the run started and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = marked_pids(run_dir)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while marked_pids(run_dir) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO_DIR, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_DIR)
    from perfbench import datagen

    data_dir = datagen.ensure(CACHE_DIR)
    runs = os.path.join(CACHE_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        {
            RUN_MARK: run_dir,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": REPO_DIR,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # every JVM of the run keeps its temp files in the run directory
            # and writes no perf-counter file to /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data-dir", data_dir,
        "--cache-dir", CACHE_DIR,
        "--run-dir", run_dir,
    ]
    try:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)], env=env, cwd=run_dir
        )
        try:
            return proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded 170 s", file=sys.stderr)
            return 3
    finally:
        _reap(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
