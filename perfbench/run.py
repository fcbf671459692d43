#!/usr/bin/env python3
"""Run one benchmark workload; the last stdout line is the JSON result.

Usage, from the repository root::

    python3 perfbench/run.py --workload dedup_corpus --seed 42 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see ``BENCHMARK.json``).  ``--size tiny`` shrinks every input for
smoke tests.

The launcher builds the child's environment from scratch -- nothing of the
caller's environment is passed on except the locations of the toolchain
(``PATH``, ``HOME``, ``JAVA_HOME``) -- so that Spark's Python workers find
the package (``PYTHONPATH``), scratch space stays inside the checkout
(``SPARK_LOCAL_DIRS``, ``TMPDIR``) and the master is ``local[<nproc>]``.
The child runs in its own process group; when it ends, whatever it left
running (the JVM, Python workers) is stopped and waited for.  Exit status
is the child's: non-zero when an output was wrong or the run failed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 170
_TOOLCHAIN_VARS = ("PATH", "HOME", "JAVA_HOME")


def child_env(work: str) -> dict[str, str]:
    env = {k: os.environ[k] for k in _TOOLCHAIN_VARS if k in os.environ}
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_HOSTNAME": "localhost",
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # no JVM perf-data files under /tmp (spark-submit's launcher JVM)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "LANG": "C.UTF-8",
        "LC_ALL": "C.UTF-8",
    })
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; wait for all."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="fuzzy_matching_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "fuzzy_matching_spark")):
        print("perfbench: fuzzy_matching_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.size}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", work, "--t0", repr(t0),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(work), stdout=subprocess.PIPE,
        start_new_session=True, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        stop_group(proc.pid)
        proc.wait()
        return 3
    finally:
        stop_group(proc.pid)
    # keep the spans and event log of a traced run; drop inputs and outputs
    for name in os.listdir(work):
        if name not in ("trace", "eventlog"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        if lines:
            print(lines[-1], flush=True)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
