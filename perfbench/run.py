"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Pins the environment (cores, driver
memory, import path for executor Python workers), gives the run its own
temporary directories under ``.perfbench_runs/`` in the checkout, runs
``perfbench/harness.py`` in a child process group, and removes the run
directory and every process of the group when it ends.  The child's last
stdout line is the result.  Exits non-zero, printing no result, when the
program under test is not in the checkout.

Extra options, for the benchmark's own tests: ``--scale SF`` (input size,
default 0.1), ``--fault truncate-replica`` (geo_replicate: corrupt one
replicated file mid-run), ``--trace-out PATH`` (where a traced run writes
its spans; default ``.perfbench_traces/<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = os.path.join(ROOT, "iceberg_hybrid_spark", "__init__.py")
TIMEOUT_S = 170


def _arg(argv, name, default=None):
    return argv[argv.index(name) + 1] if name in argv[:-1] else default


def _driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: the session's default
    (48g) is sized for a 128 GiB host."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _reap(pgid: int) -> None:
    """Kill what is left of the child's process group and wait it out."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def _interrupted(signum, frame):
    raise KeyboardInterrupt  # unwinds into main's cleanup


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _interrupted)
    if not os.path.exists(PROGRAM):
        print(f"perfbench: program not found ({PROGRAM}); run from a full checkout",
              file=sys.stderr)
        return 2
    workload = _arg(argv, "--workload", "unknown")
    seed = _arg(argv, "--seed", "0")
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    extra = ["--run-dir", run_dir]
    if _arg(argv, "--trace", "0") == "1" and "--trace-out" not in argv:
        extra += ["--trace-out",
                  os.path.join(ROOT, ".perfbench_traces", f"{workload}-{seed}.jsonl")]
    child = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "harness.py"), *argv, *extra],
        cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        _reap(child.pid)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
