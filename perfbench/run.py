"""Benchmark entry point.

    python3 perfbench/run.py --workload plan_lifecycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py sample-check --seed 1    # see sample_check.py

Runs one workload once, in a fresh child process with its own run
directory under ``.perfbench_runs/`` in the checkout: ``TMPDIR``,
``SPARK_LOCAL_DIRS``, the JVM's ``java.io.tmpdir``, the working directory
(and so ``spark-warehouse/``), ledgers, checkpoints and every staged
fixture land there and are deleted when the run ends, so no state leaks
between runs or between checkouts.  The child's stdout is relayed; its
last line is the result JSON.  ``--trace 1`` also writes the recorded
spans to ``.perfbench_out/``.

Exits non-zero without a result when the engine package is not next to
this directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 170
SAMPLE_CHECK_TIMEOUT_S = 1200


def _become_subreaper() -> None:
    """Have orphaned descendants (the JVM, Python workers) re-parented to
    this process, so the run can wait for every one of them to end."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2 :].split()[1] == me:
            kids.append(int(pid))
    return kids


def _stop_descendants(timeout: float = 15.0) -> None:
    """Kill and reap every process the run left behind."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "agentic_etl_poc_spark")):
        print(f"perfbench: no agentic_etl_poc_spark package under {ROOT}", file=sys.stderr)
        return 2
    args = sys.argv[1:]
    module, timeout = "perfbench.worker", RUN_TIMEOUT_S
    if args[:1] == ["sample-check"]:
        module, timeout, args = "perfbench.sample_check", SAMPLE_CHECK_TIMEOUT_S, args[1:]
    workload = args[args.index("--workload") + 1] if "--workload" in args else "run"
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    seed = args[args.index("--seed") + 1] if "--seed" in args else "0"
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(min(4, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PERFBENCH_T0=repr(t0),
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, "-m", module, *args, "--run-dir", run_dir]
    if module == "perfbench.worker":
        cmd += ["--spans-out", os.path.join(out_dir, f"spans-{workload}-seed{seed}.jsonl")]
    _become_subreaper()
    # a TERM to the launcher still stops and reaps the run (``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        code = 124
    finally:
        _stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
