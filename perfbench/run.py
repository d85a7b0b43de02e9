"""Benchmark entry point: runs one workload of the vearch_spark engine
and prints one JSON result line.

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 14 --trace 0

Run it from the root of a checkout. The run itself happens in a child
process group (``perfbench.worker``); this process is the
children's subreaper, so on every exit path (success, error, the
time limit, SIGTERM/SIGINT) it stops the Spark JVM, its Python workers
and anything else the run started, waits until each has ended, and
deletes the run's work directory (spaces, tables, SPARK_LOCAL_DIRS,
TMPDIR) under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.measure import descendants  # noqa: E402

WORKLOADS = ("ingest_mutate", "corpus_suite")
DRIVER_MEM = "4g"  # the JVM heap, sized for a 15 GB host
LIMIT_S = 160.0  # a run is cut, and fails, after this long
GRACE_S = 8.0  # for the worker to stop its session after SIGTERM
PR_SET_CHILD_SUBREAPER = 36


def reap_all() -> None:
    """Kill every descendant and wait until none is left. As the
    subreaper, this process inherits orphans, so waitpid sees them."""
    deadline = time.monotonic() + 60.0
    while True:
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not descendants(os.getpid()) or time.monotonic() > deadline:
            return
        time.sleep(0.1)


def stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM the run's process group (the worker stops its session),
    then SIGKILL whatever is still there after the grace period."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=GRACE_S)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    reap_all()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "vearch_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a vearch_spark checkout "
              "(no vearch_spark/ or __spark_entry__.py here)", file=sys.stderr)
        return 2

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, orphans go to init; descendants() still finds them

    stop = []

    def on_signal(signum, frame):
        stop.append(signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the engine runs PySpark over unix domain sockets, whose path may
    # be at most 107 bytes: name their directory relative to the
    # checkout root (every process of the run works there), so a deep
    # checkout does not push the path over the limit
    sock = os.path.join(os.path.relpath(work, root), "s")
    os.makedirs(sock)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} "
            f"--conf {shlex.quote('spark.python.unix.domain.socket.dir=' + sock)} pyspark-shell"
        ),
        "PYTHONPATH": root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
    })
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out]
    proc = None
    timed_out = False
    try:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                                start_new_session=True)
        deadline = time.monotonic() + LIMIT_S
        while not stop and proc.poll() is None:
            if time.monotonic() > deadline:
                timed_out = True
                break
            try:
                proc.wait(timeout=0.5)
            except subprocess.TimeoutExpired:
                pass
        result = None
        if not stop and not timed_out and proc.returncode == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        if proc is not None:
            stop_group(proc)
        else:
            reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there
    if stop:
        print(f"perfbench: stopped by signal {stop[0]}", file=sys.stderr)
        return 128 + stop[0]
    if timed_out:
        print(f"perfbench: run exceeded {LIMIT_S:.0f} s and was stopped", file=sys.stderr)
        return 1
    if result is None:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
