"""The benchmark's own checks: a run killed mid-workload leaves no
process and no work directory behind, also in a checkout too deep for
absolute unix socket paths under it; and a directory without the
engine's sources makes the benchmark fail fast without a result.

    python3 -m pytest perfbench/test_cleanup.py -q
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import descendants  # noqa: E402


def _start_time(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except OSError:
        return None


def _kind(pid: int) -> str | None:
    """'jvm' for the Spark JVM, 'python_worker' for a PySpark worker."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return None
    if comm == "java":
        return "jvm"
    if argv[1:3] == [b"-m", b"vearch_spark.worker_daemon"]:
        return "python_worker"
    return None


def _deep_checkout(tmp_path) -> str:
    """A copy of the engine and the benchmark so deep that a unix socket
    under its absolute path would exceed the 107-byte limit."""
    root = tmp_path / ("d" * 120) / "checkout"
    skip = shutil.ignore_patterns("__pycache__")
    for d in ("vearch_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), root / d, ignore=skip)
    for f in ("__spark_entry__.py", "BENCHMARK.json"):
        shutil.copy(os.path.join(ROOT, f), root / f)
    return str(root)


@pytest.mark.parametrize("where", ["checkout", "deep_checkout"])
def test_sigterm_mid_workload_leaves_nothing_behind(where, tmp_path):
    root = ROOT if where == "checkout" else _deep_checkout(tmp_path)
    work = os.path.join(root, ".perfbench_work")
    before = set(os.listdir(work)) if os.path.isdir(work) else set()
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_mutate",
         "--seed", "7", "--seconds", "6", "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        # wait for the JVM and a Python worker: the run is then mid-set-up
        deadline = time.monotonic() + 150
        seen: dict[int, str | None] = {}
        while time.monotonic() < deadline:
            pids = descendants(proc.pid)
            seen.update({p: _start_time(p) for p in pids if p not in seen})
            kinds = {_kind(p) for p in pids}
            if {"jvm", "python_worker"} <= kinds:
                break
            assert proc.poll() is None, "the run ended before it could be killed"
            time.sleep(0.5)
        else:
            raise AssertionError("no JVM and Python worker appeared within 150 s")
        seen.update({p: _start_time(p) for p in descendants(proc.pid) if p not in seen})
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=90)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert out.strip() == "", "a killed run must not print a result"
    survivors = [p for p, t in seen.items() if t is not None and _start_time(p) == t]
    assert survivors == [], f"processes left running: {survivors}"
    after = set(os.listdir(work)) if os.path.isdir(work) else set()
    assert after <= before, f"work directories left: {sorted(after - before)}"


def test_without_engine_sources_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_suite",
         "--seed", "1", "--seconds", "6", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
