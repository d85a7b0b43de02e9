"""One benchmark run inside its own process group: start the Spark
session, set the workload up, warm it, run closed-loop cycles for the
measured window, and write the result JSON. ``run.py`` starts this
module and owns every process it leaves behind.

Usage (from the checkout root):
    python3 -m perfbench.worker --workload W --seed N --seconds S --trace 0|1 \
        --work DIR --out FILE
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

REPS = 3  # set-up is repeated and its median reported as setup_s
PR_SET_PDEATHSIG = 1
OUT_DIR = ".perfbench_out"  # spans and per-run records, under the checkout
# per-layer metrics only one workload has (the other reports 0)
LAYER_ONLY = [
    "search.recall_at_10", "ivf.plan_chars", "store.bytes_per_user_byte",
    "upsert.bytes_written", "forcemerge.bytes_reclaimed",
]


def _stop_on_sigterm() -> None:
    """SIGTERM unwinds through ``spark.stop()``; so does the death of
    the supervising ``run.py`` (PR_SET_PDEATHSIG)."""

    def handler(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _out_path(name: str) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    return os.path.join(OUT_DIR, name)


def action_floor_ms(spark, n: int = 5) -> float:
    """Median wall time of a trivial one-task action."""
    from perfbench.measure import median

    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).collect()
        out.append((time.perf_counter() - t0) * 1000.0)
    return median(out)


def run_workload(spark, args) -> dict:
    """Set up REPS times, warm, then run whole cycles for the window;
    returns the metric values and op counts, and records the run."""
    from perfbench import corpus, ingest
    from perfbench.measure import cpu_times, peak_rss_mb, steal_frac
    from perfbench.runner import Runner, RunStopped

    traced = bool(args.trace)
    runner = Runner(spark, traced)
    tracer = runner.tracer
    if traced:
        # set-up and warm-up are traced too, under their phase name in
        # place of an operation id: with plans memoised, some layers
        # (graph index builds, plan building) only run there
        tracer.install()
        tracer.op, tracer.on = "setup", True
    if args.workload == "ingest_mutate":
        wl = ingest.Ingest(spark, runner, args.seed, args.work)
        rows = wl.docs.rows(range(len(wl.docs.ids)))
        setup_s = [wl.setup_once(rep, rows) for rep in range(REPS)]
    else:
        wl = corpus.Corpus(spark, runner, args.seed, args.work)
        setup_s = [wl.setup_once(rep) for rep in range(REPS)]
    if traced:
        tracer.op = "warm"
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    floor_ms = action_floor_ms(spark)
    if traced:
        tracer.on = False

    steal0 = cpu_times()
    start = time.perf_counter()
    try:
        # whole cycles only, at least one; another starts only if one as
        # long as the last still ends inside the window
        while True:
            c0 = time.perf_counter()
            wl.cycle()
            runner.cycles.append(time.perf_counter() - c0)
            if time.perf_counter() - start + runner.cycles[-1] > args.seconds:
                break
    except RunStopped as exc:
        runner.stop_cycle(wl.OPS_PER_CYCLE)
        print(f"perfbench: run stopped: {exc}", file=sys.stderr)
    steal = steal_frac(steal0, cpu_times())
    rss = peak_rss_mb()

    if traced:
        tracer.uninstall()
        values = runner.per_layer(ingest.KINDS + corpus.KINDS)
        values.update(dict.fromkeys(LAYER_ONLY, 0.0))
        values.update(wl.layer_metrics())
        values.update({
            "warm.s": warm_s,
            "spark.action_floor_ms": floor_ms,
            "host.steal_frac": steal,
            "proc.peak_rss_mb": rss,
            "trace.overhead_frac": runner.trace_overhead(),
        })
        tracer.dump(_out_path(f"spans-{args.workload}-seed{args.seed}.json"), runner.span_jobs)
    else:
        values = runner.end_to_end(setup_s)
    for msg in runner.failures[:20]:
        print(f"perfbench: failed {msg}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
        f"setup_s={[round(s, 2) for s in setup_s]} warm_s={warm_s:.1f} "
        f"cycles={[round(c, 2) for c in runner.cycles]} steal={steal:.4f}",
        file=sys.stderr,
    )
    with open(_out_path("runs.jsonl"), "a") as fh:
        fh.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host_steal_frac": steal, "setup_s": setup_s, "cycles_s": runner.cycles,
            "values": values,
            "ops": [[r["name"], round(r["ms"], 3), round(r["steal"], 4)] for r in runner.records],
        }) + "\n")
    return {"values": values, "attempted": runner.attempted, "failed": runner.failed}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest_mutate", "corpus_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    _stop_on_sigterm()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.workload == "corpus_suite":
        # oracle_sql() derives some oracles' constants (IVF centroids,
        # classifier weights) from the tables in this dir: point it at
        # the run's own tables
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(args.work, f"sf{REPS - 1}")

    from vearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        res = run_workload(spark, args)
    finally:
        spark.stop()
    values = dict(res["values"], **{"session.start_s": session_s})
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in spec},
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
