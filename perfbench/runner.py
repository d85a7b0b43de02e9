"""The closed-loop client: runs one operation at a time, times it,
checks its answer outside the timed region, and in a traced run reads
the Spark counters and spans of every operation."""

from __future__ import annotations

import math
import time
import traceback

from py4j.protocol import Py4JError

from perfbench.measure import SparkCounters, cpu_times, median, steal_frac, tail
from perfbench.trace import LAYERS, Tracer

# an operation slower than this counts as failed, like one that raises,
# and ends the run
LIMIT_S = 30.0


class RunStopped(Exception):
    """An operation missed its limit or the Spark session died: the run
    sends nothing more."""


class Runner:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.tracer = Tracer() if traced else None
        self.counters = SparkCounters(spark) if traced else None
        self.records: list[dict] = []
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.span_jobs: dict[int, int] = {}

    def _alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Py4JError:  # the gateway itself is gone
            return False

    def op(self, kind: str, build, act=None, check=None, name: str | None = None):
        """One operation: ``build()`` issues the request (a read returns
        its DataFrame, a write runs); ``act`` materialises the result;
        ``check(result)`` returns an error string or None, untimed.
        ``kind`` groups ops for the per-layer metrics; ``name`` (default:
        the kind) identifies the request across cycles."""
        self.attempted += 1
        rec = {"kind": kind, "name": name or kind}
        steal0 = cpu_times()
        if self.traced:
            job0 = self.counters.next_job()
            self.tracer.op = len(self.records)
            self.tracer.on = True
        err = None
        out = None
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            if act is not None:
                out = act(out)
        except Exception as exc:  # the client's boundary: count and go on
            t1 = time.perf_counter()
            err = "".join(traceback.format_exception_only(exc)).strip()[:300]
        t2 = time.perf_counter()
        if self.traced:
            self.tracer.on = False
        rec["steal"] = steal_frac(steal0, cpu_times())
        rec["ms"] = (t2 - t0) * 1000.0
        rec["plan_ms"] = (t1 - t0) * 1000.0
        if err is None and check is not None:
            err = check(out)
        if err is None and t2 - t0 > LIMIT_S:
            err = f"took {t2 - t0:.1f} s, over the {LIMIT_S:.0f} s limit"
        if self.traced:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            c = self.counters.jobs(job0, self.counters.next_job())
            for span, n in self.tracer.attribute_jobs(len(self.records), c.pop("intervals")).items():
                self.span_jobs[span] = self.span_jobs.get(span, 0) + n
            rec.update(c)
        self.records.append(rec)
        if err is not None:
            self.failed += 1
            self.failures.append(f"{kind}: {err}")
            if t2 - t0 > LIMIT_S or not self._alive():
                raise RunStopped(err)
        return out

    def stop_cycle(self, ops_per_cycle: int) -> None:
        """Count the ops a stopped cycle never sent as failed."""
        done = len(self.records) - ops_per_cycle * len(self.cycles)
        unsent = max(0, ops_per_cycle - done)
        self.attempted += unsent
        self.failed += unsent

    # ------------------------------------------------------------ metrics

    def end_to_end(self, setup_s: list[float]) -> dict:
        return {
            "setup_s": median(setup_s),
            "op_gmean_ms": self.typical_op_ms(),
            "cycle_s": median(self.cycles),
        }

    def typical_op_ms(self) -> float:
        """Geometric mean over operation names of each name's median
        latency. A cycle mixes requests whose latencies differ tenfold,
        so the median of all ops jumps between clusters from run to run;
        this moves smoothly with each of them, and the per-name median
        drops a single op caught by a host stall. Latencies under 1 ms
        (a forcemerge with nothing to reclaim) count as 1 ms."""
        by_name: dict[str, list[float]] = {}
        for r in self.records:
            by_name.setdefault(r["name"], []).append(r["ms"])
        logs = [math.log(max(1.0, median(v))) for v in by_name.values()]
        return math.exp(sum(logs) / len(logs)) if logs else 0.0

    def trace_overhead(self) -> float:
        """Share of the measured ops' time the spans added: the
        wrapper's own cost, timed on a no-op, times the spans recorded
        inside ops. Counter reads happen between ops, outside timing."""
        op_s = sum(r["ms"] for r in self.records) / 1000.0
        n = sum(isinstance(sp[4], int) for sp in self.tracer.spans)
        return self.tracer.calibrate() * n / op_s if op_s else 0.0

    def per_layer(self, kinds: list[str]) -> dict:
        """Per-kind shares and Spark counters, per-layer span self time,
        and the latency tail. ``kinds`` lists every operation kind of
        every workload, so each run reports the same keys."""
        out: dict[str, float] = {}
        total_ms = sum(r["ms"] for r in self.records) or 1.0
        n_cycles = max(1, len(self.cycles))
        for kind in kinds:
            recs = [r for r in self.records if r["kind"] == kind]
            ms = sum(r["ms"] for r in recs)
            n = max(1, len(recs))
            out[f"{kind}.cycle_pct"] = 100.0 * ms / total_ms
            out[f"{kind}.plan_pct"] = 100.0 * sum(r["plan_ms"] for r in recs) / ms if ms else 0.0
            out[f"{kind}.jobs"] = sum(r.get("jobs", 0) for r in recs) / n
            out[f"{kind}.tasks"] = sum(r.get("tasks", 0) for r in recs) / n
            out[f"{kind}.cores"] = sum(r.get("cpu_ms", 0.0) for r in recs) / ms if ms else 0.0
        measured = set(range(len(self.records)))
        self_s = self.tracer.self_times(measured) if self.traced else {}
        calls: dict[str, int] = {}
        if self.traced:
            for name, _t0, _t1, _parent, op in self.tracer.spans:
                if op in measured:
                    calls[name] = calls.get(name, 0) + 1
        for layer in LAYERS:
            sel = [n for n in self_s if n.split(".", 1)[0] == layer]
            out[f"{layer}.self_pct"] = 100.0 * sum(self_s[n] for n in sel) * 1000.0 / total_ms
            out[f"{layer}.calls"] = sum(calls.get(n, 0) for n in sel) / n_cycles
        out["op.p50_ms"] = median([r["ms"] for r in self.records])
        pct, value = tail([r["ms"] for r in self.records])
        out["op.tail_pct"] = float(pct)
        out["op.tail_ms"] = value
        out["spark.executor_cpu_ms"] = sum(r.get("cpu_ms", 0.0) for r in self.records) / n_cycles
        return out
