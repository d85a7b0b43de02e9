"""Physical-plan assertions — the 100 TB posture checks.

These helpers read ``df._jdf``'s formatted explain output and assert
the properties every operator in this engine is designed around:

- ``uses_take_ordered``: top-k compiles to TakeOrderedAndProject
  (per-partition top-k + driver merge — the reference's scatter/merge,
  client.go:1497-1576 — and NOT a global sort-exchange);
- ``pushed_filters``: predicates reach the parquet scan
  (PushedFilters), so a selective filter prunes IO, not just rows;
- ``read_schema_only``: column pruning reached the scan — a 2-column
  projection must not read 16 columns;
- ``count_exchanges``: shuffle budget — an operator claiming to be
  narrow must show 0 exchanges, a single-agg plan at most its one
  shuffle;
- ``uses_broadcast``: small-side joins must broadcast, never
  sort-merge.

Used by tests/test_plans.py; also handy interactively while tuning.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def _strip_cached_subtrees(plan: str) -> str:
    """Drop the child plans of InMemoryRelation nodes: they describe how
    a cache was BUILT (paid once at fit/persist time), not what a query
    over the cache executes. Exchange counts over query plans must not
    charge the query for the index-build shuffle."""
    out: list[str] = []
    skip_deeper_than: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*"))
        if skip_deeper_than is not None:
            if indent > skip_deeper_than:
                continue
            skip_deeper_than = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_deeper_than = indent
    return "\n".join(out)


def count_exchanges(df: DataFrame) -> int:
    # Count only shuffle exchanges; broadcast exchanges are cheap
    # fan-out. "\bExchange " cannot match inside "BroadcastExchange"
    # (no word boundary between 't' and 'E'), and deliberately matches
    # EVERY shuffle partitioning — an explicit hash/range/roundrobin/
    # single-partition allowlist silently missed repartition()'s
    # RoundRobinPartitioning, letting zero-shuffle assertions pass on
    # plans that actually shuffle.
    return len(
        re.findall(r"\bExchange [A-Za-z]", _strip_cached_subtrees(simple_plan(df)))
    )


def uses_broadcast(df: DataFrame) -> bool:
    # simple plan (one fetch), with InMemoryRelation BUILD subtrees
    # stripped: a broadcast paid once at cache-build time must not
    # satisfy an assertion about the QUERY's join strategy
    plan = _strip_cached_subtrees(simple_plan(df))
    return any(
        k in plan
        for k in ("BroadcastExchange", "BroadcastNestedLoopJoin", "BroadcastHashJoin")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters listed in every scan's ``PushedFilters: [...]``.

    Bracket-aware: ``In(f, [a,b])`` nests brackets and commas, so a
    non-greedy ``\\[(.*?)\\]`` regex truncated at the first ``]`` and
    dropped every filter after an In — splitting happens only at
    depth-0 commas, and the list ends at the matching close bracket."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[", plan):
        i, depth, buf = m.end(), 1, []
        while i < len(plan) and depth:
            c = plan[i]
            if c == "[":
                depth += 1
            elif c == "]":
                depth -= 1
            if depth:
                buf.append(c)
            i += 1
        inner = "".join(buf).strip()
        if not inner:
            continue
        parts, d, cur = [], 0, []
        for c in inner:
            if c in "[(":
                d += 1
            elif c in "])":
                d -= 1
            if c == "," and d == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(c)
        if cur:
            parts.append("".join(cur).strip())
        out.extend(p for p in parts if p)
    return out


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))
