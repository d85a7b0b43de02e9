"""Measure per-query PLAN BUILD cost (construction + analysis, no
action): calls each ``queries()`` builder twice and reports both call
times and the py4j round trips of the second call (the count host CPU
steal does not move). Usage: python tools/build_cost.py [sf_dir]"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entry
    from vearch_spark.plans.roundtrips import count_round_trips
    from vearch_spark.session import get_spark

    spark = get_spark(app_name="build-cost")
    qs = entry.queries()
    # warm: JVM, parquet schema resolution, module imports
    for fn in qs.values():
        try:
            fn(spark, sf_dir)
        except Exception as e:
            print("WARMFAIL", e)
    rows = []
    for name, fn in qs.items():
        t0 = time.time()
        fn(spark, sf_dir)
        t1 = time.time()
        with count_round_trips(spark) as rt:
            fn(spark, sf_dir)
        t2 = time.time()
        rows.append((name, t1 - t0, t2 - t1, rt.n))
    rows.sort(key=lambda r: -min(r[1], r[2]))
    tot1 = sum(r[1] for r in rows)
    tot2 = sum(r[2] for r in rows)
    print(f"TOTAL build: call1={tot1:.2f}s call2={tot2:.2f}s round_trips={sum(r[3] for r in rows)}")
    for name, a, b, n in rows[:40]:
        print(f"{min(a,b)*1000:8.1f} ms {n:6d} rt  {name}  (c1 {a*1000:.0f} / c2 {b*1000:.0f})")
    spark.stop()


if __name__ == "__main__":
    main()
