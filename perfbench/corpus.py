"""``corpus_suite``: one client running a fixed subset of
``__spark_entry__.queries()`` over seeded tables in the sf0.001 shape,
one pass after another, each result fully materialised and checked
against its ``oracle_sql()`` twin in DuckDB.

Each query belongs to one family, by the module it exercises.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench.data import write_corpus_tables
from perfbench.measure import frame_hash

FAMILIES = {
    "multivector_fusion_sorted": "verbs",
    "flat_knn_l2": "knn_exact",
    "hnsw_knn": "knn_ann",
    "diskann_knn": "knn_ann",
    "realtime_union_knn": "knn_ann",
    "ngram_jaccard_dedup": "pair_dedup",
    "minhash_dedup": "lsh_dedup",
    "corpus_pipeline": "text",
    "image_near_dup": "media",
    "temperature_mix": "sampling",
}
KINDS = ["verbs", "knn_exact", "knn_ann", "pair_dedup", "lsh_dedup", "text", "media", "sampling"]
TABLES = ["documents", "embeddings", "lineitem", "orders"]
WARM_PASSES = 2


class Corpus:
    OPS_PER_CYCLE = len(FAMILIES)

    def __init__(self, spark, runner, seed: int, work: str):
        self.spark = spark
        self.run = runner
        self.seed = seed
        self.work = work
        self.sf_dir: str | None = None
        self.expected: dict[str, tuple] = {}
        self.load_s: list[float] = []
        self.index_s: list[float] = []
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = {n: entry.queries()[n] for n in FAMILIES}

    def setup_once(self, rep: int) -> float:
        """Write a fresh copy of the seeded tables and build the graph
        indexes the knn_ann queries read (HNSW, Vamana); returns the
        seconds it took."""
        e, spark = self.entry, self.spark
        sf_dir = os.path.join(self.work, f"sf{rep}")
        t0 = time.perf_counter()
        write_corpus_tables(np.random.default_rng(self.seed), sf_dir)
        t1 = time.perf_counter()
        e._hnsw_index(spark, sf_dir)
        e.q_diskann_knn(spark, sf_dir).count()  # builds and caches the Vamana index
        t2 = time.perf_counter()
        self.load_s.append(t1 - t0)
        self.index_s.append(t2 - t1)
        self.sf_dir = sf_dir
        return t2 - t0

    def _oracle(self) -> None:
        """Expected (columns, rows, hash) per query from DuckDB."""
        import duckdb

        orc = self.entry.oracle_sql()
        con = duckdb.connect(config={"threads": 2})
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{self.sf_dir}/{t}.parquet')"
                )
            for name in FAMILIES:
                self.expected[name] = frame_hash(con.execute(orc[name]).df())
        finally:
            con.close()

    def warm(self) -> None:
        """Untimed passes: the first pays plan compilation, codegen and
        Python-worker start, the second the plan memo's probe. The
        DuckDB oracle runs alongside on its own thread; both finish
        before the timed window opens."""
        from perfbench.runner import Runner

        errors: list[BaseException] = []

        def oracle():
            try:
                self._oracle()
            except BaseException as exc:  # re-raised on the main thread
                errors.append(exc)

        th = threading.Thread(target=oracle, name="oracle")
        th.start()
        measured, self.run = self.run, Runner(self.spark, traced=False)
        try:
            for _ in range(WARM_PASSES):
                self.cycle()
        finally:
            self.run = measured
            th.join()
        if errors:
            raise errors[0]

    def cycle(self) -> None:
        from vearch_spark.operators.dedup import release_skew_guard_caches

        for name, family in FAMILIES.items():
            fn = self.queries[name]
            self.run.op(family, lambda: fn(self.spark, self.sf_dir), lambda df: df.toPandas(),
                        lambda pdf: self._check(name, pdf), name=name)
            release_skew_guard_caches()

    def _check(self, name: str, pdf) -> str | None:
        want = self.expected.get(name)
        if want is None:  # only during the warm-up, while the oracle runs
            return None
        got = frame_hash(pdf)
        return None if got == want else f"{name}: {got} != oracle {want}"

    def layer_metrics(self) -> dict:
        return {
            "setup.load_s": float(np.median(self.load_s)),
            "setup.index_s": float(np.median(self.index_s)),
        }
