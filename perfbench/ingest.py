"""``ingest_mutate``: one client reading and writing a path-backed
IVFFLAT space in the FIXTURES F1 shape.

A cycle sends three rounds of the six read verbs (index search,
filtered index search, exact search, a batched search, a filter-scan
query, get by ids) with the writes between them: an upsert mixing new
and existing ids and a read-your-write get of them, a delete by ids and
a read-your-write get of the deleted ids, and ``index_forcemerge``.
Every answer is checked against numpy truth.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench.data import DIM, Docs, exact_ok, recall
from perfbench.measure import dir_bytes

N_DOCS = 2000
K = 10
BATCH_Q = 8
KINDS = [
    "search", "filtered_search", "exact_search", "batch_search", "filter_query",
    "get", "upsert", "rw_get", "delete", "forcemerge",
]
INT_CUT = 50
STRING_SET = ["s01", "s02", "s03", "s04", "s05", "s06", "s07", "s08"]
DOUBLE_CUT = 500.0


def schema():
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema

    return SpaceSchema(
        name="bench",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec("field_double", FieldType.DOUBLE, index=IndexSpec("field_double", "SCALAR")),
            FieldSpec("field_string", FieldType.STRING, index=IndexSpec("field_string", "SCALAR")),
            FieldSpec(
                "field_vector", FieldType.VECTOR, dimension=DIM,
                index=IndexSpec("field_vector", "IVFFLAT",
                                params={"ncentroids": 64, "nprobe": 8,
                                        "training_threshold": 1000}),
            ),
        ],
    )


class Ingest:
    OPS_PER_CYCLE = 3 * 6 + 5

    def __init__(self, spark, runner, seed: int, work: str):
        self.spark = spark
        self.run = runner
        self.work = work
        self.docs = Docs(np.random.default_rng(seed), N_DOCS)
        self.space = None
        self.recalls: list[float] = []
        self.plan_chars: list[int] = []
        self.upsert_bytes: list[int] = []
        self.reclaimed: list[int] = []
        self.load_s: list[float] = []
        self.index_s: list[float] = []

    # ------------------------------------------------------------- setup

    def setup_once(self, rep: int, rows: list[dict]) -> float:
        """Create a path-backed space, bulk-load the docs and train the
        IVFFLAT index; returns the seconds it took."""
        from vearch_spark import api
        from vearch_spark.space import Space

        path = os.path.join(self.work, f"space{rep}")
        t0 = time.perf_counter()
        space = Space(self.spark, schema(), path=path)
        api.upsert(space, {"documents": rows})
        t1 = time.perf_counter()
        space.build_index("field_vector")
        t2 = time.perf_counter()
        self.load_s.append(t1 - t0)
        self.index_s.append(t2 - t1)
        if self.space is not None:
            self._drop(self.space)
        self.space = space
        return t2 - t0

    def _drop(self, space) -> None:
        for model in space._indexes.values():
            model.unpersist()
        shutil.rmtree(space.path, ignore_errors=True)

    def warm(self) -> None:
        """One round of the read verbs through a throwaway client: the
        first calls pay plan compilation and Python-worker start."""
        from perfbench.runner import Runner

        measured, self.run = self.run, Runner(self.spark, traced=False)
        try:
            self.reads()
        finally:
            self.run = measured
        self.recalls.clear()

    # ------------------------------------------------------------ cycle

    def _search_req(self, q, **extra) -> dict:
        req = {"vectors": [{"field": "field_vector", "feature": q.tolist()}],
               "limit": K, "fields": ["_id"]}
        req.update(extra)
        return req

    def _filter(self) -> dict:
        return {"operator": "AND", "conditions": [
            {"field": "field_int", "operator": "<", "value": INT_CUT},
            {"field": "field_string", "operator": "IN", "value": STRING_SET},
        ]}

    def _filter_mask(self) -> np.ndarray:
        d = self.docs
        return (d.ints < INT_CUT) & np.isin(d.strings, STRING_SET)

    def _query_filter(self) -> dict:
        return {"operator": "AND", "conditions": [
            {"field": "field_double", "operator": ">=", "value": DOUBLE_CUT},
            {"field": "field_string", "operator": "IN", "value": STRING_SET[:2]},
        ]}

    def cycle(self) -> None:
        """Three rounds of reads with the writes between them, so reads
        run both before and after the index is mutated."""
        self.reads()
        self.upsert()
        self.reads()
        self.delete()
        self.reads()
        self.forcemerge()

    def reads(self) -> None:
        from vearch_spark import api

        d, sp, run = self.docs, self.space, self.run
        collect = lambda df: df.collect()  # noqa: E731
        q = d.queries(BATCH_Q + 3)

        dist = d.l2(q[0])
        run.op("search", lambda: api.search(sp, self._search_req(q[0])), collect,
               lambda rows: self._ann_check(dist, rows))

        mask = self._filter_mask()
        fdist = d.l2(q[1], mask)
        run.op("filtered_search",
               lambda: api.search(sp, self._search_req(
                   q[1], filters=self._filter(), fields=["_id", "field_int", "field_string"])),
               collect, lambda rows: self._filtered_check(fdist, rows))

        edist = d.l2(q[2])
        run.op("exact_search",
               lambda: api.search(sp, self._search_req(q[2], is_brute_search=1)), collect,
               lambda rows: None if exact_ok(edist, d, [r["_id"] for r in rows], K)
               else "hits differ from the exact top-k")

        bq = q[3:]
        bdist = [d.l2(x) for x in bq]
        run.op("batch_search",
               lambda: api.search(sp, {"vectors": [{"field": "field_vector",
                                                    "feature": bq.ravel().tolist()}],
                                       "limit": K}),
               collect, lambda rows: self._batch_check(bdist, rows))

        qmask = (d.doubles >= DOUBLE_CUT) & np.isin(d.strings, STRING_SET[:2])
        want = d.scan_order(qmask, 50)
        run.op("filter_query",
               lambda: api.query(sp, {"filters": self._query_filter(), "limit": 50}), collect,
               lambda rows: None if [r["_id"] for r in rows] == want
               else "query rows differ from the first matches in _seq order")

        ids = d.sample_ids(20)
        run.op("get", lambda: api.query(sp, {"document_ids": ids}), collect,
               lambda rows: self._get_check(ids, rows))

    def upsert(self) -> None:
        from vearch_spark import api

        d, sp, run = self.docs, self.space, self.run
        collect = lambda df: df.collect()  # noqa: E731
        rows = d.upsert_batch(5, 5)
        before = dir_bytes(sp.path)
        run.op("upsert", lambda: api.upsert(sp, {"documents": rows}), None,
               lambda n: None if n == len(rows) else f"upserted {n} of {len(rows)}")
        self.upsert_bytes.append(max(0, dir_bytes(sp.path) - before))
        self._plan_chars()
        up_ids = [r["_id"] for r in rows]
        run.op("rw_get", lambda: api.query(sp, {"document_ids": up_ids}), collect,
               lambda got: self._get_check(up_ids, got))

    def delete(self) -> None:
        from vearch_spark import api

        d, sp, run = self.docs, self.space, self.run
        collect = lambda df: df.collect()  # noqa: E731
        gone = d.delete_some(3)
        run.op("delete", lambda: api.delete(sp, {"document_ids": gone}), None,
               lambda out: None if sorted(out) == sorted(gone)
               else f"deleted {sorted(out)}, asked {sorted(gone)}")
        self._plan_chars()
        run.op("rw_get", lambda: api.query(sp, {"document_ids": gone}), collect,
               lambda got: None if not got else f"deleted ids still read: {[r['_id'] for r in got]}",
               name="rw_get_deleted")

    def forcemerge(self) -> None:
        from vearch_spark import api

        sp, run = self.space, self.run
        before = dir_bytes(sp.path)
        run.op("forcemerge", lambda: api.index_forcemerge(sp), None,
               lambda n: None if isinstance(n, int) and n >= 0 else f"forcemerge returned {n!r}")
        self.reclaimed.append(max(0, before - dir_bytes(sp.path)))

    # ----------------------------------------------------------- checks

    def _ann_check(self, dist, rows) -> str | None:
        ids = [r["_id"] for r in rows]
        if len(ids) != K or len(set(ids)) != K:
            return f"{len(ids)} hits ({len(set(ids))} distinct), want {K}"
        self.recalls.append(recall(dist, self.docs, ids, K))
        return None

    def _filtered_check(self, dist, rows) -> str | None:
        for r in rows:
            if not (r["field_int"] < INT_CUT and r["field_string"] in STRING_SET):
                return f"hit {r['_id']} breaks the filter"
        pos = self.docs.position([r["_id"] for r in rows])
        if (pos < 0).any() or np.isinf(dist[pos]).any():
            return "a hit is not a live doc matching the filter"
        self.recalls.append(recall(dist, self.docs, [r["_id"] for r in rows], K))
        return None

    def _batch_check(self, dists, rows) -> str | None:
        by_q: dict[int, list[str]] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r["_id"])
        if sorted(by_q) != list(range(len(dists))):
            return f"answers for queries {sorted(by_q)}"
        for qid, ids in by_q.items():
            if len(ids) != K or len(set(ids)) != K:
                return f"query {qid}: {len(ids)} hits"
            self.recalls.append(recall(dists[qid], self.docs, ids, K))
        return None

    def _get_check(self, ids, rows) -> str | None:
        got = {r["_id"]: r for r in rows}
        missing = [i for i in ids if i not in got]
        if missing:
            return f"get missed ids {missing[:5]}"
        pos = self.docs.position(ids)
        for i, p in zip(ids, pos):
            if p < 0 or not self.docs.matches(int(p), got[i]):
                return f"get returned stale fields for {i}"
        return None

    def _plan_chars(self) -> None:
        model = self.space._indexes.get("field_vector")
        if model is not None and model.assigned is not None:
            self.plan_chars.append(len(model.assigned._jdf.queryExecution().logical().toString()))

    # ----------------------------------------------------------- metrics

    def layer_metrics(self) -> dict:
        stored = dir_bytes(self.space.path)
        return {
            "search.recall_at_10": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "ivf.plan_chars": float(self.plan_chars[-1]) if self.plan_chars else 0.0,
            "store.bytes_per_user_byte": stored / self.docs.user_bytes(),
            "upsert.bytes_written": float(np.median(self.upsert_bytes)) if self.upsert_bytes else 0.0,
            "forcemerge.bytes_reclaimed": float(np.median(self.reclaimed)) if self.reclaimed else 0.0,
            "setup.load_s": float(np.median(self.load_s)),
            "setup.index_s": float(np.median(self.index_s)),
        }
