"""DISKANN_STATIC — sharded Vamana graphs on the HNSW scaffolding.

The reference serves DiskANN through its static wrapper
(`internal/engine/index/impl/diskann/gamma_index_diskann_static.cc`,
params `diskann_static_params.cc`: R, L, beam_width, l_search;
exercised by `test/test_vector_index_diskann_static.py`) — a
disk-resident Vamana graph (Subramanya et al., *DiskANN: Fast Accurate
Billion-point Nearest Neighbor Search on a Single Node*, NeurIPS 2019)
built once over the full partition ("static": no auto-build; the
forcemerge/rebuild verb triggers it).

Here Vamana plugs into the sharded-graph scaffolding HNSW already
provides (`HNSWIndex._graph_builder` is the one hook): per-shard
graphs built in `applyInPandas`, hash routing, tombstone deletes,
candidate merge through the exact FLAT kernel, shard-partitioned
parquet save/load. What differs is the GRAPH FAMILY:

- **single layer**: no level draw — every node lives at layer 0, and
  search starts at the shard **medoid** (the point closest to the
  shard mean), recomputed from the stored vectors on load (a pure
  function of the rows, so nothing extra persists);
- **build** (paper Algorithm 1): insertion in id order — for each
  point, a greedy beam search from the medoid with beam ``L`` collects
  the visited set, **RobustPrune** (Algorithm 2) selects ≤ ``R``
  out-neighbors with the α-domination rule (drop v once a kept
  neighbor p* has ``α·d(p*, v) ≤ d(p, v)``), and reverse edges are
  added with the same prune on overflow. A second α-pass re-prunes
  every node — the paper's two-round schedule (α=1 then α>1) that
  keeps long-range edges for navigability;
- **static semantics**: a shard touched by add() is REBUILT from its
  rows (the reference's static index likewise rebuilds on forcemerge,
  never splices) — stored adjacency is reused only for untouched reads.

The graph is a pure function of (rows, params): id-ordered insertion,
no RNG, so rebuilds, retries and save/load round-trips are
bit-identical — the same determinism contract the HNSW and IVF
families carry.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd

from vearch_spark.operators.hnsw import (
    DELETED_COL,
    LAYER_COL,
    LINKS_COL,
    NODE_COL,
    HNSWIndex,
)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vearch_spark.filters import isin_sql
from vearch_spark.schema import ID_FIELD, Metric


class _VamanaShard:
    """One shard's Vamana graph, plain numpy — lives inside a task."""

    def __init__(self, vecs: np.ndarray, metric: Metric, r: int, build_l: int,
                 alpha: float = 1.2):
        self.vecs = np.ascontiguousarray(vecs, dtype=np.float64)
        self.metric = metric
        self.r = int(r)
        self.build_l = int(build_l)
        self.alpha = float(alpha)
        self.n = len(self.vecs)
        self._prune_shift: float | None = None  # lazy, IP prune only
        self.links: list[list[int]] = [[] for _ in range(self.n)]
        # medoid: the point nearest the shard mean — deterministic and
        # recomputable from the rows alone (nothing extra to persist)
        if self.n:
            mean = self.vecs.mean(axis=0)
            d = ((self.vecs - mean) ** 2).sum(axis=1)
            self.medoid = int(d.argmin())
        else:
            self.medoid = -1

    # -- distances: smaller is always better (IP negated, like HNSW) --
    def _dist_many(self, q: np.ndarray, nodes) -> np.ndarray:
        x = self.vecs[np.asarray(nodes, dtype=np.int64)]
        if self.metric is Metric.L2:
            d = x - q
            return np.einsum("ij,ij->i", d, d)
        return -(x @ q)

    def _dist_pair(self, a: int, b: np.ndarray) -> np.ndarray:
        return self._dist_many(self.vecs[a], b)

    def _dist_prune(self, q: np.ndarray, nodes) -> np.ndarray:
        """RobustPrune's geometry: metric distances made NONNEGATIVE.

        The α-domination rule assumes nonnegative metric distances
        (DiskANN §2): with IP's negated-inner-product surrogate,
        α·d(p*,v) ≤ d(p,v) INVERTS for negative values (multiplying a
        negative by α>1 loosens the bound instead of tightening it),
        which over-prunes exactly the dense same-cluster edges — on a
        clustered non-unit-norm corpus the inverted rule measures 0.075
        recall@10 vs 0.855 with this shift (and 1.0/1.0 on random
        corpora). The shift is the shard's max squared norm, an upper
        bound on |x·y| (|x·y| ≤ ‖x‖‖y‖ ≤ max‖·‖²), so shifted
        distances are ≥ 0 while the IP ORDERING — the geometry search
        navigates with — is untouched. A pure function of the rows, so
        the bit-identical-rebuild contract holds. L2 is already
        nonnegative and passes through unshifted."""
        d = self._dist_many(q, nodes)
        if self.metric is Metric.L2:
            return d
        if self._prune_shift is None:
            self._prune_shift = float((self.vecs**2).sum(axis=1).max())
        return d + self._prune_shift

    def _greedy(self, q: np.ndarray, ef: int, upto: int | None = None):
        """Greedy beam search from the medoid (paper Algorithm 1 /
        GreedySearch): returns (best, visited) — ``best`` is the beam's
        final (dist, node) list best-first, ``visited`` every expanded
        node (the RobustPrune candidate pool). ``upto`` restricts the
        graph to nodes < upto (build-time: only inserted prefix)."""
        limit = self.n if upto is None else int(upto)
        if limit <= 0 or self.medoid < 0:
            return [], []
        start = self.medoid if self.medoid < limit else 0
        visited = np.zeros(limit, dtype=bool)
        expanded: list[int] = []
        d0 = float(self._dist_many(q, [start])[0])
        cand = [(d0, start)]  # min-heap
        best = [(-d0, start)]  # max-heap (negated)
        visited[start] = True
        while cand:
            d, node = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break
            expanded.append(node)
            fresh = [x for x in self.links[node] if x < limit and not visited[x]]
            if not fresh:
                continue
            visited[np.asarray(fresh, dtype=np.int64)] = True
            nd = self._dist_many(q, fresh)
            bound = -best[0][0]
            for fd, fn in zip(nd, fresh):
                fd = float(fd)
                if len(best) < ef or fd < bound:
                    heapq.heappush(cand, (fd, fn))
                    heapq.heappush(best, (-fd, fn))
                    if len(best) > ef:
                        heapq.heappop(best)
                    bound = -best[0][0]
        out = [(-d, n) for d, n in best]
        out.sort(key=lambda t: (t[0], t[1]))
        return out, expanded

    def _robust_prune(self, p: int, pool: list[int], alpha: float) -> list[int]:
        """RobustPrune (paper Algorithm 2): keep the closest candidate,
        drop everything it α-dominates, repeat until R neighbors."""
        cand = sorted((set(pool) | set(self.links[p])) - {p})
        if not cand:
            return []
        cand = np.asarray(cand, dtype=np.int64)
        dp = self._dist_prune(self.vecs[p], cand)
        order = np.lexsort((cand, dp))  # by distance, node-id ties
        cand, dp = cand[order], dp[order]
        alive = np.ones(len(cand), dtype=bool)
        out: list[int] = []
        for i in range(len(cand)):
            if not alive[i]:
                continue
            star = int(cand[i])
            out.append(star)
            if len(out) >= self.r:
                break
            rest = alive.copy()
            rest[: i + 1] = False
            idx = np.nonzero(rest)[0]
            if len(idx):
                d_star = self._dist_prune(self.vecs[star], cand[idx])
                alive[idx[alpha * d_star <= dp[idx]]] = False
        return out

    def _insert(self, node: int, alpha: float) -> None:
        q = self.vecs[node]
        _, visited = self._greedy(q, self.build_l, upto=node)
        self.links[node] = self._robust_prune(node, visited, alpha)
        for nb in self.links[node]:
            nbl = self.links[nb]
            if node not in nbl:
                nbl.append(node)
                if len(nbl) > self.r:
                    self.links[nb] = self._robust_prune(nb, nbl, alpha)

    def build(self) -> None:
        # pass 1 (α = 1): nearest-first graph; pass 2 (α > 1): re-prune
        # with domination slack, keeping long-range navigation edges
        for node in range(self.n):
            self._insert(node, 1.0)
        if self.alpha > 1.0:
            for node in range(self.n):
                pool = self.links[node]
                if pool:
                    self.links[node] = self._robust_prune(node, pool, self.alpha)

    def load(self, links: list) -> None:
        """Adopt stored adjacency verbatim."""
        self.links = [list(map(int, row)) for row in links]

    def search(self, q: np.ndarray, ef: int, k: int) -> list[tuple[float, int]]:
        """The probe contract HNSWIndex._probe_udf expects:
        best-first (dist, node), ties by node."""
        best, _ = self._greedy(np.asarray(q, dtype=np.float64), max(ef, k))
        return best[:k]


def _build_vamana(
    pdf: pd.DataFrame, vector_col: str, id_col: str, metric: Metric,
    r: int, build_l: int, alpha: float,
) -> tuple[_VamanaShard, pd.DataFrame]:
    """(Re)build one shard. All rows stored (``_node >= 0``) → adopt
    the adjacency verbatim; ANY new row → full shard rebuild (static
    index semantics — the reference's DiskANN static builds on
    forcemerge, it never splices into a built graph)."""
    ordered = pdf.sort_values(NODE_COL)
    fresh = (pdf[NODE_COL] < 0).any()
    if fresh:
        ordered = pdf.sort_values(id_col, kind="stable")
        if ordered[id_col].duplicated().any():
            raise ValueError("duplicate ids in DiskANN shard input")
    vecs = np.stack([np.asarray(v, dtype=np.float64) for v in ordered[vector_col]])
    g = _VamanaShard(vecs, metric, r, build_l, alpha)
    if fresh:
        g.build()
        out = ordered.copy()
        out[NODE_COL] = np.arange(len(out), dtype=np.int32)
        out[LAYER_COL] = np.zeros(len(out), dtype=np.int32)
        out[LINKS_COL] = [[list(map(int, row))] for row in g.links]
    else:
        g.load([row[0] for row in ordered[LINKS_COL]])
        out = ordered
    return g, out


class DiskANNStaticIndex(HNSWIndex):
    """DISKANN_STATIC with the reference's knob names: ``R`` (degree),
    ``L`` (build beam), ``l_search`` (query beam), ``alpha``
    (domination slack), ``beam_width`` accepted-and-advisory (it tunes
    DiskANN's SSD IO pipelining; Spark's scan parallelism owns IO
    here). ``R``, ``L`` and ``l_search`` fill the base class's graph
    knobs; ``_params()`` dumps them under these names.

    **Staged appends** (static semantics, cheap ingest): a STATIC index
    never splices into a built graph — the reference rebuilds on the
    explicit forcemerge verb (engine.cc:1013-1084), not per add. So
    ``add()`` stages rows in a side buffer that searches EXACTLY
    (realtime-union pattern, streaming/realtime.py): candidates =
    graph probe ∪ buffer brute top-k, dedup by id with the buffer
    winning. Appends are searchable immediately at zero build cost;
    ``merge_staged()`` — the forcemerge hook — folds the buffer into
    its touched shards with the Vamana rebuild and clears it.
    ``needs_rebuild`` flags a non-empty buffer so operators know a
    merge is pending."""

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        R: int | None = None,
        L: int | None = None,
        l_search: int | None = None,
        alpha: float = 1.2,
        beam_width: int | None = None,  # accepted, advisory
        nshards: int | None = None,
        shard_max_rows: int = 65_536,
        id_col: str = ID_FIELD,
        **kw: object,
    ):
        super().__init__(
            vector_col,
            metric,
            nlinks=int(R if R is not None else 32),
            efConstruction=int(L if L is not None else 64),
            efSearch=int(l_search if l_search is not None else 64),
            nshards=nshards,
            shard_max_rows=shard_max_rows,
            id_col=id_col,
            **kw,
        )
        self.alpha = float(alpha)
        self.beam_width = beam_width
        # staged buffer = a list of individually persisted append
        # batches; _staged is their lazy union. Appends therefore cost
        # O(batch) — persist + count only the NEW rows — instead of
        # re-materializing the whole accumulated buffer every call
        # (which made k small appends cost O(k²) cumulative rows).
        # _STAGED_COMPACT bounds the per-part plan/scan overhead the
        # search-time union pays (measured at 100k×64: search crept
        # 1.6 s → 3.5 s between 6 and 24 live parts while appends
        # stayed flat at ~0.4 s) — past that many parts the union is
        # materialized into one (amortized O(rows/16) per append).
        self._staged_parts: list[DataFrame] = []
        self._staged: DataFrame | None = None

    _STAGED_COMPACT = 16

    def _params(self) -> dict:
        params = super()._params()
        params.update(
            R=params.pop("nlinks"),
            L=params.pop("efConstruction"),
            l_search=params.pop("efSearch"),
            alpha=self.alpha,
            beam_width=self.beam_width,
        )
        return params

    # ------------------------------------------------------ staged buffer

    def fit(self, df: DataFrame) -> "DiskANNStaticIndex":
        self._drop_staged()
        super().fit(df)
        return self

    def _set_parts(self, parts: list[DataFrame]) -> None:
        self._staged_parts = parts
        if not parts:
            self._staged = None
            return
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        self._staged = u

    def _compact_staged(self) -> None:
        """Materialize the part union into a single persisted part."""
        merged = self._staged.persist()
        merged.count()
        for p in self._staged_parts:
            p.unpersist()
        self._set_parts([merged])

    def add(self, df: DataFrame) -> "DiskANNStaticIndex":
        """Stage rows instead of rebuilding touched shards: a 1000-row
        append on a 100k index cost a 42.8 s shard rebuild before; now
        it persists just the incoming batch (searchable immediately via
        the part union), and the rebuild happens once on
        :meth:`merge_staged` (the forcemerge verb)."""
        if self._graph is None:
            from vearch_spark.errors import SearchError

            raise SearchError("index not trained")
        batch = df.persist()
        batch.count()
        self._set_parts(self._staged_parts + [batch])
        if len(self._staged_parts) >= self._STAGED_COMPACT:
            self._compact_staged()
        self.needs_rebuild = True
        return self

    def remove(self, ids) -> "DiskANNStaticIndex":
        """Graph rows tombstone (inherited bitmap semantics); staged
        rows — not yet in any graph — simply drop from the buffer."""
        if self._staged is not None:
            if isinstance(ids, DataFrame):
                key = ids.select(
                    F.col(ids.columns[0]).alias(self.id_col)
                ).distinct()
                kept = self._staged.join(
                    F.broadcast(key), on=self.id_col, how="left_anti"
                )
            else:
                kept = self._staged.where(f"NOT ({isin_sql(self.id_col, list(ids))})")
            kept = kept.persist()
            kept.count()
            for p in self._staged_parts:
                p.unpersist()
            self._set_parts([kept])
        super().remove(ids)
        return self

    def merge_staged(self) -> "DiskANNStaticIndex":
        """Fold the staged buffer into its hash shards — the per-shard
        Vamana rebuild the reference runs on forcemerge — and clear the
        buffer. No-op when nothing is staged. Failure-safe: if the
        rebuild job dies mid-flight, the buffer and the rebuild flag
        are restored so the rows stay searchable and the forcemerge is
        retryable (previously they silently vanished)."""
        if self._staged is None:
            return self
        staged, parts = self._staged, self._staged_parts
        self._set_parts([])
        self.needs_rebuild = False  # before add(): shard overflow re-flags
        try:
            super().add(staged)  # touched-shard rebuild
        except BaseException:
            self._set_parts(parts)
            self.needs_rebuild = True
            raise
        for p in parts:
            p.unpersist()
        return self

    def _drop_staged(self) -> None:
        for p in self._staged_parts:
            p.unpersist()
        self._set_parts([])

    def unpersist(self) -> None:
        self._drop_staged()
        super().unpersist()

    def _candidates(
        self,
        queries: list[list[float]],
        ef: int,
        k: int,
        flt: Column | None = None,
    ) -> DataFrame:
        """Graph candidates ∪ exact top-k over the staged buffer, dedup
        by id with the buffer winning (an id staged after its graph row
        was tombstone-updated must surface the NEW vector)."""
        from vearch_spark.functions.distance import score_expr
        from vearch_spark.operators.topk import _top_per_key

        cand = super()._candidates(queries, ef, k, flt=flt)
        if self._staged is None:
            return cand
        buf = self._staged
        if flt is not None:
            buf = buf.where(flt)
        spark = buf.sparkSession
        qdf = spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
            "query_id int, __qv array<double>",
        )
        scored = buf.crossJoin(F.broadcast(qdf)).withColumn(
            "__d", score_expr(self.vector_col, "__qv", self.metric)
        )
        buf_top = _top_per_key(
            scored, "query_id", self.metric, "__d", self.id_col, k
        ).drop("__qv", "__d", "_rank")
        buf_ids = self._staged.select(self.id_col).distinct()
        cand = cand.join(F.broadcast(buf_ids), on=self.id_col, how="left_anti")
        return cand.unionByName(buf_top.select(*cand.columns))

    def _graph_builder(self):
        vector_col, id_col = self.vector_col, self.id_col
        metric = self.metric
        r, build_l, alpha = self.nlinks, self.ef_construction, self.alpha

        def build(pdf: pd.DataFrame):
            return _build_vamana(pdf, vector_col, id_col, metric, r, build_l, alpha)

        return build

    def save(self, path: str) -> None:
        """The graph dump (``HNSWIndex.save``) plus the staged buffer
        under ``staged/``."""
        import os

        super().save(path)
        staged_dir = os.path.join(path, "staged")
        if self._staged is not None:
            self._staged.write.mode("overwrite").parquet(staged_dir)
        elif os.path.isdir(staged_dir):
            # a previous save of this path staged rows that have since
            # been merged — leaving the directory would resurrect them
            # on load as duplicate live rows next to their graph copies
            import shutil

            shutil.rmtree(staged_dir)

    @classmethod
    def load(cls, spark, path: str) -> "DiskANNStaticIndex":
        import os

        idx = super().load(spark, path)
        staged_dir = os.path.join(path, "staged")
        if os.path.isdir(staged_dir):
            part = spark.read.parquet(staged_dir).persist()
            part.count()
            idx._set_parts([part])
            idx.needs_rebuild = True
        return idx
