"""DISKANN_STATIC — sharded Vamana graphs, the single-layer member of
the shard-graph core.

The reference serves DiskANN through its static wrapper
(`internal/engine/index/impl/diskann/gamma_index_diskann_static.cc`,
params `diskann_static_params.cc`: R, L, beam_width, l_search;
exercised by `test/test_vector_index_diskann_static.py`) — a
disk-resident Vamana graph (Subramanya et al., *DiskANN: Fast Accurate
Billion-point Nearest Neighbor Search on a Single Node*, NeurIPS 2019)
built once over the full partition ("static": no auto-build; the
forcemerge/rebuild verb triggers it).

DiskANN's GreedySearch (paper Algorithm 1) is HNSW's layer-0 beam, so a
Vamana shard is an `operators/hnsw.py` `_ShardGraph` — vector buffer,
beam, `load` with its link-id check, and `search` are shared — and
`DiskANNStaticIndex` is an `HNSWIndex` whose one hook, `_graph_builder`,
builds Vamana shards (sharding, the delta write path, the exact FLAT
merge and save/load are shared too). What differs is construction:

- **single layer**: every node lives at layer 0 and search starts at
  the shard **medoid** (the point closest to the shard mean), a pure
  function of the rows, so nothing extra persists;
- **build** (paper Algorithm 1): insertion in id order — for each
  point, a beam of width ``L`` from the medoid over the points inserted
  so far, **RobustPrune** (Algorithm 2) over what it expanded keeps
  ≤ ``R`` out-neighbors by the α-domination rule (drop v once a kept
  neighbor p* has ``α·d(p*, v) ≤ d(p, v)``), and reverse edges are
  added with the same prune on overflow. A second pass re-prunes every
  node with α > 1 (the paper's two-pass schedule), keeping long-range
  edges; a last repair links every node left without a path from the
  medoid, so an exhaustive beam visits every row;
- **static semantics**: a shard a fold touches is REBUILT from its
  live rows (the reference's static index likewise rebuilds on
  forcemerge, never splices).

The graph is a pure function of (rows, params): id-ordered insertion,
no RNG, so rebuilds, retries and save/load round-trips are
bit-identical, as for the HNSW and IVF families.
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd

from vearch_spark.operators.hnsw import (
    DELETED_COL,
    LAYER_COL,
    LINKS_COL,
    NODE_COL,
    HNSWIndex,
    _ShardGraph,
)
from vearch_spark.schema import ID_FIELD, Metric


class _VamanaShard(_ShardGraph):
    """One shard's Vamana graph: a one-layer :class:`_ShardGraph`
    entered at the medoid, whose insert rule is RobustPrune plus
    reverse edges. ``R`` is the base graph's ``m``, ``L`` its ``efc``.
    ``links`` adopts a stored adjacency; without it every row is stored
    with no edges and :meth:`build` links them."""

    def __init__(self, vecs: np.ndarray, metric: Metric, r: int, build_l: int,
                 alpha: float = 1.2, links: list | None = None):
        super().__init__(vecs.shape[1], metric, r, build_l)
        self.alpha = float(alpha)
        self._prune_shift: float | None = None  # lazy, IP prune only
        if links is None:
            links = [[[]] for _ in range(len(vecs))]
        self.load(vecs, [0] * len(vecs), links)

    def _entry_node(self) -> int:
        """The medoid: the point nearest the shard mean."""
        if not self.n:
            return -1
        return int(((self.vecs - self.vecs.mean(axis=0)) ** 2).sum(axis=1).argmin())

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

    def _robust_prune(self, p: int, pool: list[int], alpha: float) -> list[int]:
        """RobustPrune (paper Algorithm 2): keep the closest candidate,
        drop everything it α-dominates, repeat until R neighbors."""
        cand = sorted((set(pool) | set(self.links[p][0])) - {p})
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
            if len(out) >= self.m:
                break
            rest = alive.copy()
            rest[: i + 1] = False
            idx = np.nonzero(rest)[0]
            if len(idx):
                d_star = self._dist_prune(self.vecs[star], cand[idx])
                alive[idx[alpha * d_star <= dp[idx]]] = False
        return out

    def _insert(self, node: int, alpha: float) -> None:
        """Paper Algorithm 1 for one point: the beam over the nodes
        inserted so far, RobustPrune over what it expanded, then reverse
        edges, re-pruned on overflow."""
        visited: list[int] = []
        if node:  # from the medoid, or node 0 until the medoid is in
            start = self.entry if self.entry < node else 0
            self._search_layer(self.vecs[node], [start], self.efc, 0,
                               upto=node, expanded=visited)
        self.links[node][0] = self._robust_prune(node, visited, alpha)
        for nb in self.links[node][0]:
            nbl = self.links[nb][0]
            if node not in nbl:
                nbl.append(node)
                if len(nbl) > self.m:
                    self.links[nb][0] = self._robust_prune(nb, nbl, alpha)

    def build(self) -> None:
        # pass 1 (α = 1): nearest-first graph; pass 2 (α > 1): re-prune
        # with domination slack, keeping long-range navigation edges
        for node in range(self.n):
            self._insert(node, 1.0)
        if self.alpha > 1.0:
            for node in range(self.n):
                pool = self.links[node][0]
                if pool:
                    self.links[node][0] = self._robust_prune(node, pool, self.alpha)
        self._link_unreached()

    def _link_unreached(self) -> None:
        """Give every node a path from the medoid, out-lists kept ≤ R.
        RobustPrune can leave a node with no in-edge, and no search —
        not even an exhaustive beam — reaches it. Each unreached node,
        in node order, is linked from the nearest reached node with a
        free slot. When every reached list is full, the nearest reached
        node with an edge off the BFS tree from the medoid drops its
        farthest such edge instead; a tree edge is never dropped, so
        every reached node stays reached."""
        links = self.links
        deg = np.array([len(row[0]) for row in links], dtype=np.int64)
        parent = np.full(self.n, -1, dtype=np.int64)  # BFS tree; -1 unreached

        def reach(root: int) -> None:
            todo = deque([root])
            while todo:
                u = todo.popleft()
                for v in links[u][0]:
                    if parent[v] < 0:
                        parent[v] = u
                        todo.append(v)

        if self.n:
            parent[self.entry] = self.entry
            reach(self.entry)
        for orphan in range(self.n):
            if parent[orphan] >= 0:
                continue
            held = np.nonzero(parent >= 0)[0]
            d = self._dist_many(self.vecs[orphan], held)
            free = deg[held] < self.m
            if free.any():  # argmin: node-id ties, as held is ascending
                p = int(held[free][np.argmin(d[free])])
                deg[p] += 1
            else:  # all full: the nearest node with an edge off the tree
                for p in held[np.lexsort((held, d))].tolist():
                    spare = [v for v in links[p][0] if parent[v] != p]
                    if spare:
                        break
                far = self._dist_many(self.vecs[p], spare)
                links[p][0].remove(spare[int(np.argmax(far))])
            links[p][0].append(orphan)
            parent[orphan] = p
            reach(orphan)


def _build_vamana(
    pdf: pd.DataFrame, vector_col: str, id_col: str, metric: Metric,
    r: int, build_l: int, alpha: float,
) -> tuple[_VamanaShard, pd.DataFrame]:
    """(Re)build one shard. All rows stored (``_node >= 0``) → adopt
    the adjacency verbatim; ANY new row → full shard rebuild from the
    live rows, reclaiming the tombstoned ones (static index semantics —
    the reference's DiskANN static builds on forcemerge, it never
    splices into a built graph)."""
    ordered = pdf.sort_values(NODE_COL)
    fresh = (pdf[NODE_COL] < 0).any()
    if fresh:
        ordered = pdf[~pdf[DELETED_COL]].sort_values(id_col, kind="stable")
        if ordered[id_col].duplicated().any():
            raise ValueError("duplicate ids in DiskANN shard input")
    vecs = np.stack([np.asarray(v, dtype=np.float64) for v in ordered[vector_col]])
    links = None if fresh else list(ordered[LINKS_COL])
    g = _VamanaShard(vecs, metric, r, build_l, alpha, links=links)
    if fresh:
        g.build()
        out = ordered.copy()
        out[NODE_COL] = np.arange(len(out), dtype=np.int32)
        out[LAYER_COL] = np.zeros(len(out), dtype=np.int32)
        out[LINKS_COL] = [[list(map(int, row[0]))] for row in g.links]
    else:
        out = ordered
    return g, out


class DiskANNStaticIndex(HNSWIndex):
    """DISKANN_STATIC with the reference's knob names: ``R`` (degree),
    ``L`` (build beam), ``l_search`` (query beam), ``alpha``
    (domination slack), ``beam_width`` accepted-and-advisory (it tunes
    DiskANN's SSD IO pipelining; Spark's scan parallelism owns IO
    here). ``R``, ``L`` and ``l_search`` fill the base class's graph
    knobs; ``_params()`` dumps them under these names.

    Writes take the shared delta path unchanged: a STATIC index never
    splices into a built graph, and neither does a write here — rows
    are searchable at once from the delta, and the fold (the
    reference's explicit forcemerge verb, engine.cc:1013-1084) rebuilds
    each shard that holds delta rows."""

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

    def _graph_builder(self):
        vector_col, id_col = self.vector_col, self.id_col
        metric = self.metric
        r, build_l, alpha = self.nlinks, self.ef_construction, self.alpha

        def build(pdf: pd.DataFrame):
            return _build_vamana(pdf, vector_col, id_col, metric, r, build_l, alpha)

        return build
