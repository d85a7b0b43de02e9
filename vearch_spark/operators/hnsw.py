"""HNSW graph ANN index — sharded, Spark-native.

The reference serves HNSW through hnswlib, one in-memory graph per
partition-server shard, with the router k-way-merging per-shard top-k
(gamma registration ``hnswlib/gamma_index_hnswlib.cc:130``; params
``nlinks``/``efConstruction``/``efSearch`` validated at
``internal/entity/space.go:345-374``). That per-shard-graph + global
merge architecture is exactly reproducible on Spark, and this module
does it without any native library:

- **shard**: rows are hash-sharded by id (``pmod(xxhash64(id), n)``) —
  deterministic and layout-independent, the analog of the reference's
  murmur3 slot routing (``client.go:245``). Each shard's graph must fit
  one task's memory AND build in bounded task time; ``shard_max_rows``
  bounds both (default 64k rows ≈ 2-3 min construction at the measured
  ~2 ms/insert numpy constant factor; memory is never binding first).
  100 TB = more shards, not bigger ones; shards build and search fully
  parallel across executors.
- **build**: one ``applyInPandas`` per shard runs the public
  Malkov–Yashunin construction (TPAMI 2018, Algorithms 1-4: level draw
  ``floor(-ln(u)·mL)``, greedy upper-layer descent, ef_construction
  beam, heuristic neighbor selection with pruned-fill). The level draw
  hashes the doc id instead of consuming an RNG stream and inserts are
  id-ordered, so the graph is a pure function of (rows, params) —
  rebuilds and retries are bit-identical.
- **search**: one ``applyInPandas`` over the same persisted, shard-
  partitioned relation (the grouping exchange is elided — plan-asserted
  in tests/test_hnsw.py::test_search_plan_no_exchange_over_graph) runs
  beam search per shard and emits each shard's top-ef *full rows*; the
  global merge is the existing exact FLAT kernel (``topk.search``) over
  that tiny candidate relation, so scores, tie-breaks, projection,
  score bands, offset and filters are shared with every other verified
  search path. Filters are evaluated JVM-side into a per-row allow flag
  BEFORE the probe, and the per-shard beam search widens ``ef``
  (doubling, capped at the shard size) until it has ``k`` allowed hits
  or has seen the whole shard — the reference's filter-during-traversal
  semantics (every ANN candidate is checked against the filter docid
  set and traversal continues until enough valid hits,
  ``SearchCondition::IsValid`` gamma_common_data.h:98-106), so
  selective filters return k matching rows whenever the shard holds
  them among the layer-0-reachable nodes (connectivity of built
  graphs is pinned by tests/test_hnsw.py::test_graph_connected_layer0;
  a node isolated by heuristic pruning — the known HNSW edge case —
  is missable by ANY graph traversal, exactly as in the reference),
  never a post-filtered near-empty page.
- **writes** (the shared ``topk.DeltaIndex`` path): a written row joins
  the delta, scored exactly beside the graph probe; a written or
  deleted id is a tombstone, flagged ``_deleted`` at probe time, so the
  node stays a routing waypoint and never surfaces — precisely the
  reference's delete bitmap (``Engine::Delete`` engine.cc:869-900 sets
  a bit; search skips marked docids).
- **fold**: delta rows hash to their shards; only those shards are
  regrown (reconstruct adjacency from the stored rows, insert the new
  nodes id-ordered) — the untouched shards' rows are reused as-is. This
  is the reference's background ``Indexing()`` incremental add
  (engine.cc:1084-1138) with bounded rewrite, never a full retrain.
"""

from __future__ import annotations

import heapq
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from vearch_spark.errors import SearchError
from vearch_spark.filters import isin_sql
from vearch_spark.operators.topk import DeltaIndex
from vearch_spark.schema import ID_FIELD, Metric

SHARD_COL = "_shard"
NODE_COL = "_node"
LAYER_COL = "_layer"
LINKS_COL = "_links"
DELETED_COL = "_deleted"
ALLOWED_COL = "_allowed"
_GRAPH_COLS = (SHARD_COL, NODE_COL, LAYER_COL, LINKS_COL, DELETED_COL)


def _level_of(doc_id: str, m_l: float) -> int:
    """Deterministic HNSW level draw: hash the id to u ∈ (0,1], return
    ``floor(-ln(u)·mL)`` (the paper's exponential level distribution,
    with the RNG stream replaced by an id hash so insertion is
    order- and retry-independent)."""
    import hashlib

    h = int.from_bytes(
        hashlib.blake2b(str(doc_id).encode(), digest_size=8).digest(), "big"
    )
    u = (h + 1) / float(1 << 64)  # (0, 1]
    return int(-math.log(u) * m_l)


class _ShardGraph:
    """One shard's HNSW graph, plain numpy — lives inside a task. The
    core of the graph family: operators/vamana.py's ``_VamanaShard`` is
    its one-layer subclass.

    Vector storage is a preallocated doubling buffer (vstack-per-insert
    is O(n²) copying), and the selection heuristic computes ONE pairwise
    BLAS block per call instead of a numpy call per candidate — together
    these take construction from ~15 ms to ~1-2 ms per insert."""

    def __init__(self, dim: int, metric: Metric, m: int, ef_construction: int):
        self.metric = metric
        self.m = int(m)
        self.m0 = 2 * int(m)  # layer-0 degree, hnswlib convention
        self.efc = int(ef_construction)
        self.m_l = 1.0 / math.log(self.m)
        self._buf = np.empty((1024, dim), dtype=np.float64)
        # visited stamps for _search_layer: seen[node] == current epoch
        # means visited — one persistent array instead of a fresh
        # len(levels) bool allocation per layer search
        self._seen = np.zeros(1024, dtype=np.int64)
        self._epoch = 0
        self.n = 0
        self.levels: list[int] = []
        # links[node][layer] = list[int] neighbor node ids
        self.links: list[list[list[int]]] = []
        self.entry = -1

    @property
    def vecs(self) -> np.ndarray:
        return self._buf[: self.n]

    def _append_vec(self, vec: np.ndarray) -> None:
        if self.n == len(self._buf):
            grown = np.empty((2 * len(self._buf), self._buf.shape[1]), dtype=np.float64)
            grown[: self.n] = self._buf
            self._buf = grown
            # carry the old stamps into the grown array: correctness
            # then never rests on "growth never happens mid-search"
            seen = np.zeros(len(self._buf), dtype=np.int64)
            seen[: len(self._seen)] = self._seen
            self._seen = seen
        self._buf[self.n] = vec
        self.n += 1

    def load(self, vecs: np.ndarray, levels: list[int], links: list) -> None:
        """Adopt a stored graph verbatim (read-mostly fast path: link
        rows may stay numpy arrays until an insert mutates them).
        Link ids are validated once here: the hot path indexes the raw
        buffer, so a corrupt stored graph whose links point past the
        vector count (or below 0, which numpy indexing wraps) must fail
        loudly at load time, not read wrong buffer rows during search."""
        rows = [row for node_links in links for row in node_links if len(row)]
        ids = np.concatenate(rows) if rows else np.zeros(0, dtype=np.int64)
        bad = ids[(ids < 0) | (ids >= len(vecs))]
        if len(bad):
            raise ValueError(
                f"corrupt graph: link id {int(bad[0])} outside [0, {len(vecs)})"
            )
        self._buf = np.ascontiguousarray(vecs, dtype=np.float64)
        self._seen = np.zeros(max(len(vecs), 1), dtype=np.int64)
        self._epoch = 0
        self.n = len(vecs)
        self.levels = list(levels)
        self.links = links
        self.entry = self._entry_node()

    def _entry_node(self) -> int:
        """Where every search starts: the first top-level node."""
        return int(np.argmax(self.levels)) if self.levels else -1

    # -- distances: smaller is always better (IP negated) --
    def _dist_many(self, q: np.ndarray, nodes) -> np.ndarray:
        x = self._buf[np.asarray(nodes, dtype=np.int64)]
        if self.metric is Metric.L2:
            d = x - q
            return np.einsum("ij,ij->i", d, d)
        return -(x @ q)

    def _search_layer(
        self, q: np.ndarray, eps: list[int], ef: int, layer: int,
        upto: int | None = None, expanded: list[int] | None = None,
    ) -> list[tuple[float, int]]:
        """Beam search (paper Algorithm 2; DiskANN's GreedySearch is
        the same beam on one layer). Returns ef (dist, node) pairs, best
        first. ``upto`` walks only nodes below it (``eps`` must be);
        ``expanded``, if given, collects the expanded nodes in pop
        order."""
        self._epoch += 1
        epoch = self._epoch
        seen = self._seen
        eps_arr = np.asarray(eps, dtype=np.int64)
        dists = self._dist_many(q, eps_arr)
        cand: list[tuple[float, int]] = []  # min-heap
        best: list[tuple[float, int]] = []  # max-heap via negated dist
        seen[eps_arr] = epoch
        for d, n in zip(dists.tolist(), eps):
            heapq.heappush(cand, (d, n))
            heapq.heappush(best, (-d, n))
        while len(best) > ef:
            heapq.heappop(best)
        links = self.links
        while cand:
            d, n = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break
            if expanded is not None:
                expanded.append(n)
            nbrs = links[n][layer]
            if not len(nbrs):
                continue
            nb = np.asarray(nbrs, dtype=np.int64)
            if upto is not None:
                nb = nb[nb < upto]
            fresh = nb[seen[nb] != epoch]
            if not len(fresh):
                continue
            seen[fresh] = epoch
            nd = self._dist_many(q, fresh)
            bound = -best[0][0]
            for fd, fn in zip(nd.tolist(), fresh.tolist()):
                if len(best) < ef or fd < bound:
                    heapq.heappush(cand, (fd, fn))
                    heapq.heappush(best, (-fd, fn))
                    if len(best) > ef:
                        heapq.heappop(best)
                    bound = -best[0][0]
        out = [(-d, n) for d, n in best]
        out.sort(key=lambda t: (t[0], t[1]))
        return out

    def _select_heuristic(
        self, q: np.ndarray, cands: list[tuple[float, int]], m: int
    ) -> list[int]:
        """Paper Algorithm 4 / hnswlib getNeighborsByHeuristic2: keep a
        candidate only if it is closer to q than to every kept neighbor
        (diversity pruning), then fill to m with the pruned ones. The
        candidate×candidate distance block is ONE BLAS call; the scan
        itself touches only the precomputed matrix."""
        if len(cands) <= m:
            return [n for _, n in cands]
        nodes = np.fromiter((n for _, n in cands), dtype=np.int64, count=len(cands))
        d_q = np.fromiter((d for d, _ in cands), dtype=np.float64, count=len(cands))
        x = self.vecs[nodes]
        if self.metric is Metric.L2:
            sq = np.einsum("ij,ij->i", x, x)
            pair = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
        else:
            pair = -(x @ x.T)
        # running min-distance-to-any-kept vector: one tiny vector op
        # per KEPT candidate, a scalar test per candidate — instead of
        # an indexed-slice + .any() per candidate
        min_to_kept = np.full(len(nodes), np.inf)
        kept: list[int] = []
        pruned: list[int] = []
        for i in range(len(nodes)):  # cands already sorted best-first
            if len(kept) >= m:
                break
            if min_to_kept[i] < d_q[i]:
                pruned.append(i)
                continue
            kept.append(i)
            np.minimum(min_to_kept, pair[i], out=min_to_kept)
        for i in pruned:
            if len(kept) >= m:
                break
            kept.append(i)
        return [int(nodes[i]) for i in kept]

    def _mutable_links(self, node: int) -> list[list[int]]:
        """Loaded link rows arrive as numpy arrays (read-only fast
        path); convert to python lists on first mutation."""
        row = self.links[node]
        if not isinstance(row, list) or (len(row) and not isinstance(row[0], list)):
            row = [list(map(int, layer)) for layer in row]
            self.links[node] = row
        return row

    def _shrink(self, node: int, layer: int) -> None:
        """Re-select an overflowing neighbor list down to cap. Runs
        with SLACK (cap + max(8, cap/4)) rather than strictly at cap:
        reverse-link appends between shrinks are O(1), cutting heuristic
        invocations ~8× — the dominant Python constant factor — while
        staying a deterministic function of insertion order (recall is
        gated in tests either way; hnswlib shrinks strictly at cap)."""
        cap = self.m0 if layer == 0 else self.m
        nbrs = self.links[node][layer]
        if len(nbrs) <= cap + max(8, cap // 4):
            return
        d = self._dist_many(self.vecs[node], nbrs)
        order = np.argsort(d, kind="stable")
        cands = [(float(d[i]), int(nbrs[i])) for i in order]
        self.links[node][layer] = self._select_heuristic(self.vecs[node], cands, cap)

    def insert(self, vec: np.ndarray, level: int) -> int:
        node = self.n
        self._append_vec(vec)
        self.levels.append(level)
        self.links.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry = node
            return node
        ep = [self.entry]
        top = self.levels[self.entry]
        q = vec
        for layer in range(top, level, -1):
            ep = [self._search_layer(q, ep, 1, layer)[0][1]]
        for layer in range(min(top, level), -1, -1):
            w = self._search_layer(q, ep, self.efc, layer)
            cap = self.m0 if layer == 0 else self.m
            nbrs = self._select_heuristic(q, w, cap)
            self.links[node][layer] = list(nbrs)
            for nb in nbrs:
                self._mutable_links(nb)[layer].append(node)
                self._shrink(nb, layer)
            ep = [n for _, n in w]
        if level > top:
            self.entry = node
        return node

    def search(self, q: np.ndarray, ef: int, k: int) -> list[tuple[float, int]]:
        if self.entry < 0:
            return []
        ep = [self.entry]
        for layer in range(self.levels[self.entry], 0, -1):
            ep = [self._search_layer(q, ep, 1, layer)[0][1]]
        found = self._search_layer(q, ep, max(ef, k), 0)
        return found[:k]


def _build_graph(
    pdf: pd.DataFrame, vector_col: str, id_col: str, metric: Metric,
    m: int, efc: int,
) -> tuple[_ShardGraph, pd.DataFrame]:
    """(Re)grow a shard graph from a pandas shard. Rows with
    ``_node >= 0`` carry a stored adjacency and are loaded verbatim;
    rows with ``_node < 0`` are new and inserted id-ordered."""
    dim = len(pdf[vector_col].iloc[0])
    g = _ShardGraph(dim, metric, m, efc)
    old = pdf[pdf[NODE_COL] >= 0].sort_values(NODE_COL)
    if len(old):
        g.load(
            np.stack([np.asarray(v, dtype=np.float64) for v in old[vector_col]]),
            [int(x) for x in old[LAYER_COL]],
            list(old[LINKS_COL]),  # numpy rows; made mutable on demand
        )
    new = pdf[pdf[NODE_COL] < 0].sort_values(id_col, kind="stable")
    if len(new) and new[id_col].duplicated().any():
        # duplicate ids would make insertion order depend on Spark
        # arrival order, breaking the graph's pure-function-of-rows
        # guarantee (rebuild determinism, save/load round-trips)
        raise ValueError("duplicate ids in HNSW shard input")
    if not len(new):
        return g, old
    node_ids = list(old[NODE_COL].astype(int)) if len(old) else []
    inserted = []
    for _, row in new.iterrows():
        lvl = _level_of(row[id_col], g.m_l)
        node = g.insert(np.asarray(row[vector_col], dtype=np.float64), lvl)
        node_ids.append(node)
        inserted.append(row)
    rows = [old] if len(old) else []
    out = pd.concat(rows + [pd.DataFrame(inserted)])
    out[NODE_COL] = np.asarray(node_ids, dtype=np.int32)
    # adjacency may have changed for OLD nodes too (bidirectional links)
    out = out.sort_values(NODE_COL)
    out[LAYER_COL] = np.asarray(g.levels, dtype=np.int32)
    out[LINKS_COL] = [
        [list(map(int, layer)) for layer in g.links[i]] for i in range(len(g.levels))
    ]
    return g, out


class HNSWIndex(DeltaIndex):
    """Sharded HNSW with the IVF-family index surface (fit/add/remove/
    replace/search/search_batch/save/load, with the same search
    keywords), so `Space` makes one call for every index family.
    Writes go through the shared
    :class:`~vearch_spark.operators.topk.DeltaIndex` path: searches
    probe the graph base and score the delta exactly, and a fold
    regrows only the shards holding delta rows."""

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        nlinks: int = 16,
        efConstruction: int = 100,
        efSearch: int = 64,
        nshards: int | None = None,
        shard_max_rows: int = 65_536,
        id_col: str = ID_FIELD,
        **_: object,
    ):
        if not 2 <= int(nlinks) <= 96:
            # space.go:345-374 validates nlinks ∈ [8,96]; allow small m
            # for tiny test graphs but keep the upper bound
            raise SearchError(f"nlinks out of range: {nlinks}")
        self.vector_col = vector_col
        self.metric = Metric(metric)
        self.nlinks = int(nlinks)
        self.ef_construction = int(efConstruction)
        self.ef_search = int(efSearch)
        self.nshards = nshards
        self._auto_shards = nshards is None  # re-size on every refit
        self.shard_max_rows = int(shard_max_rows)
        # no seed knob: the graph is deliberately a pure function of
        # (rows, params) — the level draw hashes doc ids, inserts are
        # id-ordered — so rebuilds, retries and save/load round-trips
        # are bit-identical without any RNG state to persist
        self._out_schema: str | None = None
        self._base_schema: str | None = None
        self._columns: list[str] | None = None  # the graph relation's order
        super().__init__(id_col)

    # ------------------------------------------------------------ build

    def _shard_expr(self) -> Column:
        n = int(self.nshards or 1)
        return F.pmod(
            F.xxhash64(F.col(self.id_col).cast("string")), F.lit(n)
        ).cast("int")

    def _graph_schema(self, df: DataFrame) -> str:
        base = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
        self._base_schema = base
        self._columns = [*df.columns, *_GRAPH_COLS]
        return (
            f"{base}, {SHARD_COL} int, {NODE_COL} int, {LAYER_COL} int, "
            f"{LINKS_COL} array<array<int>>, {DELETED_COL} boolean"
        )

    def _graph_builder(self):
        """The ONE hook per-shard graph construction goes through — a
        picklable ``pdf -> (graph, node-ordered rows)`` closure shared
        by the grow and probe UDFs, where ``graph`` is a
        :class:`_ShardGraph` (the probe calls its ``search`` and ``.n``).
        A subclass substitutes its graph's construction rule here
        (operators/vamana.py: one layer, a medoid entry, RobustPrune
        inserts) and inherits the search and every DataFrame-side
        behavior: sharding, writes and folds, candidate merge,
        save/load."""
        vector_col, id_col = self.vector_col, self.id_col
        metric, m, efc = self.metric, self.nlinks, self.ef_construction

        def build(pdf: pd.DataFrame):
            return _build_graph(pdf, vector_col, id_col, metric, m, efc)

        return build

    def _grow_udf(self):
        build = self._graph_builder()

        def grow(pdf: pd.DataFrame) -> pd.DataFrame:
            _, out = build(pdf)
            return out

        return grow

    def _seed(self, df: DataFrame) -> DataFrame:
        """Attach the shard id and empty graph columns to raw rows
        (``_node = -1`` marks a row the grow UDF must insert)."""
        return (
            df.withColumn(SHARD_COL, self._shard_expr())
            .withColumn(NODE_COL, F.lit(-1))
            .withColumn(LAYER_COL, F.lit(-1))
            .withColumn(LINKS_COL, F.lit(None).cast("array<array<int>>"))
            .withColumn(DELETED_COL, F.lit(False))
        )

    def _grow(self, rows: DataFrame) -> DataFrame:
        """Grow the shards of seeded ``rows``. Callers repartition the
        result by shard BEFORE caching: searches groupBy(_shard) and
        Catalyst elides the exchange when the relation is already
        hash-partitioned on it — zero-shuffle search."""
        return rows.groupBy(SHARD_COL).applyInPandas(self._grow_udf(), self._out_schema)

    def fit(self, df: DataFrame) -> "HNSWIndex":
        reserved = {*_GRAPH_COLS, ALLOWED_COL, "query_id"} & set(df.columns)
        if reserved:
            # these names are the index's internal plumbing; a user
            # column would be silently consumed as a filter/graph flag
            raise SearchError(f"reserved column names in input: {sorted(reserved)}")

        def train(ix: "HNSWIndex") -> DataFrame:
            if ix._auto_shards or ix.nshards is None:
                # auto-sized indexes RE-size on every refit — fit() is the
                # documented rebuild remedy when writes outgrow the
                # envelope, so it must actually grow the shard count
                ix.nshards = max(1, math.ceil(df.count() / ix.shard_max_rows))
            ix._out_schema = ix._graph_schema(df)
            return ix._grow(ix._seed(df)).repartition(F.col(SHARD_COL)).persist()

        return self._refit(train)

    def _fold_base(self, drop, add):
        """Flag the tombstones (and the ids in ``drop``) deleted, then
        regrow only the shards that hold delta rows: new nodes are
        spliced into the stored graph (the reference's background
        Indexing() add, engine.cc:1084-1138), while a shard whose dead
        share passed ``FOLD_SHARE`` is regrown WITHOUT its dead rows —
        ForceMerge reclaiming the delete bitmap (Engine::RebuildIndex
        engine.cc:1013-1084), scoped to the shards that need it. The
        shard count is fixed at fit (routing must agree with the stored
        labels), so a shard past 2×``shard_max_rows`` flags
        :attr:`needs_rebuild`: the resize path is a refit."""
        flagged = self._base
        fresh = self._delta()
        dead = self._tombstoned()
        if dead is not None:
            flagged = flagged.withColumn(DELETED_COL, F.col(DELETED_COL) | F.expr(dead))
        if drop is not None:
            key = drop.select(F.col(drop.columns[0]).alias("__rm_id")).distinct()
            flagged = (
                flagged.join(
                    F.broadcast(key.withColumn("__rm", F.lit(True))),
                    on=F.col(self.id_col) == F.col("__rm_id"),
                    how="left",
                )
                .withColumn(DELETED_COL, F.col(DELETED_COL) | F.coalesce("__rm", F.lit(False)))
                .drop("__rm_id", "__rm")
            )
            if fresh is not None:
                fresh = fresh.join(
                    F.broadcast(key), on=F.col(self.id_col) == F.col("__rm_id"), how="left_anti"
                )
        if add is not None:
            fresh = add if fresh is None else fresh.unionByName(add)
        if fresh is not None:
            fresh = self._seed(fresh)
        # one job, one row per shard: its size, dead count and new rows
        sizes = flagged.select(SHARD_COL, F.col(DELETED_COL).cast("int").alias("d"),
                               F.lit(0).alias("f"))
        if fresh is not None:
            sizes = sizes.unionByName(fresh.select(SHARD_COL, F.lit(0).alias("d"),
                                                   F.lit(1).alias("f")))
        stats = sizes.groupBy(SHARD_COL).agg(
            F.count("*").alias("n"), F.sum("d").alias("d"), F.sum("f").alias("f")
        ).collect()
        clean = [r[0] for r in stats if r["d"] > self.FOLD_SHARE * (r["n"] - r["f"])]
        splice = [r[0] for r in stats if r["f"] and r[0] not in clean]
        after = [r["n"] - (r["d"] if r[0] in clean else 0) for r in stats]
        outgrown = bool(after) and max(after) > 2 * self.shard_max_rows
        grown = flagged
        if clean or splice:
            regrow = flagged.where(isin_sql(SHARD_COL, splice)).unionByName(
                self._seed(
                    flagged.where(f"{isin_sql(SHARD_COL, clean)} AND NOT {DELETED_COL}")
                    .drop(*_GRAPH_COLS)
                )
            )
            if fresh is not None:
                regrow = regrow.unionByName(fresh)
            keep = flagged.where(f"NOT ({isin_sql(SHARD_COL, clean + splice)})")
            grown = keep.unionByName(self._grow(regrow))
        # a checkpoint forgets the shard partitioning under AQE, so the
        # layout step runs over it: the cache then reports it, as fit's
        base = (
            grown.localCheckpoint(eager=True).repartition(F.col(SHARD_COL)).persist()
        )
        return base, base.count(), outgrown

    # ---------------------------------------------------------- search

    def _probe_udf(self, queries: list[list[float]], ef: int, k: int):
        """Per-shard beam search for a query batch; emits each shard's
        top-k FULL rows per query, tagged with query_id — the global
        merge rescans nothing.

        Tombstoned AND filter-disallowed nodes route but never surface:
        the beam widens (ef doubling, capped at the shard size) until k
        valid hits are found or the whole shard has been beamed — so a
        selective filter yields k matching rows whenever the shard
        holds that many, with cost degrading gracefully toward a shard
        scan exactly when the filter leaves little else (the behavior
        an exact pre-filtered scan would have anyway). The initial
        over-fetch for tombstones is BOUNDED at ef: the fold keeps the
        dead share of a shard near ``FOLD_SHARE``, so one widening step
        is the common case even under churn."""
        build = self._graph_builder()
        qs = [np.asarray(q, dtype=np.float64) for q in queries]

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            # node ids are dense 0..n-1 within a shard (deletes only
            # flag; a regrow renumbers), so position == node id; the
            # builder's second return is already NODE_COL-sorted
            g, ordered = build(pdf)
            ordered = ordered.reset_index(drop=True)
            ok = ~ordered[DELETED_COL].to_numpy()
            if ALLOWED_COL in ordered.columns:
                ok = ok & ordered[ALLOWED_COL].fillna(False).to_numpy(dtype=bool)
            total_ok = int(ok.sum())
            frames = []
            if total_ok:
                target = min(k, total_ok)
                ef0 = ef + min(int((~ok).sum()), ef)
                for qid, q in enumerate(qs):
                    ef_eff = ef0
                    while True:
                        hits = g.search(q, ef_eff, ef_eff)
                        idx = [n for _, n in hits if ok[n]][:k]
                        if len(idx) >= target or ef_eff >= g.n:
                            break
                        ef_eff = min(2 * ef_eff, g.n)
                    if not idx:
                        continue
                    out = ordered.iloc[idx].copy()
                    out["query_id"] = qid
                    frames.append(out)
            # emit candidates WITHOUT the graph columns: shipping the
            # adjacency arrays back through Arrow dominated batch-search
            # wall time (measured 17 s → ~1 s at 100k×8 shards)
            drop = [c for c in (*_GRAPH_COLS, ALLOWED_COL) if c in pdf.columns]
            if not frames:
                empty = pdf.head(0).drop(columns=drop).copy()
                empty["query_id"] = pd.Series([], dtype="int32")
                return empty
            return pd.concat(frames).drop(columns=drop)

        return probe

    def _candidates(
        self,
        queries: list[list[float]],
        ef: int,
        k: int,
        flt: Column | None = None,
    ) -> DataFrame:
        """Graph candidates from the base, with the tombstones OR-ed
        into ``_deleted``, ∪ every delta row for every query (the
        ``DeltaIndex.live`` union, with the base side probed): the
        caller's exact merge scores them, and the fold bound keeps them
        few. A written id is tombstoned in the base, so only its delta
        version can surface. All three come from one published state,
        so a concurrent write or fold never splits them."""
        s = self._state
        if s.base is None:
            raise SearchError("index not trained")
        schema = self._base_schema + ", query_id int"
        g = s.base
        dead = self._tombstoned(s)
        if dead is not None:
            g = g.withColumn(DELETED_COL, F.col(DELETED_COL) | F.expr(dead))
        if flt is not None:
            # evaluate the predicate JVM-side into a per-row allow flag
            # (narrow, like the tombstone flag — keeps the shard
            # partitioning, search stays zero-shuffle); NULL predicate
            # results mean "filtered out", matching WHERE semantics
            g = g.withColumn(ALLOWED_COL, F.coalesce(flt.cast("boolean"), F.lit(False)))
        cand = g.groupBy(SHARD_COL).applyInPandas(
            self._probe_udf(queries, ef, k), schema
        )
        delta = self._delta(s)
        if delta is None:
            return cand
        if flt is not None:
            delta = delta.where(flt)
        qid = F.explode(F.sequence(F.lit(0), F.lit(len(queries) - 1)))
        return cand.unionByName(delta.withColumn("query_id", qid).select(*cand.columns))

    def search(
        self,
        df: DataFrame | None,  # unused: the graph relation carries the rows
        query: Sequence[float],
        limit: int = 50,
        flt: Column | None = None,
        nprobe: int | None = None,  # the IVF family's knob
        ef_search: int | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        offset: int = 0,
        l2_sqrt: bool = False,
        output_fields: list[str] | None = None,
        vector_value: bool = False,
        score_col: str = "_score",
    ) -> DataFrame:
        from vearch_spark.operators import topk

        ef = max(int(ef_search or self.ef_search), limit + offset)
        # per-shard emission is limit+offset rows (enough for the exact
        # global merge), NOT ef: shipping ef full rows per shard through
        # Arrow is the transfer this module measured dominating batch
        # wall time, and a filtered probe's widening target tracks the
        # rows actually needed
        cand = self._candidates(
            [list(map(float, query))], ef, limit + offset, flt=flt
        ).drop("query_id")
        if flt is not None:
            cand = cand.where(flt)  # re-validate candidates (cheap, exact)
        # exact global merge + projection through the shared FLAT kernel
        return topk.search(
            cand,
            vector_col=self.vector_col,
            query=list(query),
            limit=limit,
            metric=self.metric,
            min_score=min_score,
            max_score=max_score,
            offset=offset,
            l2_sqrt=l2_sqrt,
            id_col=self.id_col,
            output_fields=output_fields,
            vector_value=vector_value,
            score_col=score_col,
        )

    def search_batch(
        self,
        queries: Sequence[Sequence[float]],
        limit: int = 50,
        flt: Column | None = None,
        nprobe: int | None = None,  # the IVF family's knob
        ef_search: int | None = None,
        l2_sqrt: bool = False,
        score_col: str = "_score",
    ) -> DataFrame:
        """Batched queries: the whole batch rides ONE pass over the
        graph relation (each shard task answers every query), then a
        per-query rank window on the tiny candidate set. Scores are
        recomputed JVM-side for exact parity with the FLAT kernel."""
        from vearch_spark.operators import topk

        ef = max(int(ef_search or self.ef_search), limit)
        qlist = [list(map(float, q)) for q in queries]
        cand = self._candidates(qlist, ef, limit, flt=flt)
        if flt is not None:
            cand = cand.where(flt)  # re-validate candidates (cheap, exact)
        spark = cand.sparkSession
        qdf = spark.createDataFrame(
            [(i, q) for i, q in enumerate(qlist)],
            "query_id int, query_vec array<double>",
        )
        m, score = topk._score(
            self.vector_col, F.col("query_vec"), self.metric, l2_sqrt, False
        )
        scored = cand.join(F.broadcast(qdf), on="query_id").withColumn(score_col, score)
        return topk._top_per_key(
            scored, "query_id", m, score_col, self.id_col, limit
        ).select("query_id", self.id_col, score_col)

    # ------------------------------------------------------------- io

    #: what a dump stores besides ``_params()`` (no arrays: the graph
    #: lives in its relation); ``nshards`` is the fitted shard count
    #: writes route by, and ``_columns`` restores the column order
    #: parquet loses (partition columns read back last)
    _arrays: tuple[str, ...] = ()
    _fitted = ("nshards", "_out_schema", "_base_schema", "_columns")

    def _params(self) -> dict:
        """The constructor keywords as given: ``nshards`` stays None
        for an auto-sized index, so a loaded one still re-sizes on
        refit."""
        return {
            "vector_col": self.vector_col,
            "metric": self.metric.value,
            "nlinks": self.nlinks,
            "efConstruction": self.ef_construction,
            "efSearch": self.ef_search,
            "nshards": None if self._auto_shards else self.nshards,
            "shard_max_rows": self.shard_max_rows,
            "id_col": self.id_col,
        }

    def save(self, path: str) -> None:
        """Dump in the layout ``IVFFlatIndex.save`` documents, with the
        graph relation written ``partitionBy(_shard)`` under ``graph/``,
        so a fold on a loaded index reads only touched shard
        directories."""
        from vearch_spark import persist

        persist.save_index(self, path, "graph", SHARD_COL)

    @classmethod
    def load(cls, spark, path: str) -> "HNSWIndex":
        from vearch_spark import persist

        idx, g = persist.load_index(cls, spark, path, "graph")
        idx._reset(
            g.select(*[F.col(c) for c in idx._columns])
            .withColumn(SHARD_COL, F.col(SHARD_COL).cast("int"))
            .repartition(F.col(SHARD_COL))
            .persist()
        )
        return idx
